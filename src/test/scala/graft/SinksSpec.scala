package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ScalarLib
import graft.sources.{Sinks, Tables}

/** Write-side behavior: bucketed co-location eliminates the join shuffle,
  * and the SQL-callable scalar surface answers from plain spark.sql. */
class SinksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("co-bucketed tables join with no shuffle exchange") {
    val orders = Tables.orders(spark, TestSpark.sfDir)
    val customer = Tables.customer(spark, TestSpark.sfDir)
    Sinks.saveBucketed(orders.select("o_orderkey", "o_custkey", "o_totalprice"),
      "b_orders", Seq("o_custkey"), 4)
    Sinks.saveBucketed(customer.select("c_custkey", "c_name"),
      "b_customer", Seq("c_custkey"), 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the plan must choose sort-merge — which the
      // bucketing then plans WITHOUT exchanges
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must be shuffle-free, got:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("partitioned writes prune partitions on the filter key") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString + "/events"
    Sinks.overwritePartitioned(
      Tables.events(spark, TestSpark.sfDir).select("event_id", "user_id", "event_type"),
      dir, Seq("event_type"))
    val filtered = spark.read.parquet(dir).filter(col("event_type") === "click")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"),
      s"filter on the partition column must prune at planning time:\n$plan")
    val all = spark.read.parquet(dir).count()
    assert(filtered.count() > 0 && filtered.count() < all)
  }

  test("SQL-callable scalar surface matches the library semantics") {
    ScalarLib.registerAll(spark)
    val r = spark.sql(
      """SELECT func_string_to_number('12abc') AS a,
        |       func_atol('  7x ') AS b,
        |       func_check_date('05-Aug-2026') AS c0,
        |       func_check_date('bogus date!') AS c2,
        |       func_datediff(0L, 3723L) AS hms,
        |       func_field_counter('a,b,c', ',') AS nf,
        |       func_get_nth_field('a,b,c', ',', 2) AS f2
        |""".stripMargin).collect()(0)
    assert(r.getAs[Long]("a") === 12L)
    assert(r.getAs[Long]("b") === 7L)
    assert(r.getAs[Int]("c0") === 0)
    assert(r.getAs[Int]("c2") === 2)
    assert(r.getAs[String]("hms") === "1:2:3")
    // reference DEFAULT semantics (par_unterminated=FALSE): 'a,b,c' has
    // 2 delimiter-bounded fields and no 3rd field
    assert(r.getAs[Int]("nf") === 2)
    assert(r.getAs[String]("f2") === "b")
    val oor = spark.sql("SELECT func_get_nth_field('a,b,c', ',', 3) AS f3").collect()(0)
    assert(oor.isNullAt(0), "no 3rd delimiter under the reference default → NULL")
    // NULL-in/NULL-out, never an exception (Oracle scalar semantics)
    val nulls = spark.sql(
      """SELECT func_field_counter(NULL, ',') AS a,
        |       func_get_nth_field(NULL, ',', 1) AS b,
        |       func_field_counter('a,b', '') AS c""".stripMargin).collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1) && nulls.isNullAt(2))
  }

  test("CSV reject split: malformed lines land on the bad side verbatim; pruning caveat holds") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-csvrej").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part.csv"),
      ("1|en|10\n" +          // good
        "4|de|notanumber\n" + // type failure in field 3
        "5|fr\n" +            // missing field
        "7|fr|22\n").getBytes)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, lang STRING, n_chars BIGINT")
    val (good, bad) = graft.sources.Sinks.readCsvWithRejects(spark, dir, schema, sep = "|")
    assert(good.orderBy("doc_id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq((1L, "en", 10L), (7L, "fr", 22L)))
    // the BAD side keeps the parsed prefix AND the verbatim line — the
    // .bad-file contract: operators re-feed it after fixing the producer
    val badRows = bad.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[String]("_corrupt_record"))).toSeq
    assert(badRows === Seq((4L, "4|de|notanumber"), (5L, "5|fr")))
    // the documented pruning caveat, pinned as BEHAVIOR: a plan that
    // never references n_chars never parses past field 2, so BOTH
    // corruption classes — the field-3 type failure AND the missing
    // third field — go undetected and every line drifts to the good
    // side. This is why qCsvLoad references every schema column.
    val prunedGood = good.select("doc_id", "lang").orderBy("doc_id").collect()
      .map(_.getLong(0)).toSeq
    assert(prunedGood === Seq(1L, 4L, 5L, 7L),
      "column pruning must leave field-3 corruption undetected — the caveat readCsvWithRejects documents")
  }
}
