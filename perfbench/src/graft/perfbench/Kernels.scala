package graft.perfbench

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Kernel microbench: ns per input row of each native kernel on a batch
  * generated from the run's seed. Each kernel is called by the SQL name
  * the session extension registers, which is the expression the
  * operators' column builders emit when the extension is installed, so
  * only the native path is measured (the plan is checked for the kernel).
  * A kernel's cost is its projection's fastest drain minus the fastest
  * drain of a cheap projection over the same input columns, per row.
  * Each input row is repeated by a per-kernel factor, so that a drain
  * does some 20 to 40 us of kernel work per input row whatever the kernel
  * costs: a cheap kernel is then not lost in the drain-to-drain noise. A
  * kernel whose difference is within the spread of its baseline's drains
  * is reported as unresolved in the record. */
object Kernels {
  val Rows = 20000
  val Dim = 64
  private val PqM = 8
  private val PqK = 16
  private val Reps = 2

  /** One kernel's measurement: ns per (repeated) row, the spread of the
    * baseline drains in the same unit, and the rows a drain processed. */
  final case class Result(kernel: String, nsPerRow: Double, noiseNsPerRow: Double, rows: Long) {
    def resolved: Boolean = !nsPerRow.isNaN && nsPerRow > noiseNsPerRow
  }

  private val vocab = Seq("data", "batch", "spark", "table", "join", "window", "merge",
    "row", "value", "query", "stream", "filter", "hash", "sort", "the", "a", "of",
    "über", "naïve", "façade", "日本語", "données", "größe", "ñandú", "😀")

  /** Seeded text: ordinary rows, plus null, empty and very long rows. */
  private def texts(rnd: Random): Seq[String] = (0 until Rows).map { i =>
    i % 50 match {
      case 0 => null
      case 1 => ""
      case 2 => Seq.fill(2000)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      case _ => Seq.fill(10 + rnd.nextInt(60))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
  }

  private def vec(rnd: Random): Seq[Float] = Seq.fill(Dim)(rnd.nextGaussian().toFloat)

  def run(ctx: Ctx): Seq[Result] = {
    val spark = ctx.spark
    val rnd = new Random(ctx.args.seed)
    val textRows = texts(rnd)
    val vecRows = (0 until Rows).map(i => if (i % 50 == 0) null else vec(rnd))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("g", IntegerType),
      StructField("text", StringType), StructField("emb", ArrayType(FloatType)),
      StructField("q", ArrayType(FloatType)), StructField("score", DoubleType)))
    val rows = (0 until Rows).map(i => Row(i.toLong, i % 16, textRows(i), vecRows(i),
      vec(rnd), rnd.nextDouble()))
    val codebook: Seq[Seq[Seq[Double]]] =
      Seq.fill(PqM)(Seq.fill(PqK)(Seq.fill(Dim / PqM)(rnd.nextGaussian())))
    val centroids: Seq[(Int, Seq[Double], Double)] = (0 until 16).map { i =>
      val c = Seq.fill(Dim)(rnd.nextGaussian())
      (i, c, math.sqrt(c.map(x => x * x).sum))
    }
    val merges: Seq[Seq[String]] = Seq(Seq("t", "h"), Seq("th", "e"), Seq("a", "t"),
      Seq("e", "r"), Seq("i", "n"), Seq("o", "n"), Seq("ü", "b"), Seq("d", "a"))
    // the batch lands in parquet once, with every kernel input precomputed,
    // so each timed drain reads the same columns from the same files
    val path = ctx.work("kernels") + "/batch"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, Main.nproc), schema)
      .withColumn("words", split(col("text"), " "))
      .withColumn("nrm", sqrt(aggregate(col("emb"), lit(0.0),
        (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType))))
      .withColumn("code", transform(sequence(lit(0), lit(PqM - 1)),
        m => pmod(col("id") + m, lit(PqK)).cast(IntegerType)))
      .withColumn("lut", call_function("graft_pq_lut", col("q"), typedLit(codebook)))
      .write.parquet(path)
    val stored = spark.read.parquet(path)
    val bloomBytes: Array[Byte] = stored
      .agg(call_function("graft_bloom", col("text"), lit(1 << 16), lit(4)).as("f"))
      .head().getAs[Array[Byte]](0)

    // each case: (kernel, expected expression class, row repeat, kernel
    // frame, baseline frame); the baseline reads the same columns into a
    // cheap scalar. The repeat is 20 to 40 us over the kernel's cost per
    // row on a 4-CPU host, a power of two, at most 128.
    def repeated(times: Int): DataFrame =
      stored.withColumn("rep", explode(sequence(lit(1), lit(times))))
    def proj(times: Int, k: Column, base: Column): (Int, DataFrame, DataFrame) = {
      val in = repeated(times)
      (times, in.select(k.as("out")), in.select(base.as("out")))
    }
    def agg(times: Int, k: Column, arg: Column): (Int, DataFrame, DataFrame) = {
      val in = repeated(times)
      (times, in.groupBy("g").agg(k.as("out")), in.groupBy("g").agg(count(arg).as("out")))
    }
    val words = size(col("words"))
    val text = length(col("text"))
    val cases: Seq[(String, String, (Int, DataFrame, DataFrame))] = Seq(
      ("graft_dot", "DotProduct",
        proj(128, call_function("graft_dot", col("emb"), col("q")), size(col("emb")) + size(col("q")))),
      ("graft_simhash", "SimHashDoc", proj(8, call_function("graft_simhash", col("words")), words)),
      ("graft_minhash", "MinHashSigDoc", proj(2, call_function("graft_minhash", col("words")), words)),
      ("graft_norm_text", "NormTextExpr", proj(16, call_function("graft_norm_text", col("text")), text)),
      ("graft_bigrams", "BigramArray", proj(4, call_function("graft_bigrams", col("words")), words)),
      ("graft_topcount", "TopWordCount", proj(16, call_function("graft_topcount", col("words")), words)),
      ("graft_gramset", "GramSet", proj(2, call_function("graft_gramset", col("words"), lit(3)), words)),
      ("graft_bpe", "BpeEncode", proj(1, call_function("graft_bpe", col("words"), typedLit(merges)), words)),
      ("graft_deflate_len", "DeflateLen", proj(4, call_function("graft_deflate_len", col("text")), text)),
      ("graft_mg", "MgFrequentItems", agg(32, call_function("graft_mg", col("text"), lit(64)), col("text"))),
      ("graft_bloom", "BloomAgg",
        agg(64, call_function("graft_bloom", col("text"), lit(1 << 16), lit(4)), col("text"))),
      ("graft_bloom_contains", "BloomMightContain",
        proj(128, call_function("graft_bloom_contains", col("text"), lit(bloomBytes)), text)),
      ("graft_ivf_scores", "IvfScores",
        proj(16, call_function("graft_ivf_scores", col("emb"), col("nrm"), typedLit(centroids)),
          size(col("emb")) + col("nrm"))),
      ("graft_pq_encode", "PqEncode",
        proj(16, call_function("graft_pq_encode", col("emb"), typedLit(codebook)), size(col("emb")))),
      ("graft_pq_lut", "PqLut",
        proj(8, call_function("graft_pq_lut", col("q"), typedLit(codebook)), size(col("q")))),
      ("graft_pq_adc", "PqAdc",
        proj(128, call_function("graft_pq_adc", col("lut"), col("code")), size(col("lut")) + size(col("code")))),
      ("graft_topk", "TopKByScore",
        agg(64, call_function("graft_topk", col("score"), col("id"), lit(10)), col("score"))))
    require(cases.map(_._1) == Layers.Kernels, "kernel microbench must cover every registered kernel")

    def drainS(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    cases.map { case (name, cls, (times, kdf, bdf)) =>
      val tr = ctx.tracer.newTrace()
      val rows = Rows.toLong * times
      Jobs.withGroup(spark, Jobs.group("kernel", tr, name)) {
        ctx.tracer.span(name, "functions", tr) {
          try {
            require(Plans.kernelsAboveRepeat(kdf).contains(cls),
              s"$name: plan does not apply the native $cls to every repeated row")
            drainS(kdf); drainS(bdf) // warm both paths
            val pairs = (1 to Reps).map(_ => (drainS(kdf), drainS(bdf)))
            // the fastest of several drains is the one least disturbed by
            // scheduling noise
            val base = pairs.map(_._2)
            val ns = (pairs.map(_._1).min - base.min) * 1e9 / rows
            val r = Result(name, ns, (base.max - base.min) * 1e9 / rows, rows)
            Main.log(f"kernel $name: $ns%.1f ns/row over $rows rows, baseline spread " +
              f"${r.noiseNsPerRow}%.1f ns/row${if (r.resolved) "" else " (unresolved)"}")
            r
          } catch { case NonFatal(e) =>
            Main.log(s"kernel $name failed: $e")
            Result(name, Double.NaN, Double.NaN, rows)
          }
        }
      }
    }
  }
}
