package graft

/** Dev tool: print formatted physical plans for registered queries —
  * the plan-audit loop (PushedFilters reaching scans, pruned ReadSchema,
  * broadcast joins on dimension sides, WholeStageCodegen spans).
  *
  * Usage: sbt "runMain graft.Explain [queryName...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Runner.session("local[4]", "4")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_scan_project", "q_join_lookup", "q_dedup_simhash", "q_ann_lsh")
    names.foreach { n =>
      println(s"==== $n ====")
      SparkEntry.queries.get(n) match {
        case Some(fn) => fn(spark, sfDir).explain("formatted")
        case None =>
          // a typo'd name after full session startup deserves better
          // than a bare key-not-found
          val close = SparkEntry.queries.keys.filter(_.contains(n.stripPrefix("q_"))).toSeq.sorted
          System.err.println(s"unknown query '$n'" +
            (if (close.nonEmpty) s"; did you mean: ${close.mkString(", ")}?"
             else s"; known queries: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      }
    }
    spark.stop()
  }
}
