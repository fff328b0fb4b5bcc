package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Runner.session(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    // Dev-only subsetting for local iteration (tools/selfcheck.py): the
    // driver never sets this, so its runs always dump every query.
    val only = Runner.only("GRAFT_VERIFY_ONLY")
    val selected = only.fold(SparkEntry.queries)(ks => SparkEntry.queries.filter(kv => ks(kv._1)))
    selected.foreach { case (name, fn) =>
      // X5 observability (body:486-487, 1253-1266): every job carries the
      // query it belongs to as job group; the dump has no row count to report
      val r = Runner.timed(spark, name, s"graft verify: $name") {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); 0L
      }
      if (!r.ok) System.err.println(s"[verify] $name failed: ${r.error}")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Full oracle map: static SQL replays + the differential expected
    // parquet (written to a SIBLING of outDir — `<outDir>_expected` — so
    // it outlives this JVM for the driver's DuckDB pass WITHOUT appearing
    // inside the query dump dir: the driver treats every outDir
    // subdirectory as a query dump, and an in-dir `_expected` produced a
    // permanent `"err": "no_oracle"` pseudo-row in CORRECTNESS_r12).
    // A failed expected-generation falls back
    // to the static map — the differential queries drop to rows-only
    // checks (every writeAll key), which beats a zeroed round.
    // A dev-subset run (GRAFT_VERIFY_ONLY) whose queries all have static
    // SQL oracles skips expected-generation entirely — writeAll collects
    // both tables and trains every model, minutes of work for oracles of
    // queries that were never dumped. Driver runs (no subset) always
    // generate.
    val needsExpected = only.isEmpty ||
      selected.keys.exists(k => !SparkEntry.oracleSql.contains(k))
    val oracles =
      if (!needsExpected) SparkEntry.oracleSql
      else try SparkEntry.oracleSqlFor(spark, sfDir,
        new java.io.File(new java.io.File(outDir).getAbsolutePath + "_expected").getAbsolutePath)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] expected-oracle generation failed: $e")
        SparkEntry.oracleSql
      }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
