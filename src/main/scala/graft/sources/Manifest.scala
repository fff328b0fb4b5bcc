package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data skipping: a per-file min/max statistics manifest
  * (the Iceberg/Delta manifest idea, built from public parquet
  * primitives) plus Z-order layout so multi-column predicates prune.
  *
  * Partition-directory pruning (Sinks.overwritePartitioned) skips whole
  * directories but only on the partition key, and high-cardinality keys
  * over-partition (the small-files problem). The manifest generalizes it:
  * ANY orderable column can carry per-FILE min/max stats, and a range
  * predicate reads only the files whose interval intersects — at 100 TB
  * the manifest is the difference between listing a few hundred file
  * statuses (control-plane) and scanning every footer of a
  * million-file table just to discard most row groups.
  *
  * Soundness: min/max ignore NULLs, and a pruned read only ever serves
  * range predicates (`col BETWEEN lo AND hi`), which NULL rows never
  * satisfy — so skipping a file whose stats are NULL (all-NULL column)
  * or outside the range can never drop a qualifying row. The residual
  * filter always re-applies the exact predicate, so a too-wide file
  * interval costs I/O, never correctness (q_manifest_prune /
  * q_zorder_prune share their oracles with plain filtered scans —
  * pruning must be answer-invisible).
  *
  * Z-order: interleaving the bits of N columns into one sort key makes
  * files tight on EVERY interleaved column at once (a lexicographic sort
  * is tight only on its leading column) — the standard multi-dimensional
  * clustering remedy, so one layout serves range predicates on any of
  * the Z columns (ManifestSpec measures both-column pruning).
  */
object Manifest {

  private def manifestPath(path: String): String = path + "/_manifest"

  /** Rebuild `path`'s manifest for `statsCols`: one row per data file
    * with `<col>_min`/`<col>_max` per stats column. Underscore-prefixed,
    * so plain reads of `path` never see it. One scan of the just-written
    * files, grouped by file — the write-side cost of every later pruned
    * read. */
  def buildManifest(s: SparkSession, path: String, statsCols: Seq[String]): Unit = {
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(c + "_min"), max(col(c)).as(c + "_max")))
    s.read.parquet(path).groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1) // manifests are file-count-sized: one footer to read
      .write.mode("overwrite").parquet(manifestPath(path))
  }

  /** Write `df` into `numFiles` range-clustered files by `clusterCol` and
    * build the manifest over `statsCols`: range partitioning gives each
    * file a tight, nearly disjoint `clusterCol` interval — what makes the
    * manifest selective on that column. */
  def writeClustered(df: DataFrame, path: String, clusterCol: String,
      numFiles: Int, statsCols: Seq[String]): Unit = {
    df.repartitionByRange(numFiles, col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode("overwrite").parquet(path)
    buildManifest(df.sparkSession, path, statsCols)
  }

  /** The Z-value of `cols` under `bits`-bit interleaving: bit j of column
    * k lands at position `j * N + k`. Inputs must be non-negative and
    * < 2^bits (caller maps its domain; ManifestSpec pins the guard).
    * Pure bit arithmetic on longs — codegen-friendly, no UDF. */
  def zvalue(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty && cols.size * bits <= 63, "z-value must fit a signed long")
    val n = cols.size
    cols.zipWithIndex.map { case (c, k) =>
      val cl = c.cast("long")
      (0 until bits).map(j =>
        shiftleft(shiftright(cl, j).bitwiseAND(lit(1L)), j * n + k))
        .reduce[Column](_ + _)
    }.reduce[Column](_ + _)
  }

  /** Write `df` Z-ordered on `zCols` (each clamped-checked into `bits`
    * bits) and build the manifest over the same columns: one layout,
    * range-prunable on every Z column. */
  def writeZordered(df: DataFrame, path: String, zCols: Seq[String],
      bits: Int, numFiles: Int): Unit = {
    val z = zvalue(zCols.map(col), bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    buildManifest(df.sparkSession, path, zCols)
  }

  /** The data files whose `[c_min, c_max]` interval intersects
    * `[lo, hi]` — the control-plane pruning decision (one
    * file-count-sized manifest read; the collect is the file list, the
    * thing a driver must hold to schedule the scan anyway). Files with
    * NULL stats (all-NULL column) hold no row a range predicate can
    * match, so the null-rejecting comparison pruning them is sound.
    * Files the manifest does not cover (data appended to `path` after
    * the last [[buildManifest]], or a writer that crashed before
    * rebuilding it) are included UNCONDITIONALLY: no stats means no
    * license to skip. */
  def prunedFiles(s: SparkSession, path: String, c: String, lo: Any, hi: Any): Seq[String] = {
    // ONE manifest job: collect (file, selected?) together — a separate
    // all-files collect would double the control-plane jobs on the hot
    // read path the manifest exists to make cheap
    val rows = s.read.parquet(manifestPath(path))
      .select(col("file"),
        (col(c + "_min") <= lit(hi) && col(c + "_max") >= lit(lo)).as("sel"))
      .collect()
    val selected = rows.filter(r => !r.isNullAt(1) && r.getBoolean(1)).map(_.getString(0))
    val known = rows.map(_.getString(0)).toSet
    val unmanifested = s.read.parquet(path).inputFiles.filterNot(known)
    selected.toSeq ++ unmanifested
  }

  /** `SELECT * FROM path WHERE c BETWEEN lo AND hi`, reading only the
    * manifest-surviving files. The exact predicate re-applies after the
    * skip (files straddle range edges), so the result is identical to an
    * unpruned filtered scan — ManifestSpec asserts equality AND that the
    * pruned scan touched a strict subset of files. */
  def readPruned(s: SparkSession, path: String, c: String, lo: Any, hi: Any): DataFrame = {
    val files = prunedFiles(s, path, c, lo, hi)
    val base =
      if (files.isEmpty)
        // empty file list: keep the store's schema, serve zero rows
        s.read.parquet(path).filter(lit(false))
      else s.read.parquet(files: _*)
    base.filter(col(c).between(lit(lo), lit(hi)))
  }
}
