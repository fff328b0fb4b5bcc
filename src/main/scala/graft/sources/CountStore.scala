package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** The one storage discipline of the engine's stored COUNT models (the
  * bigram LM, the NB quality classifier and the DSIR pool/target model
  * in [[graft.operators.TextOps]]): a model is a set of additive count
  * frames, so it is exact under append, retraction, as-of reads and
  * compaction by the same argument, written here once. A model supplies
  * only its [[CountStore.Frame]]s and ONE per-doc derivation; training,
  * appends and retractions all sum those rows, so a retraction subtracts
  * exactly what training added.
  *
  * Layout under `path`:
  *
  *  - every frame batch-partitioned by `batch_id` (bootstrap = -1,
  *    scoped batches ≥ 0): the primary frame at `path` itself, the
  *    others in underscore subdirectories (invisible to a plain read of
  *    `path`);
  *  - `_docs`: admission membership (doc_id, batch_id), which scopes the
  *    as-of corrections and answers provenance;
  *  - `_tombstones`: pending retraction corrections, one row per (doc,
  *    frame count column, key) — `(doc_id, kind, k, c)` with the key as
  *    a string (empty for a keyless frame);
  *  - `_asof_horizon`: the fold horizon ([[Stores.horizonOf]]).
  *
  * Batches must be doc-disjoint: a doc admitted under two batch ids
  * counts twice, and its retraction would subtract one copy. */
final class CountStore(name: String, trainer: String,
    frames: Seq[CountStore.Frame], derive: DataFrame => CountStore.Contributions) {
  import CountStore._

  require(frames.nonEmpty && frames.head.sub.isEmpty,
    "a count store's first frame is its primary frame, stored at the store path")

  private def at(path: String, f: Frame): String =
    if (f.sub.isEmpty) path else s"$path/${f.sub}"

  private def read(s: SparkSession, path: String, f: Frame): DataFrame =
    s.read.schema(f.schema).parquet(at(path, f))

  private def sums(f: Frame): Seq[Column] = f.key match {
    case Some(_) => f.counts.map(c => sum(c).as(c))
    case None => f.counts.map(c => coalesce(sum(c), lit(0L)).as(c))
  }

  /** `rows` summed into the frame's stored shape: one row per key, or
    * one row for a keyless frame. */
  private def total(f: Frame, rows: DataFrame): DataFrame = f.key match {
    case Some(k) => rows.groupBy(k).agg(sums(f).head, sums(f).tail: _*)
    case None => rows.agg(sums(f).head, sums(f).tail: _*)
  }

  /** The sidecar `kind` of one count column of one frame. */
  private def kind(f: Frame, c: String): String =
    if (f.sub.isEmpty) c else s"${f.sub}.$c"

  /** A frame's corrections from an already-`distinct()` sidecar frame:
    * per key (one row if keyless), a `neg_<count>` column per count. */
  private def corrections(f: Frame, side: DataFrame): DataFrame = {
    val negs = f.counts.map(c =>
      coalesce(sum(when(col("kind") === kind(f, c), col("c"))), lit(0L)).as("neg_" + c))
    val mine = side.filter(col("kind").isin(f.counts.map(kind(f, _)): _*))
    f.key match {
      case Some(k) => mine.groupBy(col("k").cast(f.schema(k).dataType).as(k))
        .agg(negs.head, negs.tail: _*)
      case None => mine.agg(negs.head, negs.tail: _*)
    }
  }

  /** `summed` minus its corrections; a keyed row whose counts net to
    * zero is gone, as if never trained. */
  private def minus(f: Frame, summed: DataFrame, corr: DataFrame): DataFrame = {
    val net = f.counts.map(c => (col(c) - coalesce(col("neg_" + c), lit(0L))).as(c))
    f.key match {
      case Some(k) => summed.join(corr, Seq(k), "left").select(col(k) +: net: _*)
        .filter(f.counts.map(col).reduce(_ + _) > 0)
      case None => summed.crossJoin(corr).select(net: _*)
    }
  }

  private def pending(s: SparkSession, path: String): DataFrame =
    s.read.parquet(Stores.tombstonePath(path)).distinct()

  /** Train-once bootstrap: every frame and `_docs` as batch -1, in one
    * crash-safe swap ([[Stores.overwriteAside]]). An empty `docs` is a
    * legal (empty) model; the scorers refuse it. */
  def write(s: SparkSession, docs: DataFrame, path: String): Unit = {
    val c = derive(docs)
    try Stores.overwriteAside(s, path) { tmp =>
      frames.zip(c.rows).foreach { case (f, rows) =>
        total(f, rows).withColumn("batch_id", lit(-1L))
          .coalesce(1).write.partitionBy("batch_id").parquet(at(tmp, f))
      }
      c.members.withColumn("batch_id", lit(-1L))
        .coalesce(1).write.partitionBy("batch_id").parquet(tmp + "/_docs")
    } finally c.release()
  }

  /** Grow the model by one scoped batch: each frame's and `_docs`'
    * `batchId` partition is a dynamic overwrite, so a replayed batch
    * rewrites itself, and counts sum at load, so the model is exact at
    * any append depth. */
  def append(s: SparkSession, docs: DataFrame, path: String, batchId: Long): Unit =
      StoreLock.withLock(path, "append") {
    require(batchId >= 0, "scoped batch ids are non-negative (negatives are store-internal)")
    Stores.recover(s, path)
    val c = derive(docs)
    try {
      frames.zip(c.rows).foreach { case (f, rows) =>
        Sinks.overwritePartitionsDynamic(
          total(f, rows).withColumn("batch_id", lit(batchId)).coalesce(1),
          at(path, f), Seq("batch_id"))
      }
      Sinks.overwritePartitionsDynamic(
        c.members.withColumn("batch_id", lit(batchId)).coalesce(1),
        path + "/_docs", Seq("batch_id"))
    } finally c.release()
  }

  /** Retract documents: the caller supplies them VERBATIM (a count model
    * aggregates identity away, so their counts re-derive through the
    * training derivation) and their per-doc rows land as corrections in
    * the tombstone sidecar ([[Stores.retractRows]], atomic). Every
    * reader subtracts them, so the model equals a retrain on the
    * survivors at once; the final compaction fold absorbs them.
    *
    * An empty `docs` refuses; docs that derive no rows (outside the
    * model's domain, never trained) are a no-op. Replay-idempotent: a
    * replay appends identical rows and every reader's `distinct()`
    * collapses them. Before anything is written, the FUTURE correction
    * set (pending ∪ new, distinct — what readers will subtract) must be
    * covered by the stored counts in every count column, so a doc the
    * store never trained (or one retracted with different text) refuses
    * loudly; an exact replay passes, its rows being already pending. */
  def retract(s: SparkSession, path: String, docs: DataFrame): Unit = {
    Stores.recover(s, path)
    val c = derive(docs)
    // one sidecar row per (doc, key, count column); derived once, as the
    // emptiness test, the check and the write all read it
    val rows = frames.zip(c.rows).map { case (f, r) =>
      r.groupBy(col("doc_id") +: f.key.toSeq.map(col): _*).agg(sums(f).head, sums(f).tail: _*)
        .select(col("doc_id").cast(LongType).as("doc_id"),
          f.key.fold(lit(""))(k => col(k).cast("string")).as("k"),
          explode(array(f.counts.map(n =>
            struct(lit(kind(f, n)).as("kind"), col(n).as("c"))): _*)).as("kc"))
        .select(col("doc_id"), col("kc.kind").as("kind"), col("k"), col("kc.c").as("c"))
    }.reduce(_ unionByName _).filter(col("c") =!= 0L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (rows.isEmpty) {
        require(!docs.isEmpty, s"retraction from the stored $name at $path: empty retraction set")
        return
      }
      val future =
        (if (Stores.hasTombstones(s, path)) pending(s, path).unionByName(rows) else rows)
          .distinct()
      val bad = frames.map { f =>
        val fut = corrections(f, future)
        val stored = total(f, read(s, path, f))
        val short = f.counts.map(n => coalesce(col(n), lit(0L)) < col("neg_" + n)).reduce(_ || _)
        val where = if (f.sub.isEmpty) f.counts.mkString("/") else f.sub
        (f.key match {
          case Some(k) => fut.join(stored, Seq(k), "left").filter(short).select(col(k).cast("string"))
          case None => fut.crossJoin(stored).filter(short).select(lit("totals"))
        }).toDF("k").select(concat(lit(where + " '"), col("k"), lit("'")))
      }.reduce(_ union _).limit(5).collect().map(_.getString(0))
      require(bad.isEmpty,
        s"retraction from the stored $name at $path subtracts counts the store does not " +
          s"hold (e.g. ${bad.mkString(", ")}) — the docs were not trained into this store " +
          "(or were already retracted with different text)")
      Stores.retractRows(s, path, rows)
    } finally { rows.unpersist(); c.release() }
  }

  /** The admission membership (doc_id, batch_id). */
  def members(s: SparkSession, path: String): DataFrame = {
    require(Stores.pathExists(s, path + "/_docs"),
      s"stored $name at $path predates the _docs admission sidecar — its " +
        s"membership is unknown; re-train with $trainer")
    s.read.parquet(path + "/_docs")
  }

  /** The model's net frames, one per [[CountStore.Frame]] in order, live
    * (`asOf` = None) or as of admission batch `asOf`. Counts sum across
    * batch partitions (the as-of slice is a partition filter, pruned
    * before a row is read), then the pending corrections subtract —
    * as-of, only those of docs that were MEMBERS at `asOf`: retraction
    * erases history, but a doc admitted after `asOf` must not shrink the
    * as-of model. A compaction fold bounds the reconstructable states
    * ([[Stores.requireAsOfReconstructable]] refuses older ones). */
  def netFrames(s: SparkSession, path: String, asOf: Option[Long]): Seq[DataFrame] = {
    Stores.recover(s, path)
    asOf.foreach(Stores.requireAsOfReconstructable(s, path, _))
    def sliced(df: DataFrame): DataFrame =
      asOf.fold(df)(a => df.filter(col("batch_id").cast("long") <= a))
    val summed = frames.map(f => total(f, sliced(read(s, path, f))))
    if (!Stores.hasTombstones(s, path)) summed
    else {
      val side = asOf.fold(pending(s, path))(_ => pending(s, path)
        .join(sliced(members(s, path)).select("doc_id"), Seq("doc_id"), "left_semi"))
      frames.zip(summed).map { case (f, sm) => minus(f, sm, corrections(f, side)) }
    }
  }

  /** The primary frame as stored; a never-written path reads as 0 rows
    * (the maintenance module's post-compaction count). */
  def storedCounts(s: SparkSession, path: String): DataFrame =
    if (Stores.pathExists(s, path)) read(s, path, frames.head)
    else s.createDataFrame(s.sparkContext.emptyRDD[Row], frames.head.schema)

  /** Compact: batch partitions below the caller's replay watermark fold
    * into the bootstrap in every frame and in `_docs` — counts sum, so
    * the fold moves no score — in one crash-safe swap
    * ([[Stores.compactInPlace]]) that also records the as-of horizon,
    * capped at (highest folded batch + 1) so a watermark far above the
    * store's batches keeps the states it left reconstructable.
    *
    * Pending corrections are corpus-total subtractions, attributable to
    * no batch while a replay-protected batch (≥ `foldBelow`) remains — a
    * replay could re-insert the retracted docs' counts. So the sidecar
    * rides through the swap, and only the FINAL fold (nothing left to
    * replay) subtracts the corrections, drops the retracted docs from
    * `_docs` and omits the sidecar: purge and tombstone clearance in one
    * atomic swap. A no-op when nothing folds and nothing is pending. */
  def compact(s: SparkSession, path: String, foldBelow: Long): Unit =
      StoreLock.withLock(path, "compact") {
    // a negative watermark would empty the folded branch while the
    // absorption still rewrote the other frames and membership
    require(foldBelow >= 0, s"compacting the stored $name at $path: foldBelow must be >= 0, got $foldBelow")
    Stores.recover(s, path)
    Stores.clearResidue(s, path)
    val batches = (frames.map(at(path, _)) :+ (path + "/_docs")).flatMap(batchIdDirs(s, _))
    val tombstoned = Stores.hasTombstones(s, path)
    if (batches.isEmpty) {
      // absent (no-op) or foreign: returning on a foreign store with
      // pending retractions would strand them forever
      require(!tombstoned, s"stored $name at $path has no batch-scoped layout but " +
        s"carries pending retractions — re-train with $trainer before compacting")
      return
    }
    val folded = batches.filter(b => b >= 0 && b < foldBelow)
    if (folded.isEmpty && !tombstoned) return
    val absorb = tombstoned && !batches.exists(_ >= foldBelow)
    def fold(f: Frame, df0: DataFrame): DataFrame = {
      val df = df0.withColumn("batch_id", col("batch_id").cast("long"))
      val below = total(f, df.filter(col("batch_id") < foldBelow))
      (if (absorb) minus(f, below, corrections(f, pending(s, path))) else below)
        .withColumn("batch_id", lit(-1L))
        .unionByName(df.filter(col("batch_id") >= foldBelow))
    }
    Stores.compactInPlace(s, path, Some(frames.head.schema))(fold(frames.head, _)) { (df, tmp) =>
      df.coalesce(1).write.partitionBy("batch_id").parquet(tmp)
      frames.tail.foreach(f => fold(f, read(s, path, f))
        .coalesce(1).write.partitionBy("batch_id").parquet(at(tmp, f)))
      foldDocsInto(s, path, tmp, foldBelow, dropTombstoned = absorb)
      if (!absorb) Stores.carryTombstonesInto(s, path, tmp)
      Stores.writeHorizonInto(s, path, tmp,
        math.min(foldBelow, folded.maxOption.map(_ + 1L).getOrElse(0L)))
    }
  }
}

object CountStore {

  /** One count frame of a model: stored at `path/sub` (`sub` empty for
    * the primary frame at `path`), rows keyed by `key` — or one row per
    * batch when `key` is None — carrying the additive `counts`. `schema`
    * pins every read, so a fileless partition (a batch that produced no
    * row) reads as empty instead of failing schema inference. */
  final case class Frame(sub: String, key: Option[String], counts: Seq[String],
      schema: StructType)

  /** One derivation's output: per frame, `(doc_id, key, counts…)` rows
    * whose sums by key are the frame's counts (a doc may contribute
    * several rows per key), the admitted doc ids, and `release` for
    * anything the derivation cached. */
  final case class Contributions(rows: Seq[DataFrame], members: DataFrame,
      release: () => Unit = () => ())

  /** A store's first-level `batch_id=B` partitions, from a listing alone
    * (no file footer touched; a missing path reads as none). */
  private def batchIdDirs(s: SparkSession, path: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch_id=")).map(_.stripPrefix("batch_id=").toLong)
  }

  /** Fold `_docs` into a compaction's temp dir: batches below
    * `foldBelow` become bootstrap rows, and at the final fold
    * (`dropTombstoned`) the retracted docs' rows go in the swap that
    * purges their corrections. A store without `_docs` has none to
    * fold (its as-of reads refuse in [[CountStore.members]]). */
  private def foldDocsInto(s: SparkSession, path: String, tmp: String,
      foldBelow: Long, dropTombstoned: Boolean): Unit = {
    if (!Stores.pathExists(s, path + "/_docs")) return
    val dm0 = s.read.parquet(path + "/_docs").withColumn("batch_id", col("batch_id").cast("long"))
    val dm = if (dropTombstoned) Stores.minusTombstones(s, path, "doc_id", dm0) else dm0
    dm.filter(col("batch_id") < foldBelow).withColumn("batch_id", lit(-1L))
      .unionByName(dm.filter(col("batch_id") >= foldBelow))
      .coalesce(1).write.partitionBy("batch_id").parquet(tmp + "/_docs")
  }
}
