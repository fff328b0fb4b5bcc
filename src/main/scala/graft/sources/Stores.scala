package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe in-place rewrite for on-disk store directories (the dedup
  * signature store, the ANN index): Spark cannot overwrite a path it is
  * reading, so compaction writes aside and swaps — temp-write →
  * backup-move → swap-in, the state layer's pattern. A crash leaves
  * either the original or the `.bak` that [[recover]] restores; callers
  * run [[recover]] on EVERY store access, because a writer that
  * recreated a missing live dir before the next compaction would
  * otherwise turn the backup into deletable "stale" state and lose the
  * pre-crash content. All paths speak Hadoop FS (local, HDFS, object
  * store) — java.nio would silently no-op off the local machine.
  */
object Stores {

  private def fsOf(s: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Hadoop rename reports failure as `false`, not an exception — a
    * silent false mid-swap would corrupt the store, so every move in
    * the protocol is checked. */
  private def mv(fs: org.apache.hadoop.fs.FileSystem,
      from: org.apache.hadoop.fs.Path, to: org.apache.hadoop.fs.Path): Unit =
    require(fs.rename(from, to), s"store rewrite failed moving $from -> $to")

  /** Restore a store whose compaction crashed between backup-move and
    * swap-in (live dir missing, full content in `.bak`). A lost race
    * against a concurrent accessor's restore is benign — the rename
    * fails but the live dir exists, which is the outcome we wanted. */
  def recover(s: SparkSession, path: String): Unit = {
    val fs = fsOf(s, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val bak = new org.apache.hadoop.fs.Path(path + ".bak")
    if (!fs.exists(p) && fs.exists(bak)) {
      val ok = fs.rename(bak, p)
      require(ok || fs.exists(p), s"store recovery failed restoring $bak -> $p")
    }
  }

  /** Delete the residue a crashed compaction can leave NEXT TO a live
    * store: a `.bak` from a crash after swap-in but before backup
    * cleanup, and a full `.compact` from a crash before the swap. Only
    * safe when the live dir exists — a stale `.bak` beside a live store
    * is pre-compaction content that [[recover]] would wrongly restore if
    * the live dir were ever lost — so callers run [[recover]] FIRST and
    * this no-ops when the live dir is missing (the `.bak` is then the
    * only copy). Shared by [[compactInPlace]] and the pristine fast
    * paths that skip it: skipping the rewrite must not also skip the
    * healing. */
  def clearResidue(s: SparkSession, path: String): Unit = {
    val fs = fsOf(s, path)
    if (fs.exists(new org.apache.hadoop.fs.Path(path))) {
      fs.delete(new org.apache.hadoop.fs.Path(path + ".bak"), true)
      fs.delete(new org.apache.hadoop.fs.Path(path + ".compact"), true)
    }
  }

  /** The store's second-level partition directory names, from a listing
    * alone (no file footers touched): e.g. the `batch_id=B` dirs under
    * `shard=S/` or `bucket=B/`. Both partitioned stores key their batch
    * scoping on this level, so "does this store need a compaction fold"
    * and "is this store pristine" are answerable for the cost of two
    * directory listings. */
  /** Does `path` hold any VISIBLE data? Spark's FileIndex visibility
    * rule in one place: underscore/dot entries (sidecars, staging
    * residue from a crashed first write) are not data, so a dir of
    * pure residue reads as ABSENT — the shape both the ingest guard
    * and the maintenance readback need, kept here so a future fix to
    * the rule cannot silently miss one of them. */
  def hasVisibleData(s: SparkSession, path: String): Boolean = {
    val fs = fsOf(s, path)
    val p = new org.apache.hadoop.fs.Path(path)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Hadoop-FS existence through the same path resolution the rest of
    * this object uses — callers must not re-inline the fsOf plumbing. */
  def pathExists(s: SparkSession, path: String): Boolean =
    fsOf(s, path).exists(new org.apache.hadoop.fs.Path(path))

  def subPartitionDirs(s: SparkSession, path: String): Set[String] = {
    val fs = fsOf(s, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).filter(_.isDirectory)
      .flatMap(d => fs.listStatus(d.getPath)).filter(_.isDirectory)
      .map(_.getPath.getName).toSet
  }

  /** Bootstrap-overwrite `path` with the crash-safe swap: `write`
    * produces the FULL store layout (every artifact, e.g. corpus dirs
    * plus a `_centroids` sidecar) into a temp location, which then
    * swaps in atomically-enough. A plain `mode("overwrite")` write
    * would clear the live dir before producing the new artifacts — a
    * crash between two artifacts leaves a live-looking store missing
    * one of them (the IVF index's sidecar), which nothing can heal.
    * With the aside shape every crash point leaves either the old
    * store, the old store restorable via [[recover]], or the new store
    * complete; stale temp/backup residue clears on the next write or
    * compaction. */
  def overwriteAside(s: SparkSession, path: String)(write: String => Unit): Unit =
    StoreLock.withLock(path, "bootstrap") {
      recover(s, path)
      val fs = fsOf(s, path)
      val p = new org.apache.hadoop.fs.Path(path)
      val tmp = new org.apache.hadoop.fs.Path(path + ".compact")
      val bak = new org.apache.hadoop.fs.Path(path + ".bak")
      // the bootstrap owns the temp location outright (a crashed earlier
      // write's partial content must not merge into this one), and a
      // stale .bak beside the about-to-be-replaced live dir is
      // pre-compaction content recover() would wrongly restore later
      fs.delete(tmp, true)
      if (fs.exists(p)) fs.delete(bak, true)
      write(tmp.toString)
      if (fs.exists(p)) mv(fs, p, bak) // crash after this → recover() restores
      mv(fs, tmp, p)
      fs.delete(bak, true)
    }

  /** Rewrite `path` as `write(transform(read))` with the crash-safe
    * swap. No-op when the store does not exist. `write` receives the
    * TEMP location and must produce the store's canonical layout. */
  def compactInPlace(s: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None)(
      transform: DataFrame => DataFrame)(
      write: (DataFrame, String) => Unit): Unit =
    StoreLock.withLock(path, "compact") {
      recover(s, path)
      val fs = fsOf(s, path)
      val p = new org.apache.hadoop.fs.Path(path)
      if (fs.exists(p)) {
        val tmp = new org.apache.hadoop.fs.Path(path + ".compact")
        val bak = new org.apache.hadoop.fs.Path(path + ".bak")
        // a crashed prior run can leave a full .compact behind; under a
        // session-wide dynamic partitionOverwriteMode the write below would
        // only replace the partitions it produces, swapping the stale rest
        // into the live store — and a stale .bak is pre-compaction content
        // recover() would wrongly restore after a live-dir loss. Clear both
        // up front (live dir exists here, so this is the safe case).
        clearResidue(s, path)
        // callers whose primary frame can be legitimately EMPTY (a model
        // store whose corpus never produced a count row writes partition
        // dirs with no files) pass the schema explicitly — a schema-less
        // read of a fileless layout dies on inference instead of folding
        val df0 = schema.map(sc => s.read.schema(sc).parquet(path))
          .getOrElse(s.read.parquet(path))
        write(transform(df0), tmp.toString)
        mv(fs, p, bak)          // crash here → recover() restores
        mv(fs, tmp, p)
        fs.delete(bak, true)
      }
    }

  // ---- tombstone sidecar (logical deletes) --------------------------------

  /** Sidecar location for a store's pending retractions. The underscore
    * prefix keeps it invisible to the store's own `read.parquet(path)`
    * (Spark's FileIndex skips underscore-prefixed entries — the
    * `_bloom.bin` trick). Protocol, shared by every tombstoning store
    * (signature store, IVF/LSH vector indexes, posting store):
    * [[retractIds]]/[[retractRows]] land id rows here atomically (one
    * writer, like every store mutation); EVERY reader subtracts them via
    * [[minusTombstones]]. Compaction purges tombstoned rows from the
    * partitions it FOLDS, but while any batch-SCOPED partition the
    * store's replay contract still protects remains, the sidecar must
    * ride through the swap ([[carryTombstonesInto]]) — an at-least-once
    * replay of such a batch re-inserts its rows verbatim, and only a
    * surviving tombstone keeps a re-inserted retracted row invisible.
    * Once a compaction leaves no replayable partitions, it omits the
    * sidecar from the temp dir and the [[compactInPlace]] swap clears
    * it atomically with the purge — the delete-then-vacuum shape of the
    * transactional formats, replay-safe. */
  def tombstonePath(path: String): String = path + "/_tombstones"

  /** Memo for [[hasTombstones]] keyed by store path → (sidecar-dir
    * mtime, verdict). Every store read (gate, probe, compaction) asks
    * "any pending retractions?" first, and for the overwhelmingly common
    * store that never sees a retraction that question was a directory
    * listing per read on the hot path. The sidecar dir's mtime advances
    * whenever a retraction file is renamed in or purged (rename into a
    * directory updates its mtime on both POSIX and HDFS), so a cached
    * verdict is valid while the mtime is unchanged; the absent
    * case costs one getFileStatus (the same single RPC the old exists()
    * already paid) and same-JVM writers invalidate explicitly.
    *
    * mtime alone is NOT sufficient for cross-process writers: with
    * coarse filesystem timestamps another JVM can rename a tombstone in
    * within the same mtime tick this JVM cached a `false` verdict, and
    * nothing would ever invalidate it — retracted docs would keep
    * surfacing in this reader's gates forever. So `false` verdicts
    * (the correctness-bearing direction) additionally carry a short TTL
    * and are re-listed once it lapses; `true` verdicts stay mtime-keyed
    * indefinitely (files are only ever REMOVED by a compaction swap,
    * which replaces the sidecar dir and therefore moves its mtime —
    * and a transiently stale `true` merely costs one extra sidecar
    * read, never a missed retraction). */
  private val tombstoneVerdicts =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Boolean, Long)]()

  /** How long a cached "no pending retractions" answer may outlive its
    * listing before being re-verified (guards the same-mtime-tick
    * cross-process insert described on [[tombstoneVerdicts]]).
    *
    * THE RETRACTION VISIBILITY CONTRACT, multi-JVM: within the SAME
    * JVM, [[retractRows]] invalidates the cache so a retraction is
    * visible to the next read immediately. ACROSS JVMs there is a
    * bounded staleness window of up to this TTL — another driver's
    * retraction landing within the same coarse mtime tick as this
    * JVM's cached `false` verdict stays invisible here until the TTL
    * lapses and the sidecar is re-listed. Deployments whose readers
    * must observe cross-process retractions faster (or that prefer a
    * listing per read) tune it via
    * `-Dgraft.tombstone.falseVerdictTtlMs=<ms>` (0 = re-list every
    * read); `true` verdicts are unaffected (they are mtime-keyed and
    * can only go stale toward an extra read, never a missed
    * retraction). */
  private[graft] val falseVerdictTtlMs: Long =
    // toLongOption + a named failure: a malformed value must surface as
    // "this property, this value", not as an ExceptionInInitializerError
    // that poisons every later use of the object
    sys.props.get("graft.tombstone.falseVerdictTtlMs")
      .map(v => v.trim.toLongOption.getOrElse(sys.error(
        s"graft.tombstone.falseVerdictTtlMs must be a long, got '$v'")))
      .getOrElse(2000L)

  private[graft] def invalidateTombstoneCache(path: String): Unit =
    tombstoneVerdicts.remove(path)

  /** True only when the sidecar holds at least one COMMITTED parquet
    * file — a bare directory (a crashed first retraction's residue, or
    * an fs that materializes parents eagerly) must read as "no pending
    * retractions", not brick every store read with an unreadable-parquet
    * error. Verdict memoized per (path, sidecar mtime) — see
    * [[tombstoneVerdicts]]. */
  def hasTombstones(s: SparkSession, path: String): Boolean = {
    val fs = fsOf(s, path)
    val p = new org.apache.hadoop.fs.Path(tombstonePath(path))
    val stamp =
      try fs.getFileStatus(p).getModificationTime
      catch { case _: java.io.FileNotFoundException =>
        tombstoneVerdicts.remove(path); return false
      }
    val cached = tombstoneVerdicts.get(path)
    val now = System.currentTimeMillis()
    if (cached != null && cached._1 == stamp &&
        (cached._2 || now - cached._3 < falseVerdictTtlMs)) cached._2
    else {
      val v = fs.listStatus(p).exists(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
      tombstoneVerdicts.put(path, (stamp, v, now))
      v
    }
  }

  /** Land retraction rows (an id column, plus any per-id bookkeeping a
    * store needs — the posting store rides doc lengths along) in the
    * sidecar ATOMICALLY: written aside as a single file and renamed in,
    * so a crash leaves either the previous sidecar or the grown one,
    * never a half-written file a later read would choke on (the
    * writeBloomBytes/ensureDocsSidecar discipline). Stale temp residue
    * from crashed attempts is cleared opportunistically. */
  def retractRows(s: SparkSession, path: String, rows: DataFrame): Unit =
      StoreLock.withLock(path, "retract") {
    recover(s, path)
    val fs = fsOf(s, path)
    val side = new org.apache.hadoop.fs.Path(tombstonePath(path))
    // clear crashed-attempt residue (same-prefix temp dirs)
    val parent = side.getParent
    if (fs.exists(parent)) fs.listStatus(parent).foreach { st =>
      if (st.getPath.getName.startsWith("_tombstones.tmp-")) fs.delete(st.getPath, true)
    }
    val tmp = new org.apache.hadoop.fs.Path(
      tombstonePath(path) + ".tmp-" + java.util.UUID.randomUUID)
    rows.coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"retractRows($path): no part file under $tmp"))
    fs.mkdirs(side)
    require(fs.rename(part, new org.apache.hadoop.fs.Path(side, part.getName)),
      s"retractRows($path): could not move $part into $side")
    fs.delete(tmp, true)
    // same-JVM readers must see the new tombstones even if the rename
    // landed within the cached stamp's mtime granularity
    invalidateTombstoneCache(path)
  }


  /** [[retractRows]] with a bare id column — the logical delete. */
  def retractIds(s: SparkSession, path: String, idCol: String, ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, s"retractIds($path): empty id set")
    import s.implicits._
    retractRows(s, path, ids.toDF(idCol))
  }

  /** Subtract pending tombstones from a store frame: broadcast anti-join
    * on the id column — retraction volume is tiny next to the store, so
    * the store side never shuffles to be filtered. No-op without a
    * sidecar. */
  def minusTombstones(s: SparkSession, path: String, idCol: String,
      df: DataFrame): DataFrame =
    if (!hasTombstones(s, path)) df
    else df.join(
      org.apache.spark.sql.functions.broadcast(
        s.read.parquet(tombstonePath(path)).select(idCol).distinct()),
      Seq(idCol), "left_anti")

  // ---- as-of fold horizon (data-plane time travel) ------------------------

  /** The store's as-of HORIZON: the highest `foldBelow` any compaction
    * has applied — batches below it are folded into the bootstrap
    * partition and no longer separable, so a batch-scoped as-of read
    * ([[graft.operators.Dedup.gateAgainstStoredAsOf]]) can only
    * reconstruct states at or after `horizon - 1` (bootstrap + every
    * surviving scoped batch ≤ asOf). 0 when no compaction has folded a
    * scoped batch: every state since the bootstrap is reconstructable.
    * The marker is a tiny `_asof_horizon` text file written INSIDE a
    * compaction's temp dir before the swap, so it can never disagree
    * with the layout it describes — exactly the Delta/MwStateStore rule
    * that vacuum (here: folding) bounds the time-travel horizon. */
  def horizonOf(s: SparkSession, path: String): Long = {
    val fs = fsOf(s, path)
    val p = new org.apache.hadoop.fs.Path(path + "/_asof_horizon")
    if (!fs.exists(p)) 0L
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
    }
  }

  /** The one as-of admission guard, shared by every batch-scoped
    * store's time-travel face so the refusal semantics (and the message
    * their specs pin) cannot drift between stores. */
  def requireAsOfReconstructable(s: SparkSession, path: String, asOf: Long): Unit = {
    require(asOf >= -1, s"asOf is a batch id (-1 = the bootstrap), got $asOf")
    val horizon = horizonOf(s, path)
    require(asOf >= horizon - 1,
      s"store $path cannot reconstruct the state as of batch $asOf: a compaction " +
        s"has folded batches below $horizon into the bootstrap — the oldest " +
        s"reconstructable state is as of batch ${horizon - 1}")
  }

  /** Record the fold horizon inside a compaction's temp dir (see
    * [[horizonOf]]); monotone — a smaller-watermark compaction never
    * winds the horizon back. */
  def writeHorizonInto(s: SparkSession, livePath: String, tmp: String,
      foldBelow: Long): Unit = {
    val h = math.max(horizonOf(s, livePath), foldBelow)
    if (h > 0) {
      val fs = fsOf(s, tmp)
      val out = fs.create(new org.apache.hadoop.fs.Path(tmp + "/_asof_horizon"), true)
      try out.write(h.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Re-land the live sidecar inside a compaction's temp dir, so the
    * swap RETAINS the pending retractions (see [[tombstonePath]]: the
    * rule whenever replay-protected partitions survive the rewrite). */
  def carryTombstonesInto(s: SparkSession, path: String, tmp: String): Unit =
    if (hasTombstones(s, path))
      s.read.parquet(tombstonePath(path)).coalesce(1)
        .write.parquet(tombstonePath(tmp))

  /** THE tombstone-retention condition, one definition for every
    * tombstoning store's compaction: true while any batch-scoped
    * partition at/above the caller's replay watermark remains — i.e.
    * while an at-least-once replay could still re-insert rows the
    * sidecar must keep hidden ([[carryTombstonesInto]] is its partner;
    * a compaction that folds EVERYTHING below its watermark passes a
    * watermark above its highest batch and this returns false, letting
    * the retraction finally complete). */
  def replayProtectedRemain(s: SparkSession, path: String, watermark: Long): Boolean =
    subPartitionDirs(s, path).filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong)
      .exists(b => b >= 0 && b >= watermark)
}
