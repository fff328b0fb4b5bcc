package graft.state

import java.nio.file.{Files, Path, Paths}
import java.time.format.DateTimeFormatter
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Retention marker for the multi-writer batch_log (see
  * [[MwStateStore.purgeBatchLog]]): immutable commits can't rewrite
  * history, so the purge is an event too — readers filter by the max
  * horizon, checkpoints bake the filter in. */
private[state] final case class LogPurge(horizon: java.sql.Timestamp)

/** Multi-writer [[ControlStore]]: the full control plane (monitor
  * events, envvar config, dimension tables, batch log, mail audit)
  * under TRUE concurrent drivers — the transactional swap the
  * single-writer [[StateStore]]'s scaladoc promises.
  *
  * Design (reference semantics: pkg_batch_util_body.sql:170-182 run-id
  * assignment, 192-214 autonomous status writes, 861-875 envvar reads):
  *
  *  - Every mutation is one [[TxnLog]] commit; **the commit version IS
  *    the event's `event_seq`**. Versions are dense and totally ordered
  *    across writers, so the single-assigner AtomicLong of the
  *    single-writer store is replaced by the log's own serialization —
  *    no lock file, no writer role, no handover.
  *  - Rows ride INSIDE the commit payload (a kind tag + one JSON line
  *    per row): control-plane rows are a few hundred bytes, so the
  *    payload-as-data design makes an append one tmp-write + one atomic
  *    link — no Spark job, no parquet task commit — while staying fully
  *    durable-on-return (the X1 autonomous-transaction property).
  *  - Reads are answered from ONE driver-resident, version-stamped
  *    snapshot of the decoded rows, shared by every driver thread: each
  *    read lists the commit log and decodes only the commits above the
  *    snapshot's version, on the driver. Read frames are local
  *    relations, so a lookup that filters and collects them launches no
  *    Spark job either; only reloading a checkpoint (when another
  *    writer's checkpoint has moved past the snapshot, or a vacuum has
  *    opened a gap under it) and writing one do.
  *  - Read-modify-write ([[transactRunId]]) runs inside
  *    `TxnLog.commit(v => …)`: the payload derives `max(run_id)+1` from
  *    the snapshot `< v`, and winning `v` proves no concurrent
  *    assignment slipped in — NVL(MAX)+1 stays monotonic per
  *    (module, day) across any number of drivers.
  *  - Retention ([[purgeBatchLog]]) is an EVENT: a horizon marker
  *    commit. Readers filter `run_date >= max(horizon)`; the next
  *    checkpoint materializes the filtered rows and folds markers to
  *    their max — immutable history, same observable semantics as the
  *    single-writer rewrite-in-place.
  *  - Every K commits the committer writes a consolidated parquet
  *    CHECKPOINT (all kinds, seqs baked in) and publishes it by atomic
  *    directory rename; a cold reader loads the newest checkpoint plus
  *    the ≤K JSON tail commits, so read cost is bounded regardless of
  *    history length, and [[vacuum]] can drop checkpoint-covered commits.
  *
  * Crash safety, by construction: a temp payload without its link is
  * invisible; a published link is complete (the link appears only after
  * the payload is on disk); a half-written checkpoint never gets
  * renamed into place; a crash between checkpoint and vacuum merely
  * leaves redundant commits. The JSON round-trip is Spark's own parser
  * (`from_json`, schema-pinned, FAILFAST), timestamps as explicit-offset
  * ISO instants, so parsing is session-timezone-proof.
  *
  * Scale: identical to [[TxnLog]]'s story — control-plane rates (one
  * commit per run transition), O(writers) retry contention, bounded
  * listings. The data plane never goes through this store.
  */
final class MwStateStore(val spark: SparkSession, val dir: String,
    checkpointEvery: Int = 64,
    publisher: CommitPublisher = TxnLog.HardLink)
    extends ControlStore {
  import MwStateStore._

  require(checkpointEvery > 0, s"checkpointEvery must be positive, got $checkpointEvery")

  val log = new TxnLog(dir, publisher)

  private val ckptDir: Path = Paths.get(dir, "_ckpt")
  private def ckptPath(v: Long): Path = ckptDir.resolve(f"$v%020d")

  // ---- payload codec ------------------------------------------------------
  // line 1: kind; lines 2..: one JSON object per row. Rows are hand-encoded
  // (flat types only) and Spark-decoded, so escaping/null/timestamp
  // semantics are exactly the json datasource's.

  // NOT ISO_INSTANT: it emits a VARIABLE-length fraction (none / 3 / 6 /
  // 9 digits), and Spark's default JSON timestamp parser only accepts
  // [.SSS] — a micros-precision instant would silently parse to NULL
  // under PERMISSIVE mode. Fixed 6-digit micros (Spark's own timestamp
  // precision) with an explicit offset, and the SAME pattern pinned on
  // the read side, makes the round-trip lossless and session-TZ-proof.
  private val Iso = DateTimeFormatter.ofPattern(TsPattern)
    .withZone(java.time.ZoneOffset.UTC)

  private def js(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Generic flat-Product JSON encoder, schema-driven so field names
    * come from the SAME schema the decoder pins — a codec and its
    * decoder cannot disagree on a name. */
  private def rowJson(fields: Array[org.apache.spark.sql.types.StructField],
      row: Product): String =
    fields.iterator.zip(row.productIterator).map { case (f, raw) =>
      val v = raw match { case Some(x) => x; case None => null; case x => x }
      val enc = v match {
        case null => "null"
        case s: String => js(s)
        case t: java.sql.Timestamp => js(Iso.format(t.toInstant))
        case n: Long => n.toString
        case n: Int => n.toString
        case n: Double => n.toString
        case b: Boolean => b.toString
        case other => throw new IllegalArgumentException(
          s"MwStateStore codec: unsupported control-row field type " +
            s"${other.getClass.getName} at ${f.name}")
      }
      s"${js(f.name)}:$enc"
    }.mkString("{", ",", "}")

  private def payload(kind: String, rows: Seq[Product]): String = {
    val fields = schemaOf(kind).fields
    (kind +: rows.map(rowJson(fields, _))).mkString("\n")
  }

  /** THE decoder — latest reads, as-of reads and [[checkpoint]] all go
    * through it: commit payloads → (kind, version, row), schema-pinned
    * and FAILFAST, so a malformed control event aborts the read instead
    * of nulling out. Spark's own JSON parser (`from_json` with the
    * encoder's [[TsPattern]]) over a local Dataset, which
    * ConvertToLocalRelation evaluates on the driver: no Spark job. Kinds
    * outside `keep` (by default: kinds this build does not know) are
    * skipped. Rows come back in commit order. */
  private def decode(commits: Seq[(Long, String)],
      keep: String => Boolean = KindsByTag.contains): Seq[(String, Long, Row)] = {
    val lines = for {
      (v, p) <- commits
      ls = p.split('\n')
      if keep(ls.head)
      l <- ls.iterator.drop(1) if l.nonEmpty
    } yield (ls.head, v, l)
    lines.groupBy(_._1).toSeq.flatMap { case (kind, ls) =>
      spark.createDataFrame(ls.map(t => Row(t._2, t._3)).asJava, PayloadLineSchema)
        .select(col("v"), from_json(col("json"), schemaOf(kind), JsonOptions))
        .collect().toSeq.map(r => (kind, r.getLong(0), r.getStruct(1)))
    }.sortBy(_._2)
  }

  // ---- snapshot -----------------------------------------------------------

  private def listCheckpointVersions(): Seq[Long] =
    if (!Files.isDirectory(ckptDir)) Seq.empty
    else {
      val s = Files.list(ckptDir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).toSeq
      finally s.close()
    }

  private def latestCheckpointVersion(): Long = {
    val vs = listCheckpointVersions()
    if (vs.isEmpty) 0L else vs.max
  }

  /** Checkpoint `ckptV`'s rows of `kinds`, tagged with `ckptV` (0 = no
    * checkpoint, no rows). None when the checkpoint DIR vanished (GC
    * deleted our listed version out from under us — two newer
    * checkpoints + a vacuum since the listing); a missing KIND subdir
    * inside a present checkpoint just means the kind was empty at
    * checkpoint time. The two must not be conflated, or the reader
    * would silently serve the ≤K tail as the entire table. */
  private def checkpointRows(ckptV: Long,
      kinds: Seq[String]): Option[Seq[(String, Long, Row)]] =
    if (ckptV == 0) Some(Seq.empty)
    else if (!Files.isDirectory(ckptPath(ckptV))) None
    else try Some(kinds.flatMap { kind =>
        val kindPath = ckptPath(ckptV).resolve(kind)
        if (!Files.isDirectory(kindPath)) Seq.empty
        else spark.read.schema(schemaOf(kind)).parquet(kindPath.toString)
          .collect().toSeq.map(r => (kind, ckptV, r))
      })
    catch {
      // GC finishing while Spark reads the parquet surfaces as a
      // Spark-side FileNotFound / path-not-found, not a NIO exception
      case NonFatal(e) if !Files.isDirectory(ckptPath(ckptV)) ||
          fileVanished(e, Seq(ckptPath(ckptV).toString)) => None
    }

  private val cache = new AtomicReference(Snapshot.Empty)

  /** The snapshot as of the newest commit, refreshed from the cached
    * one: only commits above its version are decoded; the newest
    * checkpoint is reloaded only when it has moved past the cache
    * (another writer checkpointed — and may have vacuumed — commits this
    * cache never saw). Retries until the view is CONSISTENT: a
    * concurrent checkpoint+vacuum can (a) delete a tail commit mid-read
    * (NoSuchFileException), or — subtler — (b) land entirely between
    * our checkpoint listing and our commit listing, so the vacuumed
    * versions are simply ABSENT with no exception and events would
    * silently vanish from the view. Versions are dense by construction
    * and vacuum only deletes prefixes a published checkpoint covers, so
    * consistency is checkable: the checkpoint version must not have
    * moved, and the tail must continue exactly at the base's version. */
  private def current(): Snapshot = {
    val MaxAttempts = 10
    var attempt = 0
    var lastError: Throwable = null
    while (attempt < MaxAttempts) {
      val ckptV = latestCheckpointVersion()
      val cached = cache.get
      try {
        val base =
          if (ckptV <= cached.version) Some(cached)
          else checkpointRows(ckptV, Kinds).map(Snapshot.Empty.plus(ckptV, _))
        base.foreach { b =>
          val commits = log.commitsAfter(b.version)
          // FULL contiguity, not just the head: directory iteration during
          // concurrent link creation can miss a MID-tail entry (hash-order
          // readdir passes the slot before the entry lands), and a
          // head-only check would bless that listing with an event silently
          // absent from the middle
          val dense = commits.map(_._1) == ((b.version + 1) to (b.version + commits.length))
          if (dense && latestCheckpointVersion() == ckptV) {
            val next =
              if (commits.isEmpty) b else b.plus(commits.last._1, decode(commits))
            cache.accumulateAndGet(next, (held, n) => if (n.version > held.version) n else held)
            return next
          }
        }
        attempt += 1 // checkpoint vanished, gap in the tail, or the checkpoint moved
      } catch {
        case e: java.nio.file.NoSuchFileException => lastError = e; attempt += 1
      }
    }
    throw new IllegalStateException(
      s"MwStateStore $dir: could not obtain a consistent snapshot in " +
        s"$MaxAttempts attempts (checkpoint/vacuum storm?)", lastError)
  }

  /** A local-relation frame over decoded rows: filters and collects on it
    * run on the driver. */
  private def frame(kind: String, rows: Iterable[Row]): DataFrame =
    spark.createDataFrame(rows.toSeq.asJava, schemaOf(kind))

  private def kindFrame(kind: String): DataFrame =
    frame(kind, current().of(kind).map(_._2))

  // ---- time travel --------------------------------------------------------

  /** Does this failure mean "a file WE just listed under one of
    * `anchors` no longer exists"? Walks the cause chain: Spark wraps the
    * underlying FileNotFound in job/analysis exceptions, and DSv2 path
    * resolution reports a vanished root as an AnalysisException whose
    * message (not class) carries "Path does not exist".
    *
    * The match is ANCHORED: a vanished-file signal only counts when the
    * failing path (exception message, or NoSuchFileException's file
    * field) names the checkpoint / commit-log directory this read is
    * actually touching. An unanchored class/phrase match would classify
    * a genuinely missing store root — or any unrelated error that
    * happens to embed the phrase — as the retryable GC race and burn
    * the whole retry budget before surfacing it. */
  private def fileVanished(t: Throwable, anchors: Seq[String]): Boolean = {
    def anchored(s: String): Boolean =
      s != null && anchors.exists(s.contains)
    var cur = t
    var depth = 0
    while (cur != null && depth < 20) {
      cur match {
        case e: java.nio.file.NoSuchFileException
          if anchored(e.getFile) || anchored(e.getMessage) => return true
        case e: java.io.FileNotFoundException
          if anchored(e.getMessage) => return true
        case e if e.getMessage != null && anchored(e.getMessage) &&
          (e.getMessage.contains("Path does not exist") ||
            e.getMessage.contains("PATH_NOT_FOUND")) => return true
        case _ =>
      }
      cur = cur.getCause
      depth += 1
    }
    false
  }

  /** One kind's rows AS OF commit version `asOf` — exactly the table a
    * reader saw when `asOf` was the newest commit (Delta-style time
    * travel; the commit version is the store's only clock, so "as of"
    * is exact, not approximate). Reconstruction = the newest SURVIVING
    * checkpoint ≤ asOf plus the dense commit run (ckpt, asOf]. Like
    * Delta, the horizon is bounded by retention: once vacuum has
    * dropped a needed commit and checkpoint GC the ≤-asOf checkpoints,
    * the version is gone — the read then fails LOUDLY naming the oldest
    * still-reconstructable version rather than silently serving a
    * partial table (the same no-silent-partial-view doctrine as
    * [[current]]'s density check). */
  private def rowsAsOf(kind: String, asOf: Long): Seq[Row] = {
    require(asOf >= 1, s"asOf must be >= 1, got $asOf")
    // checkpoint floor, NOT a raw listing: after a vacuum that empties
    // the commit dir, latestVersion() without the floor reports 0 and
    // would reject asOf = the checkpoint version itself — which is
    // exactly reconstructable (checkpoint + empty tail)
    val latest = version
    require(asOf <= latest,
      s"MwStateStore $dir: asOf $asOf is in the future (latest commit is $latest)")
    var attempt = 0
    var lastProblem = ""
    while (attempt < 10) {
      val ckpts = listCheckpointVersions().filter(_ <= asOf)
      val ckptV = if (ckpts.isEmpty) 0L else ckpts.max
      try {
        val commits = log.commitsAfter(ckptV).filter(_._1 <= asOf)
        if (commits.map(_._1) != ((ckptV + 1) to asOf)) {
          // permanent (vacuumed prefix) and transient (listing race)
          // gaps are indistinguishable from one listing — retry the few
          // cheap attempts, then report as unreconstructable
          lastProblem = s"commits ${ckptV + 1}..$asOf incomplete over checkpoint $ckptV"
          attempt += 1
        } else checkpointRows(ckptV, Seq(kind)) match {
          case Some(base) =>
            return (base ++ decode(commits, _ == kind)).map(_._3)
          case None =>
            lastProblem = s"checkpoint $ckptV vanished (GC race)"
            attempt += 1
        }
      } catch {
        // as-of reads target OLD checkpoints and commits, the prime
        // vacuum/GC candidates: a vanished-file signal ANCHORED to this
        // store's checkpoint or commit-log directories is the retryable
        // race; anything else stays fatal
        case NonFatal(e)
          if (ckptV > 0 && !Files.isDirectory(ckptPath(ckptV))) ||
            fileVanished(e, Seq(ckptPath(ckptV).toString,
              Paths.get(dir, "_txn").toString)) =>
          lastProblem = e.toString; attempt += 1
      }
    }
    throw new IllegalStateException(
      s"MwStateStore $dir: version $asOf is not reconstructable ($lastProblem); " +
        s"oldest reconstructable version is ${oldestReconstructableVersion()} — " +
        "time travel is bounded by vacuum + checkpoint-GC retention")
  }

  /** The newest commit version — the value [[monitorEventsAsOf]] of
    * which equals [[monitorEvents]]. Floored at the newest checkpoint:
    * TxnLog.latestVersion's raw listing under-reports after a vacuum
    * that emptied the commit dir (its own scaladoc's warning — every
    * commit path here already passes the same floor). */
  def version: Long = log.latestVersion(latestCheckpointVersion())

  /** EARLIEST `asOf` a time-travel read can still reconstruct: 1 while
    * no commit has been vacuumed; after vacuum, the oldest surviving
    * checkpoint (a checkpoint version is always reconstructable by
    * itself — checkpoint + empty tail). NOTE the reconstructable set is
    * not necessarily contiguous: a version BETWEEN two surviving
    * checkpoints whose tail commits were vacuumed (e.g. 5 when
    * checkpoints {4, 8} survive but commits 1..8 are gone) is still
    * unreconstructable; this is the lower bound, and the per-read
    * failure is authoritative for any specific version. */
  def oldestReconstructableVersion(): Long = {
    val ckpts = listCheckpointVersions()
    val surviving = log.commitsAfter(0L).map(_._1)
    if (surviving.nonEmpty && surviving.min <= 1) 1L
    else if (ckpts.nonEmpty) ckpts.min
    // no checkpoint: vacuum can't have run (it only deletes what a
    // published checkpoint covers), so either the store is empty (0 =
    // nothing to reconstruct) or commits survive from 1 in full
    else if (surviving.isEmpty) 0L
    else surviving.min
  }

  def monitorEventsAsOf(asOf: Long): DataFrame =
    frame("monitor", rowsAsOf("monitor", asOf))
  def envvarEventsAsOf(asOf: Long): DataFrame =
    frame("envvar", rowsAsOf("envvar", asOf))

  /** [[monitorState]] as of a commit version — "what did the control
    * plane believe when run 123 started" as a first-class query. */
  def monitorStateAsOf(asOf: Long): DataFrame =
    frame("monitor", rowsAsOf("monitor", asOf)
      .foldLeft(Map.empty[String, Row])(newest(RunKeyIdx, MonitorSeqIdx)).values)

  // ---- monitor event log --------------------------------------------------

  def monitorEvents: DataFrame = kindFrame("monitor")
  def envvarEvents: DataFrame = kindFrame("envvar")

  /** Current batch_monitor state — the W1 view of the single-writer
    * store (latest event per run_key), kept up to date in the snapshot. */
  def monitorState: DataFrame = frame("monitor", current().runs.values)

  /** Append a monitor event; the caller's `event_seq` is IGNORED — the
    * commit version is the seq (returned). Durable on return. */
  def appendMonitorEvent(ev: MonitorEvent): Long =
    appendEventAssigned(s => ev.copy(event_seq = s))

  /** Guard + append in one optimistic transaction: `admit` re-evaluates
    * against the pre-`v` snapshot on every retry, so winning the version
    * proves the guard held with nothing interleaved. */
  def appendEventGuarded(mk: Long => MonitorEvent,
      admit: () => Boolean): Option[Long] =
    log.commitOpt(v =>
        if (!admit()) None
        else Some(payload("monitor", Seq(mk(v).copy(event_seq = v)))),
        floor = latestCheckpointVersion())
      .map(_.tap(maybeCheckpoint))

  def transactRunIdGuarded(moduleId: Long, at: java.time.Instant,
      mk: (Long, Long) => MonitorEvent,
      admit: () => Boolean): Option[(Long, Long)] = {
    // guard and max re-derived from the pre-v snapshot on EVERY retry:
    // winning v proves neither a concurrent assignment nor a
    // guard-relevant event interleaved, so same-day run ids stay unique
    // and contiguous across any number of drivers
    var assigned = 0L
    log.commitOpt({ v =>
      if (!admit()) None
      else {
        assigned = ControlStore.maxRunId(monitorState, moduleId, at) + 1
        Some(payload("monitor",
          Seq(mk(assigned, v).copy(event_seq = v, run_id = assigned))))
      }
    }, floor = latestCheckpointVersion())
      .map { v => maybeCheckpoint(v); (assigned, v) }
  }

  // ---- envvar config ------------------------------------------------------

  def getEnv(name: String): Option[String] = getEnvs(Seq(name)).get(name)

  def getEnvs(names: Seq[String]): Map[String, String] =
    if (names.isEmpty) Map.empty
    else {
      val env = current().env
      names.flatMap(n => env.get(n).map(r => n -> r.getString(EnvValueIdx))).toMap
    }

  def updEnv(name: String, value: String): Unit = updEnvAssigned(name, value)

  /** [[updEnv]] returning the assigned seq (= commit version). */
  def updEnvAssigned(name: String, value: String): Long =
    log.commit(v => payload("envvar", Seq(EnvVarEvent(name, value, v))),
        floor = latestCheckpointVersion())
      .tap(maybeCheckpoint)

  // ---- dimension / manifest tables ---------------------------------------
  // Seq-free appends: one commit per put (multi-row payload), read back
  // through the same schema-pinned codec.

  private def putKind(kind: String, rows: Seq[Product]): Unit =
    if (rows.nonEmpty) {
      log.commit(_ => payload(kind, rows), floor = latestCheckpointVersion())
        .tap(maybeCheckpoint)
      ()
    }

  def batchMaster: Dataset[BatchMaster] = kindFrame("master").as(Master.encoder)
  def putBatchMaster(rows: Seq[BatchMaster]): Unit = putKind("master", rows)

  def dependencies: Dataset[BatchDependency] = kindFrame("dependency").as(Dependency.encoder)
  def putDependencies(rows: Seq[BatchDependency]): Unit = putKind("dependency", rows)

  def loaderFiles: Dataset[TmpRunLoader] = kindFrame("loader").as(Loader.encoder)
  def putLoaderFiles(rows: Seq[TmpRunLoader]): Unit = putKind("loader", rows)

  def runCommands: Dataset[RunCommand] = kindFrame("runcmd").as(RunCmd.encoder)
  def putRunCommands(rows: Seq[RunCommand]): Unit = putKind("runcmd", rows)

  def mailAddresses: Dataset[MailAddr] = kindFrame("mailaddr").as(MailAddress.encoder)
  def putMailAddresses(rows: Seq[MailAddr]): Unit = putKind("mailaddr", rows)

  // ---- batch log + mail audit --------------------------------------------

  def appendLog(rec: BatchLogRec): Unit = putKind("log", Seq(rec))

  /** Purge-aware view: rows at or after every marker's horizon. */
  def batchLog: DataFrame = frame("log", retainedLog(current(), Long.MaxValue))

  /** The max purge horizon among markers committed at or below `cap`. */
  private def horizon(s: Snapshot, cap: Long): Option[java.sql.Timestamp] =
    s.of("logpurge").collect { case (v, r) if v <= cap && !r.isNullAt(0) => r.getTimestamp(0) }
      .reduceOption((a, b) => if (a.compareTo(b) >= 0) a else b)

  /** Log rows committed at or below `cap` that survive its horizon
    * (`run_date >= horizon`; a NULL run_date never does, as in SQL). */
  private def retainedLog(s: Snapshot, cap: Long): Seq[Row] = {
    val hz = horizon(s, cap)
    s.of("log").collect { case (v, r) if v <= cap && hz.forall(h =>
      !r.isNullAt(LogRunDateIdx) && r.getTimestamp(LogRunDateIdx).compareTo(h) >= 0) => r }
  }

  /** S6 retention as an EVENT: immutable commits can't rewrite history,
    * so the purge appends a horizon marker; reads filter, the next
    * checkpoint materializes (same observable rows as the single-writer
    * rewrite, no 5000-row delete loop, no backup/swap window). */
  def purgeBatchLog(horizon: java.sql.Timestamp): Unit =
    putKind("logpurge", Seq(LogPurge(horizon)))

  def appendMailAudit(rec: MailAudit): Unit = putKind("mailaudit", Seq(rec))
  def mailAudit: DataFrame = kindFrame("mailaudit")

  /** No writer role to release — multi-writer by construction. */
  def close(): Unit = ()

  // ---- checkpoint / vacuum -----------------------------------------------

  private implicit class Tap(v: Long) {
    def tap(f: Long => Unit): Long = { f(v); v }
  }

  /** Write a consolidated checkpoint when the committed version crosses a
    * K boundary: full per-kind parquet under a temp dir, published by
    * atomic directory rename (present ⟹ complete). Losing a concurrent
    * checkpoint race is fine — the winner's content is identical. */
  private def maybeCheckpoint(v: Long): Unit =
    if (v % checkpointEvery == 0) checkpoint()

  def checkpoint(): Long = {
    val ckptV0 = latestCheckpointVersion()
    val v = log.latestVersion(ckptV0)
    if (v == 0L) return 0L
    val target = ckptPath(v)
    if (Files.exists(target)) return v
    // the snapshot's listing follows the one that chose v, so it holds
    // every commit ≤ v; every dump is pinned to commits ≤ v — a commit
    // racing past v lands in the tail the reader pairs with this
    // checkpoint, and a capless dump would deliver it TWICE (baked in +
    // replayed)
    val s = current()
    if (s.version < v) throw new IllegalStateException(
      s"MwStateStore $dir: snapshot at ${s.version} cannot checkpoint version $v")
    Files.createDirectories(ckptDir)
    val tmp = Files.createTempDirectory(ckptDir, ".tmp-")
    Kinds.foreach { kind =>
      val rows = kind match {
        // the purge horizon BAKES IN: log rows are stored pre-filtered and
        // the marker set folds to its max (still needed — a marker filters
        // rows appended after it with pre-horizon run_date)
        case "log" => retainedLog(s, v)
        case "logpurge" => horizon(s, v).map(Row(_)).toSeq
        case k => s.of(k).collect { case (cv, r) if cv <= v => r }
      }
      if (rows.nonEmpty)
        frame(kind, rows).coalesce(1).write.mode("overwrite").parquet(tmp.resolve(kind).toString)
    }
    // a checkpoint that RACED PAST ours is the one hazard: a snapshot
    // reloaded from a newer checkpoint tags that checkpoint's rows with
    // ITS version, so the ≤ v dumps above would have dropped them.
    // Readers always take the max version, so such a dump would never be
    // READ — but don't even publish it: discard and defer to the winner.
    if (latestCheckpointVersion() != ckptV0) { deleteRecursively(tmp); return v }
    try Files.move(tmp, target)
    catch { case _: java.nio.file.FileAlreadyExistsException |
                 _: java.nio.file.DirectoryNotEmptyException =>
      deleteRecursively(tmp) // lost the race; winner's content is identical
    }
    v
  }

  /** Drop commits the newest checkpoint covers (and temp orphans), and
    * garbage-collect superseded checkpoints — each checkpoint is a FULL
    * history snapshot, so keeping every one would accumulate O(N²)
    * cumulative bytes over a deployment's life. The newest
    * `retainCheckpoints` survive: readers always take the max, but a
    * reader that listed the previous max just before this vacuum may
    * still be reading its parquet — retaining one predecessor gives
    * those in-flight reads their grace window (same reasoning as the
    * tail-commit retry, which covers the JSON side). The checkpoint
    * version remains the floor [[TxnLog.commit]] consults, so vacuuming
    * can never cause version/seq reuse. */
  def vacuum(retainCheckpoints: Int = 2): Unit = {
    log.vacuum(latestCheckpointVersion())
    listCheckpointVersions().sorted
      .dropRight(math.max(retainCheckpoints, 1))
      // two drivers vacuuming concurrently race each other's deletes —
      // a dir vanishing mid-recursion must no-op, not throw (the same
      // idempotence TxnLog.vacuum documents)
      .foreach { v =>
        try deleteRecursively(ckptPath(v))
        catch { case _: java.nio.file.NoSuchFileException => () }
      }
  }

  private def deleteRecursively(path: Path): Unit = {
    if (Files.isDirectory(path)) {
      val children = Files.list(path)
      try children.forEach(deleteRecursively(_))
      finally children.close()
    }
    Files.deleteIfExists(path)
  }
}

object MwStateStore {
  private val TsPattern = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
  private val JsonOptions = Map("timestampFormat" -> TsPattern, "mode" -> "FAILFAST")
  private val PayloadLineSchema = StructType(Seq(
    StructField("v", LongType, nullable = false), StructField("json", StringType, nullable = false)))

  /** A payload kind's row type. Its encoder and schema are derived on
    * first use: derivation is scala-reflect work, and a store should not
    * pay it for kinds it never touches. The schema is nullable, as the
    * JSON and parquet readers deliver it (a NULL in a primitive field
    * still fails at the typed `.as`). */
  private final class Kind[T <: Product : TypeTag] {
    lazy val encoder: Encoder[T] = Encoders.product[T]
    lazy val schema: StructType =
      StructType(encoder.schema.fields.map(_.copy(nullable = true)))
  }
  private val Monitor = new Kind[MonitorEvent]
  private val EnvVar = new Kind[EnvVarEvent]
  private val Master = new Kind[BatchMaster]
  private val Dependency = new Kind[BatchDependency]
  private val Loader = new Kind[TmpRunLoader]
  private val RunCmd = new Kind[RunCommand]
  private val MailAddress = new Kind[MailAddr]
  private val Log = new Kind[BatchLogRec]

  /** Every payload kind by its tag; also the checkpoint's dump order. */
  private val KindList: Seq[(String, Kind[_])] = Seq(
    "monitor" -> Monitor, "envvar" -> EnvVar, "master" -> Master,
    "dependency" -> Dependency, "loader" -> Loader, "runcmd" -> RunCmd,
    "mailaddr" -> MailAddress, "mailaudit" -> new Kind[MailAudit], "log" -> Log,
    "logpurge" -> new Kind[LogPurge])
  private val KindsByTag: Map[String, Kind[_]] = KindList.toMap
  private val Kinds: Seq[String] = KindList.map(_._1)
  private def schemaOf(kind: String): StructType = KindsByTag(kind).schema

  private lazy val RunKeyIdx = Monitor.schema.fieldIndex("run_key")
  private lazy val MonitorSeqIdx = Monitor.schema.fieldIndex("event_seq")
  private lazy val EnvNameIdx = EnvVar.schema.fieldIndex("variable_name")
  private lazy val EnvValueIdx = EnvVar.schema.fieldIndex("value")
  private lazy val EnvSeqIdx = EnvVar.schema.fieldIndex("event_seq")
  private lazy val LogRunDateIdx = Log.schema.fieldIndex("run_date")

  /** Latest-row-per-key fold step: the highest seq wins (the W1 view's
    * `row_number() OVER (PARTITION BY key ORDER BY event_seq DESC) = 1`). */
  private def newest(keyIdx: Int, seqIdx: Int)(m: Map[String, Row], r: Row): Map[String, Row] = {
    val key = r.getString(keyIdx)
    if (m.get(key).exists(_.getLong(seqIdx) >= r.getLong(seqIdx))) m else m.updated(key, r)
  }

  /** The decoded store as of commit `version`: every kind's rows tagged
    * with the commit that wrote them (checkpoint rows with the
    * checkpoint's version), plus the latest-value views the lifecycle
    * reads — monitor state by run_key and envvar values by name. An
    * immutable value, shared by every driver thread. */
  private final case class Snapshot(version: Long,
      rows: Map[String, Vector[(Long, Row)]],
      runs: Map[String, Row],
      env: Map[String, Row]) {
    def of(kind: String): Vector[(Long, Row)] = rows.getOrElse(kind, Vector.empty)

    /** This snapshot with `decoded` folded in, stamped `upTo`. */
    def plus(upTo: Long, decoded: Seq[(String, Long, Row)]): Snapshot = {
      val byKind = decoded.groupBy(_._1)
      def latest(kind: String, m: Map[String, Row], keyIdx: Int, seqIdx: Int) =
        byKind.getOrElse(kind, Nil).map(_._3).foldLeft(m)(newest(keyIdx, seqIdx))
      Snapshot(upTo,
        byKind.foldLeft(rows) { case (acc, (kind, rs)) =>
          acc.updated(kind, acc.getOrElse(kind, Vector.empty) ++ rs.map(t => t._2 -> t._3))
        },
        latest("monitor", runs, RunKeyIdx, MonitorSeqIdx),
        latest("envvar", env, EnvNameIdx, EnvSeqIdx))
    }
  }

  private object Snapshot {
    val Empty: Snapshot = Snapshot(0L, Map.empty, Map.empty, Map.empty)
  }
}
