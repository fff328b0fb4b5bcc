package graft.state

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Optimistic-concurrency commit log — the multi-writer seam under
  * [[MwStateStore]]: any number of concurrent drivers commit to one
  * log, with no lock file and no writer role.
  *
  * Protocol (the public Delta-protocol shape, re-expressed on plain
  * java.nio for the driver-local control plane):
  *
  *  1. a writer composes the full commit payload for version `v =
  *     latest + 1` and writes it to a hidden temp file;
  *  2. it PUBLISHES by `Files.createLink(_txn/<v>.commit, tmp)` — a
  *     POSIX hard link is atomic and fails with EEXIST if the version
  *     is taken, so exactly one writer wins each version and a reader
  *     can never observe a partially-written commit (the link appears
  *     only after the payload is fully on disk);
  *  3. a loser re-reads the latest version, re-derives its payload
  *     against the new snapshot, and retries — read-modify-write
  *     transactions are serializable because the payload function runs
  *     against everything `< v` and winning `v` proves nothing else
  *     committed in between.
  *
  * Versions are therefore dense (1, 2, 3, …) and totally ordered — the
  * property [[MwStateStore]] exploits to make the commit version itself
  * the global `event_seq`.
  *
  * The publish primitive — atomically claim a version name with a
  * fully-written payload, failing if the version exists — is the ONE
  * filesystem-specific piece, factored behind [[CommitPublisher]];
  * versioning, retry, floor, checkpointing and vacuum semantics are
  * publisher-independent. In-repo implementations (each torture-proven
  * by the same `TxnLogBehaviors` suite):
  *
  *  - [[TxnLog.HardLink]] (default): `Files.createLink` — POSIX link(2)
  *    is atomic and fails EEXIST. Plain-file rename alternatives were
  *    rejected deliberately: `Files.move` without `REPLACE_EXISTING` is
  *    check-then-act on the default provider (racy), and `ATOMIC_MOVE`
  *    on a FILE maps to rename(2), which silently REPLACES an existing
  *    target — either would let two writers both believe they own a
  *    version.
  *  - [[TxnLog.ConditionalPut]]: one object-store PUT with
  *    `If-None-Match: *`, bound to a filesystem emulation
  *    ([[TxnLog.FsObjectStore]]) or to a bucket over HTTP, plain or
  *    SigV4-signed ([[graft.state.HttpBucket.HttpObjectStore]]).
  *
  * Deployment scope: writers must share storage where the chosen
  * publisher's primitive is atomic — POSIX mounts for the hard link
  * (NFS implements LINK atomically server-side; publish-after-full-write
  * keeps torn reads impossible even under client caching), or an
  * object store with conditional PUT for [[TxnLog.ConditionalPut]] (S3 `If-None-Match: *` / GCS
  * `ifGenerationMatch=0`), shipped here against the injectable
  * [[TxnLog.ObjectStore]] seam with a filesystem-backed emulation and
  * torture-proven like the rest. The remaining storage family, HDFS,
  * stays documentation: `FileSystem.rename` of a payload file
  * (fail-if-exists is serialized in the NameNode — atomic there even
  * though the raw-local-fs flavor of the same API is check-then-act,
  * which is why it is not shipped here). Versioning, retry, floor,
  * checkpoint and vacuum semantics carry over unchanged.
  *
  * Scale: this is a CONTROL-plane log — one commit per run transition /
  * config change, payloads of a few hundred bytes. Directory listings
  * stay bounded because [[MwStateStore]] checkpoints consolidated state
  * every K commits and [[vacuum]] drops commits the checkpoint covers.
  * Contention cost is O(writers) retries per commit, independent of any
  * data-plane size.
  */
/** The filesystem-specific third of the commit protocol: how a version
  * is durably REPRESENTED under `_txn/` and atomically CLAIMED. The
  * contract every implementation must honor (the torture suites drive
  * it for every in-repo publisher):
  *
  *  - [[publish]] returns true iff THIS caller made `v` exist, and a
  *    published version is complete — no reader may ever observe a
  *    partial payload (stage fully, then claim atomically);
  *  - a failed/crashed attempt leaves only staging residue that
  *    [[commitVersion]] never recognizes as a commit and
  *    [[sweepStaging]] can remove once stale;
  *  - [[read]]/[[delete]] round-trip whatever [[publish]] wrote.
  */
trait CommitPublisher {
  /** Atomically claim `txnDir/<canonical name of v>` with `payload`;
    * true iff this writer won the version. */
  def publish(txnDir: Path, v: Long, payload: Array[Byte]): Boolean
  /** The payload of a published version, verbatim. */
  def read(txnDir: Path, v: Long): Array[Byte]
  /** Parse a directory-entry name: Some(version) iff it is a commit in
    * this publisher's representation (staging and foreign names → None). */
  def commitVersion(name: String): Option[Long]
  /** Remove a published version (vacuum); idempotent. */
  def delete(txnDir: Path, v: Long): Unit
  /** Remove staging residue older than `cutoffMs` (epoch millis) — never
    * a live writer's in-flight staging newer than it. */
  def sweepStaging(txnDir: Path, cutoffMs: Long): Unit
  /** Directory-entry names under `txnDir` (commits and anything else —
    * the log filters through [[commitVersion]]). Default = filesystem
    * listing; object-store publishers override to serve it from the
    * store's LIST call, so the log never needs a filesystem view of
    * `_txn/` at all. */
  def listNames(txnDir: Path): Seq[String] =
    if (!Files.isDirectory(txnDir)) Seq.empty
    else {
      val s = Files.list(txnDir)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }
}

final class TxnLog(val dir: String,
    val publisher: CommitPublisher = TxnLog.HardLink) {

  // the control plane is driver-local: java.nio on a remote URI
  // ("s3a://…", "hdfs://…") silently resolves a literal local path, so
  // the log would read as empty — fail construction instead
  require(!dir.matches("^[A-Za-z][A-Za-z0-9+.-]*://.*") && !dir.startsWith("file:"),
    s"TxnLog requires a driver-local filesystem path, got '$dir'")

  private val txnDir: Path = Paths.get(dir, "_txn")

  /** Commit entries only — staging and foreign names are invisible
    * ([[CommitPublisher.commitVersion]]), so a crashed writer's orphan
    * staging can never be read as a commit. */
  private def listVersions(): Seq[Long] =
    publisher.listNames(txnDir).flatMap(n => publisher.commitVersion(n))

  /** `floor` guards against version REUSE after [[vacuum]]: once old
    * commit files are dropped, a raw listing under-reports history, and
    * a writer that trusted it would re-claim a version (and with it a
    * seq) that already existed. Callers that vacuum must pass the
    * highest version their checkpoint durably covers. */
  def latestVersion(floor: Long = 0L): Long = {
    val vs = listVersions()
    math.max(if (vs.isEmpty) 0L else vs.max, floor)
  }

  /** All commits with version in `(afterVersion, ∞)`, ordered. Payload is
    * returned verbatim. */
  def commitsAfter(afterVersion: Long): Seq[(Long, String)] =
    listVersions().filter(_ > afterVersion).sorted.map { v =>
      v -> new String(publisher.read(txnDir, v), "UTF-8")
    }

  /** One attempt to claim `v` with `payload`; true iff this writer won
    * the version. */
  def tryCommit(v: Long, payload: String): Boolean = {
    Files.createDirectories(txnDir)
    publisher.publish(txnDir, v, payload.getBytes("UTF-8"))
  }

  /** Serializable read-modify-write: `payload(v)` composes the commit
    * for the version about to be claimed, reading any state it likes
    * from versions `< v`; it re-runs from scratch on every retry, so by
    * the time a claim SUCCEEDS the payload is guaranteed to have been
    * derived against the immediately-preceding snapshot. Returns the won
    * version.
    *
    * `maxRetries` bounds livelock under pathological contention — the
    * control plane has a handful of drivers, so hitting it means
    * something is broken (e.g. a tight commit loop), and failing loudly
    * beats spinning.
    */
  def commit(payload: Long => String, maxRetries: Int = 1000,
      floor: => Long = 0L): Long =
    commitOpt(v => Some(payload(v)), maxRetries, floor).get

  /** [[commit]] with an abort path: `payload(v)` returning None abandons
    * the transaction without committing anything (the guarded-append /
    * gated-transition shape — the guard re-evaluates against the pre-`v`
    * snapshot on every retry, exactly like the payload). Returns the won
    * version, or None on abort.
    *
    * Ordering matters for the version floor: the `_txn` listing runs
    * FIRST, the by-name `floor` evaluates AFTER it. Vacuum only deletes
    * commits a PUBLISHED checkpoint covers, so any version missing from
    * our listing is ≤ some checkpoint that already existed when we then
    * read the floor — evaluating the floor first would open a window
    * (checkpoint+vacuum between floor and listing) where both
    * under-report and a vacuumed version gets REUSED, forking a
    * duplicate seq below the checkpoint that every reader would miss. */
  def commitOpt(payload: Long => Option[String], maxRetries: Int = 1000,
      floor: => Long = 0L): Option[Long] = {
    var attempt = 0
    while (attempt < maxRetries) {
      val listed = latestVersion()
      val v = math.max(listed, floor) + 1
      payload(v) match {
        case None => return None
        case Some(p) => if (tryCommit(v, p)) return Some(v)
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"TxnLog $dir: lost the commit race $maxRetries times — " +
        "either pathological writer contention or a stuck commit loop")
  }

  /** Drop commits at or below `throughVersion` — call only with versions
    * a durable checkpoint fully covers (MwStateStore does). Also sweeps
    * temp-file orphans from crashed writers — but ONLY stale ones
    * (`staleMs` old): a LIVE writer's staging exists for milliseconds
    * between its write and its link, and an age-blind sweep would
    * delete in-flight commits out from under concurrent drivers (found
    * by the churn spec). Idempotent; safe under concurrent vacuums
    * (losers' deletes no-op). */
  def vacuum(throughVersion: Long, staleMs: Long = 10 * 60 * 1000L): Unit = {
    listVersions().filter(_ <= throughVersion)
      .foreach(v => publisher.delete(txnDir, v))
    if (Files.isDirectory(txnDir))
      publisher.sweepStaging(txnDir, System.currentTimeMillis() - staleMs)
  }
}

object TxnLog {

  private def commitName(v: Long): String = f"$v%020d.commit"

  private def parseCommitName(name: String): Option[Long] =
    if (!name.endsWith(".commit")) None
    else name.stripSuffix(".commit").toLongOption

  /** POSIX hard-link publisher (the default): stage to a hidden temp
    * file, claim by `Files.createLink` — link(2) is atomic and fails
    * EEXIST, and the link appears only after the payload is fully on
    * disk, so a reader can never observe a partial commit. A commit is
    * a plain FILE named `<v>.commit`. */
  object HardLink extends CommitPublisher {
    def publish(txnDir: Path, v: Long, payload: Array[Byte]): Boolean = {
      val tmp = Files.createTempFile(txnDir, ".tmp-", "")
      try {
        Files.write(tmp, payload)
        try { Files.createLink(txnDir.resolve(commitName(v)), tmp); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          // our staging vanished before the link (a concurrent vacuum
          // raced the age guard, an operator rm'd it): nothing was
          // published, so "lost this attempt" is the honest answer — the
          // commit loop re-stages and retries
          case _: java.nio.file.NoSuchFileException => false
        }
      } finally Files.deleteIfExists(tmp)
    }

    def read(txnDir: Path, v: Long): Array[Byte] =
      Files.readAllBytes(txnDir.resolve(commitName(v)))

    def commitVersion(name: String): Option[Long] = parseCommitName(name)

    def delete(txnDir: Path, v: Long): Unit =
      Files.deleteIfExists(txnDir.resolve(commitName(v)))

    def sweepStaging(txnDir: Path, cutoffMs: Long): Unit = {
      val s = Files.list(txnDir)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith(".tmp-"))
        .filter { p =>
          try Files.getLastModifiedTime(p).toMillis < cutoffMs
          catch { case _: java.io.IOException => false } // already gone
        }
        .foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }
  }

  /** The four object-store calls an S3/GCS deployment implements with
    * its client SDK; keys are paths under the log's `_txn/` prefix.
    * [[ConditionalPut.publish]] maps to exactly ONE conditional PUT —
    * no staging, no rename, no link — because the object store itself
    * provides what POSIX needed the stage+link dance for: a PUT is
    * visible all-or-nothing (a crashed upload never becomes an object),
    * and the `If-None-Match: *` precondition (GCS:
    * `ifGenerationMatch=0`) makes it an atomic claim.
    *
    * Visibility assumptions a real implementation must satisfy (both
    * S3 since the 2020 consistency change and GCS do): conditional PUT
    * is atomic with exactly one winner under concurrency; GET and LIST
    * are read-after-write consistent (a committed object is immediately
    * visible to both); DELETE is idempotent. There is no fsync — object
    * durability is the store's PUT acknowledgment. */
  trait ObjectStore {
    /** PUT with `If-None-Match: *`: true iff the key did not exist and
      * now durably holds `bytes` in full.
      *
      * CALLER CONTRACT — writer-unique payloads: every payload PUT
      * through this seam must identify its writer uniquely (embed
      * pid+attempt, a per-call nonce, or equivalent). Network bindings
      * resolve the lost-response ambiguity (our PUT applied but its 2xx
      * never arrived; the retry reads 412) by GETting the object and
      * claiming the win iff the stored bytes equal ours — two writers
      * racing with byte-identical payloads would BOTH claim the win and
      * silently co-own the key. In-repo writers honor this (commit
      * payloads embed pid+attempt, lock payloads a per-call nonce); a
      * new caller must too. */
    def putIfAbsent(key: Path, bytes: Array[Byte]): Boolean
    /** GET — the full committed payload, verbatim. */
    def get(key: Path): Array[Byte]
    /** LIST the entry names directly under `prefix` (ListObjectsV2 with
      * a '/' delimiter) — committed objects only. */
    def list(prefix: Path): Seq[String]
    /** DELETE — idempotent (deleting a missing key succeeds). */
    def delete(key: Path): Unit
    /** Guarded DELETE: remove `key` only while its payload byte-equals
      * `expected` — the form orphan cleanup needs (delete OUR claim,
      * never a rival's that re-landed after a forceBreak). The default
      * is GET→compare→DELETE, which leaves a tiny TOCTOU window between
      * the compare and the delete (an operator forceBreak plus a
      * rival's re-claim inside it would void the guard — documented
      * residual race, r17 advice); bindings with a native conditional
      * delete (HTTP `If-Match`, GCS `ifGenerationMatch`) override this
      * atomically. Missing key = success (idempotent like [[delete]]). */
    def deleteIfPayload(key: Path, expected: Array[Byte]): Unit =
      try {
        if (java.util.Arrays.equals(get(key), expected)) delete(key)
      } catch {
        case _: java.nio.file.NoSuchFileException => ()
        case _: java.io.FileNotFoundException => ()
      }
    /** Remove emulation-side residue under `prefix` older than
      * `cutoffMs`. A real object store has none — a crashed PUT is
      * never visible (incomplete multipart uploads are not objects and
      * are reaped by bucket lifecycle rules) — so this defaults to a
      * no-op; the filesystem emulation overrides it to sweep its
      * staging artifacts. */
    def sweepResidue(prefix: Path, cutoffMs: Long): Unit = ()
  }

  /** Filesystem-backed [[ObjectStore]] — the in-repo stand-in that lets
    * the conditional-put protocol run (and be kill -9 tortured) without
    * egress. POSIX has no native all-or-nothing-visible PUT, so
    * `putIfAbsent` reproduces the object-store guarantee with the
    * hidden-temp + link(2) discipline: the payload is fully on disk
    * before the link makes the key exist, the link is the atomic
    * one-winner claim, and the `.obj-` temp is an EMULATION artifact —
    * invisible to [[list]] and swept by [[sweepResidue]] — with no
    * analogue in a real bucket. */
  object FsObjectStore extends ObjectStore {
    def putIfAbsent(key: Path, bytes: Array[Byte]): Boolean = {
      val parent = key.getParent
      Files.createDirectories(parent)
      val tmp = Files.createTempFile(parent, ".obj-", "")
      try {
        Files.write(tmp, bytes)
        try { Files.createLink(key, tmp); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          // temp swept by a racing vacuum: nothing became visible, so
          // "lost this attempt" is honest — the commit loop retries
          case _: java.nio.file.NoSuchFileException => false
        }
      } finally Files.deleteIfExists(tmp)
    }

    def get(key: Path): Array[Byte] = Files.readAllBytes(key)

    def list(prefix: Path): Seq[String] =
      if (!Files.isDirectory(prefix)) Seq.empty
      else {
        val s = Files.list(prefix)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filterNot(_.startsWith(".obj-")).toSeq
        finally s.close()
      }

    def delete(key: Path): Unit = Files.deleteIfExists(key)

    override def sweepResidue(prefix: Path, cutoffMs: Long): Unit = {
      if (!Files.isDirectory(prefix)) return
      val s = Files.list(prefix)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith(".obj-"))
        .filter { p =>
          try Files.getLastModifiedTime(p).toMillis < cutoffMs
          catch { case _: java.io.IOException => false } // already gone
        }
        .foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }
  }

  /** Hadoop-FS-backed [[ObjectStore]] for URI-addressed stores (the
    * [[graft.sources.StoreLock]] rebinding an HDFS deployment needs):
    * keys arrive in StoreLock's canonical `/scheme/authority/path` form
    * (`-` = empty authority) and decode back to the filesystem URI —
    * the java.nio key is OPAQUE here, never resolved locally.
    * `putIfAbsent` is `FileSystem.create(overwrite = false)`: on HDFS
    * the NameNode serializes the create, so exactly one claimer wins —
    * the same one-winner primitive link(2) gives [[FsObjectStore]]. On
    * S3A create-no-overwrite is check-then-act, NOT atomic: an S3/GCS
    * deployment binds its SDK's conditional PUT instead, as the
    * [[ConditionalPut]] scaladoc documents. Local `file` URIs carry
    * the same caveat, which is fine for what they are used for
    * (single-machine tests of this binding's mechanics). */
  final class HadoopObjectStore(conf: org.apache.hadoop.conf.Configuration)
      extends ObjectStore {
    private def uriOf(key: Path): java.net.URI = {
      val segs = (0 until key.getNameCount).map(key.getName(_).toString)
      // a scheme-less store path produces a key like '/data/idx.lock',
      // whose first segment would decode as a nonsense scheme — refuse
      // with the actual mistake named, not 'No FileSystem for scheme:
      // data' (mixing URI and scheme-less spellings of one store would
      // otherwise claim DIFFERENT locks, the exact hole the canonical
      // key form exists to close)
      require(key.isAbsolute && segs.length >= 3 &&
          segs.head.matches("[A-Za-z][A-Za-z0-9+.-]*"),
        s"HadoopObjectStore keys decode /scheme/authority/path (StoreLock's " +
          s"URI-form mapping), got '$key' — address the store by its full " +
          "URI (hdfs://authority/path), one canonical spelling per store")
      new java.net.URI(segs.head, if (segs(1) == "-") null else segs(1),
        segs.drop(2).mkString("/", "/", ""), null, null)
    }
    private def fsPath(key: Path) = {
      val u = uriOf(key)
      (org.apache.hadoop.fs.FileSystem.get(u, conf),
        new org.apache.hadoop.fs.Path(u))
    }

    def putIfAbsent(key: Path, bytes: Array[Byte]): Boolean = {
      val (fs, p) = fsPath(key)
      val out =
        try fs.create(p, false)
        catch {
          // HDFS signals the lost race as FileAlreadyExists; other IO
          // failures where the key exists mean the same thing
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
          case e: java.io.IOException => if (fs.exists(p)) return false else throw e
        }
      // past create, the key is OURS: a failed write/close must not
      // leave a holder-less empty claim that reads as "another writer
      // won" and blocks the store until a human forceBreaks — delete
      // our own partial object and surface the real failure
      try { out.write(bytes); out.close(); true }
      catch { case e: Throwable =>
        try out.close() catch { case _: Throwable => () }
        try fs.delete(p, false) catch { case _: Throwable => () }
        throw e
      }
    }

    def get(key: Path): Array[Byte] = {
      val (fs, p) = fsPath(key)
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
        buf.toByteArray
      } finally in.close()
    }

    def list(prefix: Path): Seq[String] = {
      val (fs, p) = fsPath(prefix)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).map(_.getPath.getName).toSeq
    }

    def delete(key: Path): Unit = {
      val (fs, p) = fsPath(key)
      fs.delete(p, false); ()
    }
  }

  /** S3/GCS-style conditional-put publisher: a commit is one OBJECT
    * `<v>.commit` whose existence is claimed by a single put-if-absent
    * call on the injected [[ObjectStore]]. Contrast with the hard-link
    * publisher: there is no publisher-level staging at all — stage
    * residue, sweep ordering and rename/link races are filesystem
    * problems the object-store contract erases. A deployment binds the
    * seam to its SDK (S3 `PutObject` + `If-None-Match: *`, GCS insert
    * with `ifGenerationMatch=0`); in-repo it binds to
    * [[FsObjectStore]] (the `StoreLock` default) and to the HTTP bucket,
    * plain and signed; the signed binding also carries the full
    * lifecycle matrix. */
  final class ConditionalPut(store: ObjectStore) extends CommitPublisher {
    def publish(txnDir: Path, v: Long, payload: Array[Byte]): Boolean =
      store.putIfAbsent(txnDir.resolve(commitName(v)), payload)

    def read(txnDir: Path, v: Long): Array[Byte] =
      store.get(txnDir.resolve(commitName(v)))

    def commitVersion(name: String): Option[Long] = parseCommitName(name)

    def delete(txnDir: Path, v: Long): Unit =
      store.delete(txnDir.resolve(commitName(v)))

    def sweepStaging(txnDir: Path, cutoffMs: Long): Unit =
      store.sweepResidue(txnDir, cutoffMs)

    override def listNames(txnDir: Path): Seq[String] = store.list(txnDir)
  }

  /** The conditional-put publisher over the filesystem emulation — the
    * shared instance `publisherNamed("conditionalput")` resolves, so
    * racing torture PROCESSES bind the exact same primitive. */
  val ConditionalPutFs: CommitPublisher = new ConditionalPut(FsObjectStore)

  /** Resolve a publisher by name — the process-boundary seam the
    * torture driver uses (`TxnTortureMain <dir> <max> <publisher>`).
    * `http=<endpoint>` binds the conditional-put protocol to a bucket
    * endpoint over [[graft.state.HttpBucket.HttpObjectStore]] — how the
    * cross-process tortures race real network PUTs against one bucket. */
  def publisherNamed(name: String): CommitPublisher = name match {
    case "hardlink" => HardLink
    case "conditionalput" => ConditionalPutFs
    case http if http.startsWith("http=") =>
      new ConditionalPut(new graft.state.HttpBucket.HttpObjectStore(
        java.net.URI.create(http.stripPrefix("http="))))
    case signed if signed.startsWith("sigv4=") =>
      // sigv4=<uri>;<accessKey>;<secretKey>[;<region>;<service>] — the
      // SIGNED cloud binding for cross-process tortures: every racing
      // process signs its own PUTs against the validating bucket
      signed.stripPrefix("sigv4=").split(";") match {
        case Array(uri, ak, sk, rest @ _*) =>
          val creds = graft.state.SigV4.Credentials(ak, sk,
            region = rest.headOption.getOrElse("us-east-1"),
            service = rest.lift(1).getOrElse("s3"))
          new ConditionalPut(new graft.state.HttpBucket.HttpObjectStore(
            java.net.URI.create(uri),
            signer = Some(new graft.state.SigV4.Signer(creds))))
        case _ => throw new IllegalArgumentException(
          s"malformed sigv4 publisher token '$signed'")
      }
    case other => throw new IllegalArgumentException(
      s"unknown commit publisher '$other' (hardlink | conditionalput | http=<uri> | sigv4=<uri>;ak;sk[;region;service])")
  }
}
