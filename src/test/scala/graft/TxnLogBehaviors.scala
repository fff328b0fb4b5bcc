package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.scalatest.funsuite.AnyFunSuite

import graft.state.{CommitPublisher, MonitorEvent, MwStateStore, TxnLog}

/** The commit-protocol claims that must hold for EVERY
  * [[CommitPublisher]] — one winner per version, serializable
  * read-modify-write, crash-invisible staging, floor-guarded version
  * reuse, dense seqs under racing driver THREADS, and a dense log under
  * racing driver PROCESSES dying to real kill -9. Concrete suites bind
  * a publisher, one suite per binding — [[graft.MwStateStoreSpec]] (the
  * POSIX hard link), [[TxnLogConditionalPutSpec]] (conditional put over
  * the filesystem emulation, the `StoreLock` default),
  * [[TxnLogHttpPutSpec]] (unsigned HTTP bucket) and
  * [[TxnLogSignedHttpPutSpec]] (SigV4-signed HTTP bucket) — the
  * [[LifecycleBehaviors]] pattern: protocol semantics are written once,
  * so a publisher cannot pass with weaker guarantees than the default. */
trait TxnLogBehaviors extends AnyFunSuite {
  protected def spark: org.apache.spark.sql.SparkSession
  def publisher: CommitPublisher
  def publisherName: String
  /** What a racing torture PROCESS passes to `TxnLog.publisherNamed` to
    * bind the same primitive — the publisher name itself except for
    * bindings that carry dynamic endpoints (the HTTP bucket's URI). */
  def tortureToken: String = publisherName
  /** Plant the wreckage of a writer killed between staging and publish,
    * in THIS publisher's staging representation; returns the planted
    * path (for the sweep assertion). */
  def plantCrashedStaging(txnDir: Path): Path

  private def tmpDir(): String =
    Files.createTempDirectory(s"graft-txn-$publisherName").toString

  private def newLog(dir: String) = new TxnLog(dir, publisher)

  private def mev(key: String): MonitorEvent =
    MonitorEvent(
      run_key = key, event_seq = 0L, module_id = 1L,
      run_date = java.sql.Timestamp.from(java.time.Instant.parse("2026-02-01T10:00:00Z")),
      run_id = 0L, parameters = None, audit_id = None, run_status = "R",
      sub_system = None, exclusive_run_yn = None, control_date = None,
      end_time = None, records_processed = None, records_in_error = None)

  test(s"[$publisherName] exactly one writer wins each version; losers observe the winner") {
    val log = newLog(tmpDir())
    assert(log.tryCommit(1L, "a\n1"))
    assert(!log.tryCommit(1L, "b\n1"), "second claim of a version must fail")
    assert(log.latestVersion() === 1L)
    assert(log.commitsAfter(0L) === Seq(1L -> "a\n1"),
      "the losing payload must never be readable")
  }

  test(s"[$publisherName] commit retries re-derive the payload against the new snapshot") {
    val log = newLog(tmpDir())
    log.commit(v => s"k\nfirst at $v")
    var attempts = 0
    val won = log.commit { v =>
      attempts += 1
      if (attempts == 1) log.tryCommit(v, s"k\nintruder at $v") // steal our version
      s"k\nmine at $v"
    }
    assert(won === 3L && attempts === 2,
      "after losing v=2 to the intruder the payload must be re-derived for v=3")
    assert(log.commitsAfter(0L).map(_._2) ===
      Seq("k\nfirst at 1", "k\nintruder at 2", "k\nmine at 3"))
  }

  test(s"[$publisherName] staging without its publish is invisible and vacuum sweeps it when stale") {
    val dir = tmpDir()
    val log = newLog(dir)
    log.commit(_ => "k\nreal")
    // a writer that crashed between staging and publish
    val txnDir = Paths.get(dir, "_txn")
    Files.createDirectories(txnDir)
    val wreck = plantCrashedStaging(txnDir)
    assert(log.latestVersion() === 1L)
    assert(log.commitsAfter(0L).map(_._2) === Seq("k\nreal"))
    log.vacuum(0L) // default staleness: a FRESH staging could be in-flight
    assert(Files.exists(wreck),
      "an age-blind sweep would delete live writers' in-flight staging")
    log.vacuum(0L, staleMs = -1000L) // declared stale → swept
    assert(!Files.exists(wreck))
    assert(log.commitsAfter(0L).map(_._2) === Seq("k\nreal"))
  }

  test(s"[$publisherName] the floor prevents version reuse after vacuum") {
    val log = newLog(tmpDir())
    (1 to 3).foreach(i => log.commit(_ => s"k\n$i"))
    log.vacuum(3L) // as if a checkpoint covered everything
    assert(log.latestVersion() === 0L, "raw listing under-reports history")
    assert(log.latestVersion(floor = 3L) === 3L)
    val v = log.commit(_ => "k\n4", floor = 3L)
    assert(v === 4L, "a post-vacuum commit must not reuse version 1")
  }

  test(s"[$publisherName] 8 racing drivers, 200 appends: seqs are exactly 1..200, all events kept") {
    val dir = tmpDir()
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 8).map { d =>
        Future {
          // own instance = own driver
          val store = new MwStateStore(spark, dir, publisher = publisher)
          (1 to 25).map(i => store.appendMonitorEvent(mev(s"run-$d-$i")))
        }
      }
      val seqs = Await.result(Future.sequence(futures), Duration.Inf).flatten
      assert(seqs.sorted === (1L to 200L), "returned seqs must be dense and unique")
      val store = new MwStateStore(spark, dir, publisher = publisher)
      val rows = store.monitorEvents.select("event_seq", "run_key").collect()
      assert(rows.map(_.getLong(0)).sorted.toSeq === (1L to 200L))
      assert(rows.map(_.getString(1)).distinct.length === 200, "no event lost")
    } finally pool.shutdown()
  }

  test(s"[$publisherName] kill -9 torture: racing writer PROCESSES die mid-protocol, log stays dense") {
    // Real OS kill, not simulation: three plain-JVM writers (TxnLog is
    // Spark-free, so they boot in well under a second) hammer one log
    // and are destroyed forcibly mid-commit. Whatever instant the kill
    // lands — half-written staging, staging without publish, mid-claim —
    // the surviving log must hold a dense 1..max version sequence of
    // fully-formed payloads, and a fresh writer must continue at max+1.
    val dir = tmpDir()
    val cp = System.getProperty("java.class.path")
    val java = System.getProperty("java.home") + "/bin/java"
    // spawns INSIDE the try (a failed third start must still kill the
    // first two) and bounded by maxCommits — an orphan that outlives a
    // crashed test JVM self-terminates instead of filling the disk
    val procs = scala.collection.mutable.ArrayBuffer.empty[Process]
    try {
      (1 to 3).foreach { _ =>
        procs += new ProcessBuilder(
            java, "-cp", cp, "graft.TxnTortureMain", dir, "100000", tortureToken)
          .redirectOutput(ProcessBuilder.Redirect.DISCARD)
          .redirectError(ProcessBuilder.Redirect.DISCARD)
          .start()
      }
      // let them boot and commit for a while, then kill mid-flight
      val deadline = System.nanoTime() + 15_000_000_000L
      while (newLog(dir).latestVersion() < 30 && System.nanoTime() < deadline)
        Thread.sleep(100)
    } finally {
      procs.foreach(_.destroyForcibly())
      procs.foreach(_.waitFor())
    }
    val log = newLog(dir)
    val commits = log.commitsAfter(0L)
    assert(commits.length >= 30, s"writers must have committed, got ${commits.length}")
    assert(commits.map(_._1) === (1L to commits.length.toLong),
      "versions must be dense with no gaps despite kill -9")
    commits.foreach { case (v, p) =>
      val lines = p.split('\n')
      assert(lines.length == 2 && lines(0) == "torture" &&
        lines(1).startsWith("{\"pid\":") && lines(1).endsWith(s",\"v\":$v}"),
        s"commit $v must be fully formed, got: $p")
    }
    // no writer's (pid, i) pair may appear twice (no double-commit)
    val pids = commits.map(_._2.split('\n')(1).replaceAll(",\"v\":\\d+\\}$", ""))
    assert(pids.distinct.length === pids.length, "no (pid, i) double-commits")
    // a fresh writer continues above everything the dead ones durably won
    assert(log.commit(v => s"torture\npost-crash at $v") === commits.length + 1L)
  }
}

/** [[TxnLogBehaviors]] on the S3/GCS-style conditional-put publisher
  * (over the filesystem [[TxnLog.FsObjectStore]] emulation), plus the
  * seam-contract tests that prove the publisher is genuinely injectable:
  * a purely in-memory [[TxnLog.ObjectStore]] — no filesystem
  * representation of commits at all — passes the same one-winner /
  * serializable-retry protocol, pinning that every commit-plane
  * operation flows through the four object calls a real SDK binds. */
class TxnLogConditionalPutSpec extends TxnLogBehaviors {
  protected lazy val spark = TestSpark.spark
  def publisher: CommitPublisher = TxnLog.ConditionalPutFs
  def publisherName: String = "conditionalput"
  def plantCrashedStaging(txnDir: Path): Path = {
    // the emulation's only residue shape: a writer killed mid-PUT, after
    // the temp write but before the link made the object exist
    Files.write(txnDir.resolve(".obj-crashed"), "k\nghost".getBytes)
  }

  /** In-memory object store: the commit log's entire `_txn/` contents
    * live in a ConcurrentHashMap keyed by path string. putIfAbsent is
    * the map's own atomic claim — exactly the S3 semantics, with zero
    * filesystem involvement. */
  private final class MemObjectStore extends TxnLog.ObjectStore {
    val objects = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
    def putIfAbsent(key: Path, bytes: Array[Byte]): Boolean =
      objects.putIfAbsent(key.toString, bytes.clone()) == null
    def get(key: Path): Array[Byte] = {
      val b = objects.get(key.toString)
      if (b == null) throw new java.nio.file.NoSuchFileException(key.toString)
      b.clone()
    }
    def list(prefix: Path): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val p = prefix.toString + "/"
      objects.keySet().asScala.filter(_.startsWith(p))
        .map(k => Paths.get(k).getFileName.toString).toSeq
    }
    def delete(key: Path): Unit = objects.remove(key.toString)
  }

  test("[conditionalput] seam contract: a pure in-memory ObjectStore carries the full protocol") {
    val mem = new MemObjectStore
    val dir = Files.createTempDirectory("graft-txn-mem").toString
    val log = new TxnLog(dir, new TxnLog.ConditionalPut(mem))
    // one winner per version
    assert(log.tryCommit(1L, "k\na"))
    assert(!log.tryCommit(1L, "k\nb"))
    assert(log.commitsAfter(0L) === Seq(1L -> "k\na"))
    // serializable retry re-derives against the stolen snapshot
    var attempts = 0
    val won = log.commit { v =>
      attempts += 1
      if (attempts == 1) log.tryCommit(v, s"k\nintruder at $v")
      s"k\nmine at $v"
    }
    assert(won === 3L && attempts === 2)
    // vacuum via DELETE; floor prevents reuse
    log.vacuum(2L)
    assert(log.latestVersion(floor = 3L) === 3L)
    assert(log.commit(_ => "k\npost", floor = 3L) === 4L)
    // nothing about the commits ever touched the filesystem
    assert(TxnLog.FsObjectStore.list(Paths.get(dir, "_txn")).isEmpty,
      "commit objects must live in the injected store, not on disk")
    assert(mem.objects.size === 2) // versions 3 and 4 survive the vacuum
  }

  test("[conditionalput] racing writers over the in-memory seam stay dense") {
    val mem = new MemObjectStore
    val dir = Files.createTempDirectory("graft-txn-mem-race").toString
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 8).map { d =>
        Future {
          val log = new TxnLog(dir, new TxnLog.ConditionalPut(mem))
          (1 to 25).map(i => log.commit(v => s"k\nd$d-i$i at $v"))
        }
      }
      val versions = Await.result(Future.sequence(futures), Duration.Inf).flatten
      assert(versions.sorted === (1L to 200L),
        "every writer's won versions must be unique and collectively dense")
    } finally pool.shutdown()
  }
}

/** [[TxnLogBehaviors]] over the CLOUD-shape binding (r16 verdict item
  * 2): commits published through [[graft.state.HttpBucket
  * .HttpObjectStore]] — a real REST client doing `If-None-Match: *`
  * conditional PUTs over loopback HTTP against the in-repo bucket
  * emulation, per-request latency included. Same protocol matrix as
  * the filesystem emulation, plus the two fault drills a network
  * binding adds: transient-5xx retry and the lost-response 412
  * ambiguity. The kill -9 torture races three writer PROCESSES through
  * real network PUTs against one bucket (the `http=<uri>` token). */
class TxnLogHttpPutSpec extends TxnLogBehaviors
    with org.scalatest.BeforeAndAfterAll {
  protected lazy val spark = TestSpark.spark
  private lazy val staging = Files.createTempDirectory("graft-bucket-staging")
  private lazy val server = new graft.state.HttpBucket.Server(staging, latencyMs = 1)
  private lazy val store =
    new graft.state.HttpBucket.HttpObjectStore(java.net.URI.create(server.uri))
  def publisher: CommitPublisher = new TxnLog.ConditionalPut(store)
  def publisherName: String = "httpput"
  override def tortureToken: String = s"http=${server.uri}"
  def plantCrashedStaging(txnDir: Path): Path = {
    // incomplete-multipart residue: the one crash artifact a real bucket
    // has, reaped by lifecycle rules (the sweep endpoint here) — planted
    // under the PREFIX's own staging area, where this log's sweep looks
    // and other logs' sweeps do not
    val dir = server.stagingDirFor(txnDir.toString)
    Files.createDirectories(dir)
    Files.write(dir.resolve(".part-crashed"), "k\nghost".getBytes)
  }
  override def afterAll(): Unit = {
    try server.stop() finally super.afterAll()
  }

  test("[httpput] transient 503s: bounded client retry, still exactly one winner") {
    val st2 = Files.createTempDirectory("graft-bucket-flaky")
    val flaky = new graft.state.HttpBucket.Server(st2, failFirstPuts = 2)
    try {
      val c = new graft.state.HttpBucket.HttpObjectStore(
        java.net.URI.create(flaky.uri))
      val key = Paths.get("/flaky/_txn/1.commit")
      assert(c.putIfAbsent(key, "k\na".getBytes("UTF-8")),
        "the claim must survive two injected 503s")
      assert(!c.putIfAbsent(key, "k\nb".getBytes("UTF-8")),
        "the loser still loses once the key is served")
      assert(new String(c.get(key), "UTF-8") == "k\na")
    } finally flaky.stop()
  }

  test("[httpput] lost 200: an applied PUT whose response was lost reports the WIN, not a phantom loss") {
    val st3 = Files.createTempDirectory("graft-bucket-lost")
    // the server applies the put, then the 503 stands in for the lost
    // response — the client's retry reads 412 and must disambiguate by
    // payload (writer-unique by contract) instead of conceding
    val lossy = new graft.state.HttpBucket.Server(st3,
      failFirstPuts = 1, applyBeforeFail = true)
    try {
      val c = new graft.state.HttpBucket.HttpObjectStore(
        java.net.URI.create(lossy.uri))
      val key = Paths.get("/lossy/_txn/1.commit")
      assert(c.putIfAbsent(key, "k\nwinner-pid-7".getBytes("UTF-8")),
        "applied-but-unacknowledged must resolve to true via payload equality")
      assert(!c.putIfAbsent(key, "k\nother-pid-9".getBytes("UTF-8")),
        "a genuinely different writer still reads the 412 as a loss")
    } finally lossy.stop()
  }
}

/** [[TxnLogBehaviors]] over the SIGNED cloud binding (r17 verdict item
  * 3): the same HTTP conditional-put protocol, but every request
  * carries SigV4 — canonical request / signing-key chain / per-attempt
  * re-signing — against the bucket emulation in signature-VALIDATING
  * mode (wrong or missing signature = 403, recomputed server-side from
  * the raw request, independently of the client's construction path).
  * The kill -9 torture races three writer PROCESSES, each signing its
  * own PUTs (the `sigv4=<uri>;ak;sk` token). On top of the matrix:
  * the two network-fault drills under signatures (each retry must
  * RE-sign, and the lost-response 412 resolution must survive signed
  * retries), and the tamper drills (no signature, wrong secret,
  * stripped precondition header). */
class TxnLogSignedHttpPutSpec extends TxnLogBehaviors
    with org.scalatest.BeforeAndAfterAll {
  protected lazy val spark = TestSpark.spark
  private val creds = graft.state.SigV4.Credentials("GRAFTKEY", "graft-secret-7")
  private def signedClient(uri: String, maxRetries: Int = 5) =
    new graft.state.HttpBucket.HttpObjectStore(java.net.URI.create(uri),
      maxRetries = maxRetries, signer = Some(new graft.state.SigV4.Signer(creds)))
  private lazy val staging = Files.createTempDirectory("graft-bucket-signed")
  private lazy val server = new graft.state.HttpBucket.Server(staging,
    latencyMs = 1, credentials = Some(creds))
  def publisher: CommitPublisher = new TxnLog.ConditionalPut(signedClient(server.uri))
  def publisherName: String = "sigv4put"
  override def tortureToken: String =
    s"sigv4=${server.uri};${creds.accessKey};${creds.secretKey}"
  def plantCrashedStaging(txnDir: Path): Path = {
    val dir = server.stagingDirFor(txnDir.toString)
    Files.createDirectories(dir)
    Files.write(dir.resolve(".part-crashed"), "k\nghost".getBytes)
  }
  override def afterAll(): Unit = {
    try {
      assert(server.authRejections.get() === 0,
        "the matrix must run with every request verifying — a rejection would mean retried-as-accident coverage")
      server.stop()
    } finally super.afterAll()
  }

  test("[sigv4put] transient 503s: every retry re-signs, one winner, zero auth rejections") {
    val st = Files.createTempDirectory("graft-signed-flaky")
    val flaky = new graft.state.HttpBucket.Server(st, failFirstPuts = 2,
      credentials = Some(creds))
    try {
      val c = signedClient(flaky.uri)
      val key = Paths.get("/signed/_txn/1.commit")
      assert(c.putIfAbsent(key, "k\na".getBytes("UTF-8")),
        "the claim must survive two injected 503s with fresh signatures")
      assert(!c.putIfAbsent(key, "k\nb".getBytes("UTF-8")))
      assert(new String(c.get(key), "UTF-8") == "k\na")
      assert(flaky.authRejections.get() === 0,
        "re-signed retries must all verify — a stale-signature replay would 403")
    } finally flaky.stop()
  }

  test("[sigv4put] lost 200 under signatures: the 412 ambiguity resolves by payload across re-signed retries") {
    val st = Files.createTempDirectory("graft-signed-lost")
    val lossy = new graft.state.HttpBucket.Server(st,
      failFirstPuts = 1, applyBeforeFail = true, credentials = Some(creds))
    try {
      val c = signedClient(lossy.uri)
      val key = Paths.get("/signed/_txn/1.commit")
      assert(c.putIfAbsent(key, "k\nwinner-pid-7".getBytes("UTF-8")),
        "applied-but-unacknowledged must still resolve to the WIN when every hop is signed")
      assert(!c.putIfAbsent(key, "k\nother-pid-9".getBytes("UTF-8")))
      assert(lossy.authRejections.get() === 0)
    } finally lossy.stop()
  }

  test("[sigv4put] unsigned and wrong-secret clients are refused 403, loudly") {
    val key = Paths.get("/signed/_tamper/1.commit")
    val unsigned = new graft.state.HttpBucket.HttpObjectStore(
      java.net.URI.create(server.uri), maxRetries = 0)
    val e1 = intercept[java.io.IOException] {
      unsigned.putIfAbsent(key, "k\nx".getBytes("UTF-8"))
    }
    assert(e1.getMessage.contains("403"), e1.getMessage)
    val badCreds = graft.state.SigV4.Credentials(creds.accessKey, "not-the-secret")
    val wrong = new graft.state.HttpBucket.HttpObjectStore(
      java.net.URI.create(server.uri), maxRetries = 0,
      signer = Some(new graft.state.SigV4.Signer(badCreds)))
    val e2 = intercept[java.io.IOException] {
      wrong.putIfAbsent(key, "k\nx".getBytes("UTF-8"))
    }
    assert(e2.getMessage.contains("403"), e2.getMessage)
    assert(server.authRejections.getAndSet(0) === 2)
    // nothing landed: the tamper attempts must not have claimed the key
    intercept[java.nio.file.NoSuchFileException] {
      signedClient(server.uri).get(key)
    }
  }

  test("[sigv4put] a malformed x-amz-date is a 403 rejection, never a retried 5xx") {
    // r18 review: the validator must CLASSIFY garbage as a rejection —
    // an escaping parse exception would surface as 500, which the
    // client treats as transient and retries to exhaustion
    val uri = java.net.URI.create(s"${server.uri}/signed/_tamper/3.commit")
    val payload = "k\nx".getBytes("UTF-8")
    val hdrs = new graft.state.SigV4.Signer(creds)
      .headers("PUT", uri, Seq("If-None-Match" -> "*"), payload)
      .map { case ("x-amz-date", v) =>
               // keep the credential-scope date prefix so the request
               // reaches the PARSE, not the earlier prefix check
               ("x-amz-date", v.take(8) + "Tnotatime")
             case kv => kv }
    val b = java.net.http.HttpRequest.newBuilder(uri).header("If-None-Match", "*")
    hdrs.foreach { case (k, v) => b.header(k, v) }
    val resp = java.net.http.HttpClient.newHttpClient().send(
      b.PUT(java.net.http.HttpRequest.BodyPublishers.ofByteArray(payload)).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() === 403, s"got ${resp.statusCode()}: ${resp.body()}")
    server.authRejections.set(0)
  }

  test("[sigv4put] a stripped precondition header invalidates the signature — the one-winner claim is AUTHENTICATED") {
    // sign a PUT with If-None-Match under SignedHeaders, then send it
    // WITHOUT the header (the middlebox-strips-the-precondition attack
    // the scaladoc claims the signature prevents): the validator must
    // 403 it, never serve it as an unconditional PUT
    val uri = java.net.URI.create(s"${server.uri}/signed/_tamper/2.commit")
    val payload = "k\nstripped".getBytes("UTF-8")
    val hdrs = new graft.state.SigV4.Signer(creds)
      .headers("PUT", uri, Seq("If-None-Match" -> "*"), payload)
    val b = java.net.http.HttpRequest.newBuilder(uri)
    hdrs.foreach { case (k, v) => b.header(k, v) } // signature headers only
    val req = b.PUT(java.net.http.HttpRequest.BodyPublishers.ofByteArray(payload)).build()
    val resp = java.net.http.HttpClient.newHttpClient()
      .send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() === 403, s"got ${resp.statusCode()}: ${resp.body()}")
    assert(resp.body().contains("if-none-match"), resp.body())
    server.authRejections.set(0)
  }
}

/** The full [[LifecycleBehaviors]] matrix with commits crossing the
  * SIGNED bucket binding. */
class SignedHttpPutMwLifecycleSpec extends LifecycleBehaviors
    with org.scalatest.BeforeAndAfterAll {
  private val creds = graft.state.SigV4.Credentials("GRAFTKEY", "graft-secret-7")
  private lazy val staging = Files.createTempDirectory("graft-bucket-signed-mw")
  private lazy val server = new graft.state.HttpBucket.Server(staging,
    credentials = Some(creds))
  def makeStore(dir: String): graft.state.ControlStore =
    new MwStateStore(spark, dir, checkpointEvery = 7,
      publisher = new TxnLog.ConditionalPut(
        new graft.state.HttpBucket.HttpObjectStore(java.net.URI.create(server.uri),
          signer = Some(new graft.state.SigV4.Signer(creds)))))
  override def afterAll(): Unit = {
    try {
      assert(server.authRejections.get() === 0)
      server.stop()
    } finally super.afterAll()
  }
}
