package graft

import java.nio.file.Files

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Pipeline}
import graft.sources.{StoreLock, Tables}

/** [[graft.sources.StoreLock]] — the data-plane stores' writer-claim
  * enforcement. Three layers:
  *
  *  1. the LOCK itself, Spark-free: reentrancy, same-JVM cross-thread
  *     exclusion, bounded-wait serialization;
  *  2. CROSS-PROCESS mutual exclusion and the kill -9 stale-claim
  *     story, against real JVMs (the [[TxnTortureMain]] honesty
  *     argument: only a real `destroyForcibly` exercises what a dying
  *     holder actually leaves);
  *  3. the RACING-DRIVERS contract on a store family: an ingest racing
  *     a compaction on one signature store serializes through the
  *     claims into a sequential-equivalent final state.
  */
class StoreLockSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def withWait[T](ms: Long)(body: => T): T = {
    val k = "graft.store.lock.waitMs"
    val old = sys.props.get(k)
    sys.props(k) = ms.toString
    try body
    finally old match { case Some(v) => sys.props(k) = v; case None => sys.props -= k }
  }

  test("reentrant on the claiming thread; released only at outermost exit") {
    val store = Files.createTempDirectory("graft-lock").toString + "/s"
    StoreLock.withLock(store, "outer") {
      assert(StoreLock.isHeld(store))
      StoreLock.withLock(store, "inner") {
        assert(StoreLock.isHeld(store))
      }
      assert(StoreLock.isHeld(store), "inner exit must not release the outer claim")
    }
    assert(!StoreLock.isHeld(store), "outermost exit must release")
    // released claim is re-acquirable
    StoreLock.withLock(store, "again")(())
  }

  test("a second thread is excluded (fail-fast) and serialized (bounded wait)") {
    val store = Files.createTempDirectory("graft-lock").toString + "/s"
    implicit val ec: ExecutionContext = ExecutionContext.global
    // fail-fast: default waitMs=0 refuses loudly naming the holder
    StoreLock.withLock(store, "holder") {
      val e = intercept[IllegalStateException] {
        Await.result(Future(StoreLock.withLock(store, "intruder")(())), Duration.Inf)
      }
      assert(e.getMessage.contains("held by another writer") &&
        e.getMessage.contains("op=holder"), e.getMessage)
    }
    // bounded wait: two threads hammer a deliberately non-atomic
    // read-modify-write; serialization through the lock is the only
    // thing that can keep every increment
    withWait(60000) {
      var n = 0L
      val fs = (1 to 2).map(_ => Future {
        (1 to 200).foreach { _ =>
          StoreLock.withLock(store, "rmw") {
            val v = n; Thread.`yield`(); n = v + 1
          }
        }
      })
      Await.result(Future.sequence(fs), Duration.Inf)
      assert(n === 400L, "the bounded-wait path must serialize, not drop updates")
    }
    assert(!StoreLock.isHeld(store))
  }

  test("withLockWaiting floors the contention wait without touching the global default") {
    val store = Files.createTempDirectory("graft-lock-floor").toString + "/s"
    implicit val ec: ExecutionContext = ExecutionContext.global
    // default waitMs=0 (fail-fast) stays in force for plain withLock —
    // but the floored variant polls past a transient hold and wins
    val release = new java.util.concurrent.CountDownLatch(1)
    val holderIn = new java.util.concurrent.CountDownLatch(1)
    val holder = Future {
      StoreLock.withLock(store, "sweep") { holderIn.countDown(); release.await() }
    }
    holderIn.await()
    // plain withLock under the default still fails fast
    intercept[IllegalStateException](StoreLock.withLock(store, "batch")(()))
    val waiter = Future {
      StoreLock.withLockWaiting(store, "batch", 30000L) { "ran" }
    }
    Thread.sleep(300) // the waiter is now polling inside its floor
    release.countDown()
    Await.result(holder, Duration.Inf)
    assert(Await.result(waiter, Duration.Inf) == "ran",
      "a floored claim must serialize behind a transient hold, not die")
    assert(!StoreLock.isHeld(store))
  }

  test("withLockIfAvailable: None only for acquisition failures; body failures propagate; floor scopes reach nested claims") {
    val store = Files.createTempDirectory("graft-lock-avail").toString + "/s"
    implicit val ec: ExecutionContext = ExecutionContext.global
    // acquired: runs under the claim, returns Some
    assert(StoreLock.withLockIfAvailable(store, "op") {
      assert(StoreLock.isHeld(store)); 42
    } === Some(42))
    // contended (fail-fast default): None — the backfill fallback signal
    StoreLock.withLock(store, "holder") {
      assert(Await.result(
        Future(StoreLock.withLockIfAvailable(store, "op")(42)), Duration.Inf).isEmpty)
    }
    // a body failure is NOT an unavailable claim — it must propagate,
    // even when it is itself an IllegalArgumentException (the
    // BloomSidecar review finding: a swallowed persist failure would be
    // silent degradation)
    val e = intercept[IllegalArgumentException] {
      StoreLock.withLockIfAvailable(store, "op") {
        require(false, "rename refused"); 0
      }
    }
    assert(e.getMessage.contains("rename refused"))
    assert(!StoreLock.isHeld(store), "the claim must release after a body failure")
    // withWaitFloor: a PLAIN withLock inside the scope inherits the
    // floor — the streaming admission plane's shape, where the claims
    // live levels below the foreachBatch body that sets the policy
    val release = new java.util.concurrent.CountDownLatch(1)
    val holderIn = new java.util.concurrent.CountDownLatch(1)
    val holder = Future {
      StoreLock.withLock(store, "sweep") { holderIn.countDown(); release.await() }
    }
    holderIn.await()
    val waiter = Future {
      StoreLock.withWaitFloor(30000L) {
        StoreLock.withLock(store, "batch") { "ran" }
      }
    }
    Thread.sleep(300)
    release.countDown()
    Await.result(holder, Duration.Inf)
    assert(Await.result(waiter, Duration.Inf) == "ran",
      "a floored scope must make nested plain claims wait, not die")
    assert(!StoreLock.isHeld(store))
  }

  private def onPool[T](pool: java.util.concurrent.ExecutorService)(body: => T) =
    pool.submit(new java.util.concurrent.Callable[T] { def call(): T = body })

  test("hand-off: workers re-enter the caller's claim, a foreign thread is still refused, concurrent re-entries net out") {
    val store = Files.createTempDirectory("graft-lock-handoff").toString + "/s"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      StoreLock.withLock(store, "caller") {
        assert(StoreLock.depth(store) === 1)
        StoreLock.handingOff { claims =>
          // four workers re-enter the one claim at once, many times over:
          // a lost depth update would leave the count off by the race
          val workers = (1 to 4).map(_ => onPool(pool)(claims {
            (1 to 2000).foreach { _ =>
              StoreLock.withLock(store, "worker") {
                assert(StoreLock.depth(store) >= 2, "a worker runs inside the caller's claim")
              }
            }
            StoreLock.isHeld(store)
          }))
          assert(workers.forall(_.get()), "every worker re-entered the held claim")
        }
        assert(StoreLock.depth(store) === 1,
          "concurrent re-entries must leave the caller's depth as they found it")
        // a thread the claims were not handed to still contends and,
        // under the fail-fast default, is refused naming the holder
        val e = intercept[java.util.concurrent.ExecutionException] {
          onPool(pool)(StoreLock.withLock(store, "intruder")(())).get()
        }
        assert(e.getCause.isInstanceOf[IllegalStateException] &&
          e.getCause.getMessage.contains("op=caller"), e.getCause.toString)
      }
      assert(StoreLock.depth(store) === 0 && !StoreLock.isHeld(store),
        "the caller's exit releases the claim")
      // a hand-off outlives nothing: used after its scope it refuses
      val leaked = StoreLock.handingOff(identity)
      intercept[IllegalStateException](leaked(()))
    } finally pool.shutdown()
  }

  test("hand-off: the wait floor reaches the workers; no claim is released while a worker runs") {
    val base = Files.createTempDirectory("graft-lock-handoff-floor").toString
    val (mine, busy) = (base + "/mine", base + "/busy")
    implicit val ec: ExecutionContext = ExecutionContext.global
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      // a sweep holds `busy` briefly; under the fail-fast default only a
      // floor the worker inherited can make its claim wait instead of die
      val release = new java.util.concurrent.CountDownLatch(1)
      val holderIn = new java.util.concurrent.CountDownLatch(1)
      val holder = Future {
        StoreLock.withLock(busy, "sweep") { holderIn.countDown(); release.await() }
      }
      holderIn.await()
      val workerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val heldThroughout = new java.util.concurrent.atomic.AtomicBoolean(true)
      StoreLock.withWaitFloor(30000L) {
        StoreLock.withLock(mine, "caller") {
          StoreLock.handingOff { claims =>
            val started = new java.util.concurrent.CountDownLatch(1)
            onPool(pool)(claims {
              started.countDown()
              StoreLock.withLock(busy, "worker") {
                heldThroughout.compareAndSet(true, StoreLock.isHeld(mine))
              }
              Thread.sleep(300)
              heldThroughout.compareAndSet(true, StoreLock.isHeld(mine))
              workerDone.set(true)
            })
            started.await()
            Thread.sleep(200) // the worker now polls inside its floor
            release.countDown()
            // the body returns without waiting for its worker
          }
          assert(workerDone.get(),
            "the hand-off scope must not return while a worker runs under it")
        }
      }
      Await.result(holder, Duration.Inf)
      assert(heldThroughout.get(), "the caller's claim must be held for the worker's whole run")
      assert(!StoreLock.isHeld(mine) && !StoreLock.isHeld(busy))
    } finally pool.shutdown()
  }

  test("isHeld answers for a URI store directly under the authority root") {
    // r16 advice: the lock key's PARENT for "scheme://auth/x" is the
    // 2-segment "/scheme/auth", which HadoopObjectStore's key decoder
    // rightly refuses — a parent LISTING made isHeld error for valid
    // store paths. isHeld now probes the lock key itself (GET +
    // not-found), which always decodes.
    val store = new graft.state.TxnLog.HadoopObjectStore(
      new org.apache.hadoop.conf.Configuration())
    val prev = StoreLock.objectStore
    StoreLock.objectStore = store
    try {
      assert(!StoreLock.isHeld("file:///graft-absent-authority-root-store"),
        "an unclaimed authority-root store must answer false, not throw")
    } finally StoreLock.objectStore = prev
  }

  test("cross-PROCESS mutual exclusion: two racing JVMs lose no read-modify-write") {
    val d = Files.createTempDirectory("graft-lock-proc").toString
    val cp = System.getProperty("java.class.path")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val procs = (1 to 2).map(_ =>
      new ProcessBuilder(javaBin, "-cp", cp, "graft.StoreLockTortureMain", d, "150")
        .redirectOutput(ProcessBuilder.Redirect.DISCARD)
        .redirectError(ProcessBuilder.Redirect.INHERIT)
        .start())
    try {
      assert(procs.forall(_.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)),
        "torture processes must terminate")
      assert(procs.forall(_.exitValue() == 0), "torture processes must exit clean")
    } finally { procs.foreach(_.destroyForcibly()); procs.foreach(_.waitFor()) }
    val n = new String(Files.readAllBytes(
      java.nio.file.Paths.get(d, "counter")), "UTF-8").trim.toLong
    assert(n === 300L,
      s"every increment must survive (lost updates = broken mutex), got $n")
    assert(!StoreLock.isHeld(d + "/store"), "clean exits must release")
  }

  test("kill -9 leaves a stale claim: loud refusal, operator forceBreak, then proceed") {
    val d = Files.createTempDirectory("graft-lock-kill").toString
    val cp = System.getProperty("java.class.path")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val p = new ProcessBuilder(javaBin, "-cp", cp, "graft.StoreLockTortureMain", d, "hold")
      .redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
    try {
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!Files.exists(java.nio.file.Paths.get(d, "holding")) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(Files.exists(java.nio.file.Paths.get(d, "holding")),
        "holder process must have claimed the store")
    } finally { p.destroyForcibly(); p.waitFor() }
    // the kill -9'd holder could not release: the claim is stale on disk
    assert(StoreLock.isHeld(d + "/store"), "kill -9 must leave the stale claim")
    val e = intercept[IllegalStateException] {
      StoreLock.withLock(d + "/store", "successor")(())
    }
    assert(e.getMessage.contains("held by another writer") &&
      e.getMessage.contains("op=torture-hold") &&
      e.getMessage.contains("forceBreak"), e.getMessage)
    // the operator path: verify the holder is dead (we killed it), break, proceed
    StoreLock.forceBreak(d + "/store")
    StoreLock.withLock(d + "/store", "successor")(())
    assert(!StoreLock.isHeld(d + "/store"))
  }

  test("racing drivers on one store family: ingest vs compaction serialize to the sequential state") {
    // the multi-writer contract on DocStores, driven for real: one
    // writer ingests a batch through Pipeline.ingestDocs while another
    // loops compactSignatures on the same store. Under the writer
    // claims every interleaving is sequential-equivalent: compaction
    // never swaps mid-append, the guard-to-append window stays closed,
    // and the final logical content equals one-shot signatures over the
    // full corpus. (Cross-PROCESS atomicity of the claim primitive is
    // proven above; Spark drivers race here as threads because two
    // local[4] sessions in one test JVM is the honest equivalent.)
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val boot = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
    val late = docs.filter(pmod(col("doc_id"), lit(2L)) === 1)
    val base = Files.createTempDirectory("graft-lock-race").toString
    val sig = base + "/sig"
    Dedup.writeSignatures(Dedup.signaturesOf(boot), sig)
    withWait(120000) {
      implicit val ec: ExecutionContext = ExecutionContext.global
      val ingest = Future {
        Pipeline.ingestDocs(spark,
          Pipeline.DocStores(signatures = Some(sig)), late, batchId = 5L)
      }
      val compact = Future {
        (1 to 3).foreach { _ => Dedup.compactSignatures(spark, sig); Thread.sleep(20) }
      }
      Await.result(Future.sequence(Seq(ingest, compact)), Duration.Inf)
    }
    // final fold, then the sequential-equivalence check
    Dedup.compactSignatures(spark, sig, foldBelow = 100L)
    val stored = spark.read.parquet(sig).drop("batch_id")
    val oneShot = Dedup.signaturesOf(docs)
    assert(stored.count() === oneShot.count() &&
      stored.exceptAll(oneShot).count() === 0L,
      "racing ingest/compaction must serialize to the one-shot store content")
    assert(!StoreLock.isHeld(sig), "all claims released")
  }

  test("path contract: URIs refuse under the local binding, claim under a rebound one; stable keys throughout") {
    // a lock file on THIS machine's disk cannot exclude a writer on
    // another machine from a shared remote store — a URI under the
    // default local binding refuses loudly instead of silently voiding
    // the exclusion
    val uri = intercept[IllegalArgumentException] {
      StoreLock.withLock("s3a://bucket/sig", "op")(())
    }
    assert(uri.getMessage.contains("local"), uri.getMessage)
    // a bare colon inside a path segment is NOT a URI — it stays a
    // local path under the default binding, as FileSystem would treat it
    val colonDir = Files.createTempDirectory("graft-colon").toString
    StoreLock.withLock(colonDir + "/runs:2026/sig", "op")(
      assert(StoreLock.isHeld(colonDir + "/runs:2026/sig")))
    // in-memory conditional-PUT binding (the S3 semantics, the TxnLog
    // seam-contract shape): claims must go through the BOUND store and
    // normalize cwd-independently
    object mem extends graft.state.TxnLog.ObjectStore {
      val objects = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
      def putIfAbsent(key: java.nio.file.Path, bytes: Array[Byte]): Boolean =
        objects.putIfAbsent(key.toString, bytes.clone()) == null
      def get(key: java.nio.file.Path): Array[Byte] = {
        val b = objects.get(key.toString)
        if (b == null) throw new java.nio.file.NoSuchFileException(key.toString)
        b.clone()
      }
      def list(prefix: java.nio.file.Path): Seq[String] = {
        import scala.jdk.CollectionConverters._
        val p = prefix.toString + "/"
        objects.keySet().asScala.filter(_.startsWith(p))
          .map(k => java.nio.file.Paths.get(k).getFileName.toString).toSeq
      }
      def delete(key: java.nio.file.Path): Unit = objects.remove(key.toString)
    }
    val prev = StoreLock.objectStore
    StoreLock.objectStore = mem
    try {
      // a relative path would resolve against EACH driver's cwd —
      // refused before any claim lands
      val rel = intercept[IllegalArgumentException] {
        StoreLock.withLock("data/sig", "op")(())
      }
      assert(rel.getMessage.contains("ABSOLUTE"), rel.getMessage)
      // two spellings of one absolute path → ONE normalized key: the
      // second claimer contends instead of silently claiming a twin,
      // and isHeld answers through the bound store (no filesystem)
      implicit val ec: ExecutionContext = ExecutionContext.global
      StoreLock.withLock("/graft-mem/x/../x/store", "holder") {
        assert(StoreLock.isHeld("/graft-mem/x/store"))
        val e = intercept[IllegalStateException] {
          Await.result(
            Future(StoreLock.withLock("/graft-mem/x/store", "intruder")(())),
            Duration.Inf)
        }
        assert(e.getMessage.contains("holder"), e.getMessage)
      }
      assert(!StoreLock.isHeld("/graft-mem/x/store"))
      assert(mem.objects.isEmpty, "release must go through the bound store")
      // URI-addressed stores (the Hadoop-FS paths every data-plane face
      // accepts) claim under the rebound binding: spellings of one URI
      // normalize to ONE cwd-independent /scheme/authority/path key —
      // java.net.URI semantics, never java.nio mangling
      StoreLock.withLock("hdfs://nn:8020/data/../data/idx/", "holder") {
        assert(StoreLock.isHeld("hdfs://nn:8020/data/idx"))
        assert(mem.objects.keys().nextElement() == "/hdfs/nn:8020/data/idx.lock",
          "the key must be the canonical decodable form")
        // a '//' spelling (naive path concatenation) must RE-ENTER the
        // same claim, not contend with its own thread — URI.normalize
        // keeps empty segments, the key builder must not
        StoreLock.withLock("hdfs://nn:8020/data//idx", "holder")(
          assert(mem.objects.size() == 1, "one claim, all spellings"))
        val e = intercept[IllegalStateException] {
          Await.result(
            Future(StoreLock.withLock("hdfs://nn:8020/data/idx", "intruder")(())),
            Duration.Inf)
        }
        assert(e.getMessage.contains("holder"), e.getMessage)
      }
      assert(!StoreLock.isHeld("hdfs://nn:8020/data/idx"))
      assert(mem.objects.isEmpty, "URI release must go through the bound store")
    } finally StoreLock.objectStore = prev
  }

  test("writer claims over the HTTP bucket binding: URI stores claim, contend, re-enter and release across a real network hop") {
    // the cloud-deployment shape end to end: StoreLock rebound to the
    // conditional-PUT REST client, store addressed by its bucket-scheme
    // URI — the exact configuration the scaladoc prescribes for S3/GCS,
    // here against the in-repo bucket emulation (1 ms HTTP latency)
    val staging = Files.createTempDirectory("graft-bucket-lock")
    val server = new graft.state.HttpBucket.Server(staging, latencyMs = 1)
    val prev = StoreLock.objectStore
    StoreLock.objectStore =
      new graft.state.HttpBucket.HttpObjectStore(java.net.URI.create(server.uri))
    try {
      implicit val ec: ExecutionContext = ExecutionContext.global
      StoreLock.withLock("s3a://bucket/corpus/sig", "ingest") {
        assert(StoreLock.isHeld("s3a://bucket/corpus/sig"),
          "isHeld must answer through the HTTP binding")
        // reentrant across URI spellings of the same store
        StoreLock.withLock("s3a://bucket/corpus//sig", "ingest")(())
        val e = intercept[IllegalStateException] {
          Await.result(
            Future(StoreLock.withLock("s3a://bucket/corpus/sig", "compact")(())),
            Duration.Inf)
        }
        assert(e.getMessage.contains("op=ingest"), e.getMessage)
      }
      assert(!StoreLock.isHeld("s3a://bucket/corpus/sig"))
      assert(server.size == 0, "release must delete the claim object")

      // the guarded delete the orphan-cleanup path now uses (r17
      // advice): If-Match arbitration server-side — our payload is
      // removed, a rival's that re-landed after a forceBreak is NOT
      val store = StoreLock.objectStore
      val k = java.nio.file.Paths.get("/bucket/corpus/sig.lock")
      val ours = "pid=1 op=ingest nonce=a".getBytes("UTF-8")
      val rivals = "pid=2 op=compact nonce=b".getBytes("UTF-8")
      assert(store.putIfAbsent(k, ours))
      store.deleteIfPayload(k, ours)
      assert(server.size == 0, "byte-ours claim must be removed")
      store.deleteIfPayload(k, ours) // idempotent on a missing key
      assert(store.putIfAbsent(k, rivals))
      store.deleteIfPayload(k, ours) // guarded: rival's claim survives
      assert(new String(store.get(k), "UTF-8") == new String(rivals, "UTF-8"),
        "conditional delete must never remove another writer's live claim")
      store.delete(k)
    } finally {
      StoreLock.objectStore = prev
      server.stop()
    }
  }

  test("HadoopObjectStore: create-no-overwrite one-winner claims over a real FileSystem") {
    // the HDFS rebinding's mechanics driven against the local Hadoop
    // FileSystem (file scheme, '-' = empty authority in the key form —
    // the atomicity CLAIM is the NameNode's create serialization, which
    // local FS cannot demonstrate; this proves the binding's key
    // decode, payload round-trip, list and idempotent delete)
    val store = new graft.state.TxnLog.HadoopObjectStore(
      new org.apache.hadoop.conf.Configuration())
    val base = Files.createTempDirectory("graft-hos").toString // e.g. /tmp/...
    val key = java.nio.file.Paths.get("/file/-" + base + "/claims/a.lock")
    assert(store.putIfAbsent(key, "pid=1 op=ingest".getBytes("UTF-8")),
      "first claim wins (parents auto-created)")
    assert(!store.putIfAbsent(key, "pid=2 op=compact".getBytes("UTF-8")),
      "second claim loses without clobbering")
    assert(new String(store.get(key), "UTF-8") == "pid=1 op=ingest",
      "the winner's payload survives the lost race")
    assert(store.list(java.nio.file.Paths.get("/file/-" + base + "/claims"))
      == Seq("a.lock"))
    store.delete(key)
    store.delete(key) // idempotent
    assert(store.list(java.nio.file.Paths.get("/file/-" + base + "/claims")).isEmpty)
    // a scheme-less key form (a store addressed without its URI) must
    // refuse naming the mistake, not decode a nonsense scheme — mixing
    // spellings of one store would otherwise claim different locks
    val bad = intercept[IllegalArgumentException] {
      store.putIfAbsent(java.nio.file.Paths.get("/data/idx.lock"), Array[Byte](1))
    }
    assert(bad.getMessage.contains("canonical spelling"), bad.getMessage)
    // end to end: StoreLock over this binding with a URI store path
    val prev = StoreLock.objectStore
    StoreLock.objectStore = store
    try {
      var ran = false
      StoreLock.withLock(s"file://$base/uri-store", "op") {
        ran = true
        assert(StoreLock.isHeld(s"file://$base/uri-store"))
        assert(Files.exists(java.nio.file.Paths.get(s"$base/uri-store.lock")),
          "the claim must land on the DECODED filesystem, not a local java.nio key")
      }
      assert(ran && !StoreLock.isHeld(s"file://$base/uri-store"))
    } finally StoreLock.objectStore = prev
  }
}
