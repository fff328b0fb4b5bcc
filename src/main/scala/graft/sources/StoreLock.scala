package graft.sources

import java.nio.file.{Path, Paths}

import graft.state.TxnLog

/** Per-store WRITER CLAIM for the data-plane stores (signature / vector /
  * posting / model) — the enforcement the store families' documented
  * single-writer mutation protocol previously left to caller convention.
  * Two drivers racing `Pipeline.ingestDocs`, or an ingest racing a
  * compaction's directory swap, now SERIALIZE (bounded wait) or FAIL
  * LOUDLY naming the holder — never interleave silently.
  *
  * Mechanism: a sibling lock file `<store>.lock` (outside the store dir,
  * so compaction's live→`.bak`→swap renames never move it) claimed with
  * one atomic put-if-absent on the [[TxnLog.ObjectStore]] seam — the
  * conditional-PUT primitive the commit log already ships kill -9
  * torture-proven. The default binding is [[TxnLog.FsObjectStore]]
  * (hidden-temp + link(2): atomic on POSIX and NFS) for scheme-less
  * local/NFS store paths. A URI-addressed store (hdfs://, s3a:// — the
  * Hadoop-FS paths every data-plane face accepts) locks through a
  * REBOUND [[objectStore]] sharing the writers' medium:
  * [[TxnLog.HadoopObjectStore]] for HDFS (create-no-overwrite, which
  * the NameNode serializes), the SDK's conditional PUT for S3/GCS
  * (`If-None-Match: *` / `ifGenerationMatch=0`), exactly as the commit
  * log documents. Keys normalize cwd-independently (java.net.URI for
  * URI form — java.nio would mangle "//" and prefix the cwd, silently
  * voiding the exclusion); a URI under the default LOCAL binding and a
  * relative path under a rebinding are refused loudly. One CANONICAL
  * spelling per store: the lock key is derived from the path as
  * written, so drivers addressing one physical store as BOTH
  * "hdfs://nn/idx" and (defaultFS-relative) "/idx" would claim
  * different keys — [[TxnLog.HadoopObjectStore]] refuses the
  * scheme-less key form loudly; a generic SDK binding cannot tell and
  * the deployment owns the discipline. The payload names the holder
  * (pid, op, timestamp) so contention errors are actionable.
  *
  * Semantics:
  *  - REENTRANT per claimant: the claiming thread, plus the worker
  *    threads it hands its claims to through an explicit [[handingOff]]
  *    scope. The composition entry points (`ingestDocs`) claim their
  *    routed stores up front, fan the per-store work out one worker per
  *    store, and the append/retract faces the workers call re-enter the
  *    caller's claims, so the guard-to-append window is closed under ONE
  *    continuous claim. Any other thread still contends. The scope
  *    returns only after every worker has left it, so no claim is
  *    released while a worker runs under it.
  *  - Multi-store claims are acquired in the caller's FIXED order
  *    (`DocStores` field order), so two racing multi-store writers
  *    cannot deadlock; a `forgetDocs` worker holds one claim and waits
  *    for no other.
  *  - Contention waits up to `-Dgraft.store.lock.waitMs` (default 0 =
  *    fail fast) polling the claim, then fails loudly.
  *  - A CLEAN exit releases (finally + a JVM shutdown hook); a kill -9
  *    leaves a stale lock whose payload says who died — the next writer
  *    refuses loudly and an operator (or an orchestrator restart policy
  *    that has verified the holder is gone) clears it with
  *    [[forceBreak]]. No lease auto-expiry: takeover without fencing
  *    would let a stalled—not dead—holder resume mid-swap into a store
  *    another writer now owns, the exact silent interleaving this class
  *    exists to prevent.
  *  - READERS never lock: every read face is crash-consistent through
  *    `recover()` + atomic directory swaps and tombstone subtraction;
  *    the lock serializes MUTATIONS only.
  *
  * Scale: two object-store metadata calls per mutation (claim +
  * release) — nothing touches the data plane; contention cost is
  * O(writers) on a per-store file, independent of store size.
  */
object StoreLock {

  /** The conditional-PUT binding — rebind for S3/GCS deployments (one
    * assignment at driver start, before any store mutation). */
  @volatile var objectStore: TxnLog.ObjectStore = TxnLog.FsObjectStore

  /** How long a contended claim polls before failing loudly. */
  private def waitMs: Long =
    sys.props.get("graft.store.lock.waitMs")
      .map(v => v.trim.toLongOption.getOrElse(sys.error(
        s"graft.store.lock.waitMs must be a long, got '$v'")))
      .getOrElse(0L)

  def lockPath(store: String): String = normalize(store) + ".lock"

  private def normalize(store: String): String =
    // URI form = scheme followed by a slashed path ("hdfs://nn/x",
    // "file:/x") — a bare colon inside a path segment ("runs:2026/sig")
    // stays a filesystem path, matching what FileSystem.get would make
    // of each
    if (store.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*")) {
      // URI-addressed store (hdfs://, s3a://, … — every data-plane face
      // speaks Hadoop FS, so the lock must too). java.nio cannot
      // faithfully represent a URI ("//" collapses, toAbsolutePath
      // prefixes the cwd), so the key is built from java.net.URI alone:
      // the canonical, cwd-independent `/scheme/authority/path` form
      // that [[TxnLog.HadoopObjectStore]] decodes back to the
      // filesystem. Under the DEFAULT local binding a URI still refuses
      // loudly — a lock file on THIS machine's disk cannot exclude a
      // writer on another machine from a shared remote store, which
      // would silently void the mutual exclusion this class exists for.
      if (objectStore eq TxnLog.FsObjectStore) throw new AddressingRefused(
        s"StoreLock: URI-addressed store '$store' under the default local " +
          "object-store binding — a local lock cannot exclude remote " +
          "writers. Bind StoreLock.objectStore to the deployment's shared " +
          "medium first (TxnLog.HadoopObjectStore for HDFS, the SDK " +
          "conditional-PUT binding for S3/GCS)")
      val u = java.net.URI.create(store).normalize()
      require(u.getPath != null && u.getPath.startsWith("/"),
        s"StoreLock: URI store path must be absolute, got '$store'")
      val auth = Option(u.getAuthority).filter(_.nonEmpty).getOrElse("-")
      // URI.normalize removes dot segments but NOT empty or trailing
      // ones — '//' and trailing-slash spellings must not claim a twin
      // key (worse: Paths.get collapses '//' later, so the in-process
      // reentrancy map and the object-store key would disagree and a
      // thread could contend with itself)
      val p = u.getPath.replaceAll("/+", "/") match {
        case "/" => "/"
        case q if q.endsWith("/") => q.dropRight(1)
        case q => q
      }
      s"/${u.getScheme.toLowerCase(java.util.Locale.ROOT)}/$auth$p"
    } else {
      // under a rebound binding the key must not depend on this driver's
      // cwd (another claimer may run elsewhere): require absolute up front
      if (!(objectStore eq TxnLog.FsObjectStore) && !Paths.get(store).isAbsolute)
        throw new AddressingRefused(
          s"StoreLock under a rebound object store requires an ABSOLUTE store path, " +
            s"got '$store' — a relative path would resolve against each driver's cwd")
      Paths.get(store).toAbsolutePath.normalize.toString
    }

  /** The lock plane's DELIBERATE addressing refusals (a URI store under
    * the default local binding, a relative path under a rebound one) —
    * its own type so [[withLockIfAvailable]] can classify exactly these
    * as "may not claim" while a malformed store string (URI.create's own
    * IllegalArgumentException, a binding's key-decode refusal) stays a
    * LOUD caller bug. */
  final class AddressingRefused(msg: String) extends IllegalArgumentException(msg)

  // reentrancy bookkeeping: normalized store path -> (holder thread,
  // depth); depth changes through compute, so workers re-entering one
  // claim at once never lose an update
  private final case class Held(holder: Thread, depth: Int)
  private val held = new java.util.concurrent.ConcurrentHashMap[String, Held]()

  // the threads whose claims this thread may re-enter besides its own:
  // set for the duration of a HandOff.apply, empty elsewhere
  private val actingFor = new ThreadLocal[List[Thread]] {
    override def initialValue(): List[Thread] = Nil
  }

  // a kill -9 cannot run this (that is the stale-lock story); a clean
  // exit between a crash-interrupted `finally` and JVM death can
  private lazy val shutdownHook: Thread = {
    val t = new Thread(() => {
      held.keySet().forEach { k =>
        try objectStore.delete(Paths.get(k + ".lock"))
        catch { case _: Throwable => () }
      }
    }, "graft-store-lock-release")
    Runtime.getRuntime.addShutdownHook(t)
    t
  }

  private def holderInfo(lock: Path): String =
    try new String(objectStore.get(lock), "UTF-8")
    catch { case _: Throwable => "unknown" }

  /** Run `body` holding the store's exclusive writer claim. Reentrant on
    * the claiming thread and on the workers it hands its claims to
    * ([[handingOff]]); contended acquisition polls up to
    * `graft.store.lock.waitMs` then throws naming the holder. */
  def withLock[T](store: String, op: String)(body: => T): T =
    withLockWaiting(store, op, 0L)(body)

  /** Run `body` under the claim IF it can be acquired; [[None]] iff the
    * claim is UNAVAILABLE — contended past the wait, or this store's
    * addressing is refused by the current binding (a URI under the
    * default local binding, a relative path under a rebound one).
    * Exceptions from `body` itself PROPAGATE: only acquisition is
    * optional, never the work — a caller that treated its own failure
    * as "claim unavailable" would silently swallow it (the
    * BloomSidecar backfill's review finding). */
  def withLockIfAvailable[T](store: String, op: String)(body: => T): Option[T] = {
    // `entered` separates acquisition failures (body never started →
    // None) from the body's own exceptions (entered → rethrown) — the
    // body still runs UNDER the claim. Pre-entry None covers exactly:
    // contention past the wait, the two deliberate AddressingRefused
    // cases, and a lock-MEDIUM IO failure (an unreachable bucket must
    // not kill a read path that only wanted to persist a cache — the
    // r17 review's 'READERS never lock' regression). A malformed store
    // string (plain IllegalArgumentException) stays loud.
    var entered = false
    try Some(withLock(store, op) { entered = true; body })
    catch {
      case _: IllegalStateException if !entered => None // contended past the wait
      case _: AddressingRefused if !entered => None // binding refuses this addressing
      case e: java.io.IOException if !entered =>
        // lock medium unreachable — still None (a read path that only
        // wanted to persist a cache must not die), but NAMED (r17
        // advice): a permanently misbound endpoint would otherwise be
        // indistinguishable from contention while every call silently
        // pays the full rebuild
        System.err.println(s"[store-lock] claim unavailable for $store ($op): " +
          s"lock medium IO failure ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  // Thread-scoped wait floor (see withWaitFloor): a scope around a
  // foreachBatch body floors EVERY claim the batch's store mutations
  // take — including the ones buried inside Pipeline.ingestDocs/
  // forgetDocs and the append faces, which a per-call-site floor could
  // never reach. Those entry points run their per-store work on worker
  // threads; the floor reaches them through the HandOff (handingOff).
  private val waitFloorMs = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  /** Run `body` with every [[withLock]] acquisition ON THIS THREAD, and
    * on the workers it hands its claims to ([[handingOff]]), flooring
    * its contention wait at `minWaitMs` (nested scopes keep the larger
    * floor). The streaming admission plane wraps each micro-batch
    * in this: a maintenance sweep holding a store for seconds must DELAY
    * the batch, not kill the streaming query — and the property still
    * only raises waits, never lowers the deployment-wide setting. */
  def withWaitFloor[T](minWaitMs: Long)(body: => T): T = {
    val prev = waitFloorMs.get()
    waitFloorMs.set(math.max(prev, minWaitMs))
    try body finally waitFloorMs.set(prev)
  }

  /** As [[withLock]] but with a FLOOR on the contention wait: the
    * effective wait is max(graft.store.lock.waitMs, minWaitMs, any
    * enclosing [[withWaitFloor]] scope). For callers that must not fail
    * fast under transient contention — a streaming micro-batch's admit
    * claim racing a maintenance sweep should serialize behind the
    * sweep's seconds-long hold, not kill the streaming query (r16
    * advice). The system property still RAISES the wait
    * deployment-wide; the floor only prevents the default fail-fast
    * from applying where fail-fast is the wrong semantics. */
  def withLockWaiting[T](store: String, op: String, minWaitMs: Long)(body: => T): T = {
    val key = normalize(store)
    val me = Thread.currentThread()
    val mine = me :: actingFor.get()
    def ours(h: Held) = h != null && mine.exists(_ eq h.holder)
    // one atomic step decides and records the re-entry: the remapping
    // returns a deeper Held exactly when the claim is ours
    if (ours(held.computeIfPresent(key, (_, h) => if (ours(h)) h.copy(depth = h.depth + 1) else h))) {
      try body
      finally held.computeIfPresent(key, (_, h) => h.copy(depth = h.depth - 1))
    } else {
      val lock = Paths.get(key + ".lock")
      // no local mkdir here: FsObjectStore.putIfAbsent creates parents
      // itself, and a rebound remote binding must see no local FS writes
      // nonce enforces the object-store seam's writer-unique-payload
      // contract STRUCTURALLY (r17 advice): pid/thread/ts alone are
      // unique only as long as Instant resolution and thread naming
      // cooperate; the per-call nonce makes two claim attempts never
      // byte-equal, so 412-by-payload disambiguation can never co-claim
      val payload =
        (s"pid=${ProcessHandle.current().pid()} op=$op " +
          s"thread=${me.getName} ts=${java.time.Instant.now()} " +
          s"nonce=${java.util.UUID.randomUUID()}").getBytes("UTF-8")
      val deadline = System.currentTimeMillis() +
        math.max(waitMs, math.max(minWaitMs, waitFloorMs.get()))
      shutdownHook // register the release hook once, lazily
      def lockAbsent(): Boolean =
        try { objectStore.get(lock); false }
        catch {
          case _: java.nio.file.NoSuchFileException => true
          case _: java.io.FileNotFoundException => true
        }
      val won =
        try {
          var w = objectStore.putIfAbsent(lock, payload)
          while (!w && System.currentTimeMillis() < deadline) {
            Thread.sleep(math.min(100L, math.max(1L, deadline - System.currentTimeMillis())))
            // probe-first poll (r17 review): while the claim is held, a
            // GET answers the question without re-uploading the payload —
            // against a billed bucket a 30 s floored wait would otherwise
            // cost ~600 write-path request pairs per waiter. The PUT
            // still arbitrates the race once the key reads absent.
            if (lockAbsent()) w = objectStore.putIfAbsent(lock, payload)
          }
          w
        } catch { case e: Throwable =>
          // Best-effort orphan cleanup: over a network binding our PUT
          // may have been APPLIED even though the attempt ultimately
          // threw (every response lost) — an unreleased claim naming a
          // LIVE pid would wedge the store against forceBreak's
          // verify-the-holder-is-dead rule. GUARDED delete through the
          // seam (r17 advice): only removed while the payload is still
          // byte-ours, so a forceBreak + rival re-claim landing mid-
          // cleanup keeps the rival's live claim (atomic under the HTTP
          // binding's If-Match; the filesystem default's tiny residual
          // window is documented at the seam). If even this cleanup
          // cannot reach the bucket, the claim ages into the documented
          // stale-claim operator story.
          try objectStore.deleteIfPayload(lock, payload)
          catch { case _: Throwable => () }
          throw e
        }
      if (!won) throw new IllegalStateException(
        s"store $store is held by another writer (${holderInfo(lock)}); " +
          "concurrent mutations would interleave appends and compaction swaps — " +
          "wait for it (or raise -Dgraft.store.lock.waitMs), or " +
          "StoreLock.forceBreak the stale claim if that driver crashed")
      held.put(key, Held(me, 1))
      try body
      finally {
        held.remove(key)
        try objectStore.delete(lock)
        catch { case e: Throwable =>
          System.err.println(s"[store-lock] could not release $lock: $e")
        }
      }
    }
  }

  /** The calling thread's claims and wait floor, as handed to worker
    * threads inside a [[handingOff]] scope. */
  final class HandOff private[StoreLock] (claimants: List[Thread], floorMs: Long) {
    private var active = 0
    private var closed = false

    /** Run `body` on THIS (worker) thread as the handing thread's
      * claimant: [[withLock]] re-enters every claim it holds, and its
      * wait floor applies. Refused once the scope has closed — a late
      * task must not act under claims that may be released. */
    def apply[T](body: => T): T = {
      synchronized {
        if (closed) throw new IllegalStateException(
          "StoreLock hand-off used after its scope closed")
        active += 1
      }
      val (prevActing, prevFloor) = (actingFor.get(), waitFloorMs.get())
      actingFor.set(claimants ++ prevActing)
      waitFloorMs.set(math.max(prevFloor, floorMs))
      try body
      finally {
        actingFor.set(prevActing)
        waitFloorMs.set(prevFloor)
        synchronized { active -= 1; notifyAll() }
      }
    }

    private[StoreLock] def close(): Unit = synchronized {
      closed = true
      // uninterruptible: leaving early would let the caller release a
      // claim a worker still mutates under
      var interrupted = false
      while (active > 0)
        try wait() catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
    }
  }

  /** Run `body` with a [[HandOff]] of this thread's claims for worker
    * threads to run under. Returns (or rethrows) only once every worker
    * that entered the hand-off has left it, so the claims this thread
    * holds around the scope cannot be released while a worker runs. */
  def handingOff[T](body: HandOff => T): T = {
    val h = new HandOff(Thread.currentThread() :: actingFor.get(), waitFloorMs.get())
    try body(h) finally h.close()
  }

  /** Claim depth of `store` in this JVM — 0 when unclaimed (specs). */
  private[graft] def depth(store: String): Int =
    Option(held.get(normalize(store))).fold(0)(_.depth)

  /** Acquire the stores' claims in the given FIXED order, run `body`,
    * release in reverse — the multi-store entry points' shape
    * ([[graft.operators.Pipeline.ingestDocs]]). */
  def withLocks[T](stores: Seq[String], op: String)(body: => T): T =
    stores match {
      case Seq() => body
      case h +: t => withLock(h, op)(withLocks(t, op)(body))
    }

  /** Operator escape hatch: clear a stale claim after verifying its
    * holder is dead (the payload names the pid). Deleting a LIVE
    * writer's claim reintroduces exactly the interleaving the lock
    * prevents — this is a human/orchestrator decision, never automatic. */
  def forceBreak(store: String): Unit =
    objectStore.delete(Paths.get(lockPath(store)))

  /** True iff a claim currently exists (diagnostics/specs) — answered
    * through the bound store so a rebinding changes this too. Probes the
    * lock KEY directly (GET + not-found) rather than listing its parent:
    * for a URI store directly under the authority root ("hdfs://nn/idx")
    * the parent key "/hdfs/nn" has only two segments, which
    * [[TxnLog.HadoopObjectStore]]'s key decoder rightly refuses — a
    * parent listing would error for valid store paths (r16 advice). */
  def isHeld(store: String): Boolean = {
    val lock = Paths.get(lockPath(store))
    try { objectStore.get(lock); true }
    catch {
      // the two not-found spellings the bindings throw: java.nio
      // (FsObjectStore, in-memory emulations) and java.io (Hadoop FS)
      case _: java.nio.file.NoSuchFileException => false
      case _: java.io.FileNotFoundException => false
    }
  }
}
