package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.BloomSidecar

/** The shared Bloom-sidecar protocol's own contract — previously pinned
  * only through its two consumers (the dedup bucket pre-gate and the
  * ingest id guard). What both probes lean on: no false negative EVER
  * (a miss is provably novel), false positives allowed (re-checked
  * exactly downstream), bits independent of how the build was
  * partitioned, absorb keeps the filter a superset BEFORE rows land,
  * and the replace is residue-free. */
class BloomSidecarSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def keysDf(ks: Seq[String]) = {
    val sp = s; import sp.implicits._
    ks.toDF("k")
  }

  test("backfill serializes with writers: under another thread's claim it answers but never persists") {
    // the r16-advice race: a compaction drops the sidecar, an append's
    // absorb no-ops (absent), and a LOCK-FREE backfill built from a
    // pre-append scan would persist a filter missing the appended keys —
    // a silent false negative every later reader inherits. The fix:
    // ensureFrom's build-and-persist branch claims the store's writer
    // lock; while a writer holds it, the backfill still returns a filter
    // usable for THIS read (consistent with its own snapshot) but leaves
    // nothing on disk for later readers to trust.
    val sc = new BloomSidecar("_t4.bin", 1 << 12, 5)
    val store = Files.createTempDirectory("graft-bloomlk").toString + "/st"
    Files.createDirectories(java.nio.file.Paths.get(store))
    val ks = (0 until 50).map(i => s"k-$i")
    graft.sources.StoreLock.withLock(store, "append-in-flight") {
      // run ensureFrom from ANOTHER thread (the lock is reentrant only
      // for its claimant and the workers it hands its claims to, so the
      // race exists across any other threads or processes)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val bytes = Await.result(Future(sc.ensureFrom(s, store)(keysDf(ks))), Duration.Inf)
      val (k, bits) = graft.functions.GBloom.decode(bytes)
      ks.foreach(key => assert(graft.functions.GBloom.contains(bits, k,
        key.getBytes("UTF-8")), "the unpersisted filter still answers"))
      assert(sc.read(s, store).isEmpty,
        "a contended backfill must NOT persist a possibly-stale filter")
    }
    // claim released: the backfill persists and is idempotent
    val bytes = sc.ensureFrom(s, store)(keysDf(ks))
    assert(sc.read(s, store).map(_.toSeq).contains(bytes.toSeq))
    assert(!graft.sources.StoreLock.isHeld(store),
      "the backfill's own claim must release")
  }

  test("superset invariant end to end: ensure, absorb, probe — no false negative anywhere") {
    val sc = new BloomSidecar("_t1.bin", 1 << 12, 5)
    val store = Files.createTempDirectory("graft-bloomsc").toString
    // absorb BEFORE the sidecar exists is a no-op (ensure's full build
    // covers whatever landed first) — no file may appear
    sc.absorb(s, store, keysDf(Seq("early")))
    assert(sc.read(s, store).isEmpty, "absorb must not create the sidecar")
    val a = (0 until 400).map(i => s"a-$i")
    val bytes0 = sc.ensureFrom(s, store)(keysDf(a))
    assert(sc.read(s, store).map(_.toSeq).contains(bytes0.toSeq),
      "ensure persists exactly what it returns")
    val b = (0 until 400).map(i => s"b-$i")
    sc.absorb(s, store, keysDf(b))
    val bytes1 = sc.read(s, store).get
    val (k, bits) = graft.functions.GBloom.decode(bytes1)
    (a ++ b).foreach { key =>
      assert(graft.functions.GBloom.contains(bits, k, key.getBytes("UTF-8")),
        s"false negative for '$key' — the one-sidedness both probes rest on")
    }
    // the probe column agrees with the direct bits for hits, misses and
    // nulls (whichever of the native expression / UDF paths is active)
    val probes = keysDf(a.take(3) ++ b.take(3) ++ Seq("novel-1", "novel-2"))
      .union(keysDf(Seq("x")).select(lit(null).cast("string").as("k")))
    val got = probes.select(col("k"), sc.mightContain(col("k"), bytes1).as("m"))
      .collect().map(r => (Option(r.getString(0)), if (r.isNullAt(1)) None else Some(r.getBoolean(1))))
    got.foreach {
      case (None, m) => assert(m.isEmpty, "null key must probe null, not a verdict")
      case (Some(key), m) =>
        assert(m.contains(graft.functions.GBloom.contains(bits, k, key.getBytes("UTF-8"))),
          s"probe column disagrees with the filter bits for '$key'")
    }
  }

  test("one-sided error: a dense small filter answers maybe for absent keys, never no for present ones") {
    // 256 bits × 40 keys × 3 hashes ≈ 37% density — false positives are
    // FINDABLE, which is the point: the contract is one-sided, and the
    // exact re-check downstream is what absorbs the maybes
    val sc = new BloomSidecar("_t2.bin", 256, 3)
    val store = Files.createTempDirectory("graft-bloomfp").toString
    val present = (0 until 40).map(i => s"key-$i")
    val bytes = sc.ensureFrom(s, store)(keysDf(present))
    val (k, bits) = graft.functions.GBloom.decode(bytes)
    present.foreach(key =>
      assert(graft.functions.GBloom.contains(bits, k, key.getBytes("UTF-8"))))
    val fp = (0 until 100000).iterator.map(i => s"absent-$i")
      .find(key => graft.functions.GBloom.contains(bits, k, key.getBytes("UTF-8")))
    assert(fp.nonEmpty, "a ~37%-dense 3-hash filter must yield a false positive " +
      "within 100k candidates — if not, the hash scheme changed")
  }

  test("bits are partitioning-invariant: 1-partition and 8-partition builds agree byte for byte") {
    val sc = new BloomSidecar("_t3.bin", 1 << 12, 5)
    val ks = (0 until 1000).map(i => s"part-$i")
    val one = sc.buildOf(keysDf(ks).coalesce(1))
    val eight = sc.buildOf(keysDf(ks).repartition(8))
    assert(one.toSeq == eight.toSeq,
      "OR-merge associativity is what lets the build distribute")
  }

  test("replace is residue-free and heals a stale tmp from a crashed writer") {
    val sc = new BloomSidecar("_t4.bin", 1 << 10, 5)
    val store = Files.createTempDirectory("graft-bloomrepl").toString
    // a writer that died between create(tmp) and rename leaves .tmp —
    // the next write must replace the live file and leave no residue
    Files.createDirectories(java.nio.file.Paths.get(store))
    Files.write(java.nio.file.Paths.get(store, "_t4.bin.tmp"), Array[Byte](1, 2, 3))
    sc.ensureFrom(s, store)(keysDf(Seq("x", "y")))
    sc.absorb(s, store, keysDf(Seq("z")))
    assert(!Files.exists(java.nio.file.Paths.get(store, "_t4.bin.tmp")),
      "the write-aside tmp must not survive a completed replace")
    val (k, bits) = graft.functions.GBloom.decode(sc.read(s, store).get)
    Seq("x", "y", "z").foreach(key =>
      assert(graft.functions.GBloom.contains(bits, k, key.getBytes("UTF-8"))))
  }
}
