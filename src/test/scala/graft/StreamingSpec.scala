package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lifecycle.Maintenance
import graft.operators.EventOps
import graft.operators.Pipeline.DocStores
import graft.sources.Tables
import graft.streaming.EventStreams

final case class StreamEvent(ts: Timestamp, user_id: Long, event_type: String, value: Double)

final case class DocEvent(doc_id: Long, ts: Timestamp, text: String)

final case class DocText(doc_id: Long, text: String)

final case class VecRow(vec_id: Long, embedding: Seq[Float])


final case class PurchaseEvent(p_event_id: Long, p_user_id: Long, p_ts: Timestamp)
final case class ClickEvent(c_event_id: Long, c_user_id: Long, c_ts: Timestamp)

/** EventStreams is one logical shape for two execution modes: the batch
  * run must agree with EventOps' oracle-verified queries, and the
  * streaming run (MemoryStream micro-batches) must agree with the batch
  * run on the same rows. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.from(java.time.Instant.parse(s))

  /** A vector micro-batch is its own vectors frame (vec_id ≡ doc_id):
    * the `vectorsFor` of a vector-only [[DocStores]] ingest. */
  private val vectorsOf: org.apache.spark.sql.DataFrame => Option[org.apache.spark.sql.DataFrame] =
    Some(_)

  test("batch hourlyAgg equals the oracle-verified qWindowHourly") {
    val viaStream = EventStreams.hourlyAgg(Tables.events(spark, TestSpark.sfDir))
      .orderBy("hour_ts", "event_type").collect().toSeq
    val viaBatch = EventOps.qWindowHourly(spark, TestSpark.sfDir)
      .select(col("hour_ts"), col("event_type"), col("n"), col("sum_value"))
      .collect().toSeq
    assert(viaStream === viaBatch)
  }

  test("streaming hourlyAgg over MemoryStream micro-batches equals batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamEvent]
    val events = Seq(
      StreamEvent(ts("2026-08-12T10:05:00Z"), 1, "click", 1.5),
      StreamEvent(ts("2026-08-12T10:55:00Z"), 2, "click", 2.5),
      StreamEvent(ts("2026-08-12T11:05:00Z"), 1, "view", 4.0),
      StreamEvent(ts("2026-08-12T10:30:00Z"), 3, "click", 8.0))
    val q = EventStreams.hourlyAgg(input.toDF())
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("complete").start()
    try {
      input.addData(events.take(2))
      q.processAllAvailable()
      input.addData(events.drop(2)) // second micro-batch updates state
      q.processAllAvailable()
      val got = spark.table("hourly_out")
        .orderBy("hour_ts", "event_type")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
      val expected = EventStreams.hourlyAgg(events.toDF())
        .orderBy("hour_ts", "event_type")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(got === expected)
      assert(got.map(_._3).sum === 4L)
    } finally q.stop()
  }

  test("stateful sessionizer (flatMapGroupsWithState) equals the batch lag-gap query") {
    val events = Tables.events(spark, TestSpark.sfDir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .as[graft.streaming.EventStreams.SessionEvent]
    val stateful = graft.streaming.EventStreams.sessionizeStateful(events)
      .toDF().orderBy("user_id", "ts", "event_id")
      .select("user_id", "event_id", "session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val lagGap = EventOps.qSessionize(spark, TestSpark.sfDir)
      .select("user_id", "event_id", "session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stateful === lagGap)
  }

  test("stateful sessionizer carries state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStreams.{SessionEvent, sessionizeStateful}
    val input = MemoryStream[SessionEvent]
    val q = sessionizeStateful(input.toDS()).toDF()
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // batch 1: two events 10 min apart → one session
      input.addData(
        SessionEvent(1, 1, ts("2026-08-12T10:00:00Z")),
        SessionEvent(1, 2, ts("2026-08-12T10:10:00Z")))
      q.processAllAvailable()
      // batch 2: +10 min continues session 1; +2 h opens session 2
      input.addData(
        SessionEvent(1, 3, ts("2026-08-12T10:20:00Z")),
        SessionEvent(1, 4, ts("2026-08-12T12:30:00Z")))
      q.processAllAvailable()
      val got = spark.table("sess_out").orderBy("event_id")
        .collect().map(r => (r.getLong(1), r.getLong(3))).toSeq
      assert(got === Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L)),
        "state (last ts + session number) must survive the micro-batch boundary")
    } finally q.stop()
  }

  test("stateful heavy hitters carry MG counters across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStreams.{TokenEvent, heavyHittersStateful}
    val input = MemoryStream[TokenEvent]
    val q = heavyHittersStateful(input.toDS(), capacity = 2).toDF()
      .writeStream.format("memory").queryName("hh_out")
      .outputMode("update").start()
    try {
      input.addData(
        TokenEvent("en", "a", 1), TokenEvent("en", "a", 2),
        TokenEvent("en", "a", 3), TokenEvent("en", "b", 4))
      q.processAllAvailable()
      val afterB1 = spark.table("hh_out")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(afterB1 === Set(("en", "a", 3L), ("en", "b", 1L)))
      // batch 2: one 'c' against full capacity-2 state {a:3, b:1}.
      // MG decrements all → {a:2}; a fresh (state-lost) buffer would
      // instead hold {c:1} — the emission proves the carry.
      input.addData(TokenEvent("en", "c", 5))
      q.processAllAvailable()
      val all = spark.table("hh_out")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(all.contains(("en", "a", 2L)),
        s"batch-2 emission must reflect the carried counters, got $all")
      assert(!all.exists(_._2 == "c"),
        "a cold buffer would have held the batch-2 token — state was lost")
      // the batch-2 emission equals a sequential driver-side MG fold
      val ref = new graft.functions.MgBuf(2)
      Seq("a", "a", "a", "b", "c").foreach(ref.offer)
      assert(ref.sorted.toSeq === Seq(("a", 2L)))
    } finally q.stop()
  }

  test("stateful heavy hitters over a batch Dataset equal one MG fold per group") {
    import spark.implicits._
    import graft.streaming.EventStreams.{TokenEvent, heavyHittersStateful}
    val tokens = Seq(
      TokenEvent("en", "x", 1), TokenEvent("en", "y", 2), TokenEvent("en", "x", 3),
      TokenEvent("de", "der", 1), TokenEvent("de", "der", 2)).toDS()
    val got = heavyHittersStateful(tokens, capacity = 8).collect()
      .map(c => (c.lang, c.word, c.freq_floor)).sorted
    assert(got.toSeq === Seq(("de", "der", 2L), ("en", "x", 2L), ("en", "y", 1L)))
  }

  test("stateful SCD2 carries the open version across batches; closed rows equal the batch build") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.EventStreams.{TypedEvent, scd2Stateful}
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val input = MemoryStream[TypedEvent]
    val q = scd2Stateful(input.toDS()).toDF()
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode("append").start()
    try {
      // batch 1: A opens v1; a restatement; B closes v1
      input.addData(
        TypedEvent(1L, "A", ts("2026-01-01T10:00:00Z"), 1L),
        TypedEvent(1L, "A", ts("2026-01-01T11:00:00Z"), 2L),
        TypedEvent(1L, "B", ts("2026-01-01T12:00:00Z"), 3L))
      q.processAllAvailable()
      // batch 2: A closes v2 — valid_from must be batch 1's 12:00 (the
      // carried open version), version must be 2 (carried ordinal)
      input.addData(TypedEvent(1L, "A", ts("2026-01-01T14:00:00Z"), 4L))
      q.processAllAvailable()
      val got = spark.table("scd2_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).toInstant.toString,
          r.getTimestamp(3).toInstant.toString, r.getLong(4))).sortBy(_._5)
      assert(got.toSeq === Seq(
        (1L, "A", "2026-01-01T10:00:00Z", "2026-01-01T12:00:00Z", 1L),
        (1L, "B", "2026-01-01T12:00:00Z", "2026-01-01T14:00:00Z", 2L)))
      // the stream's closed rows ARE the batch build's closed rows
      val batch = graft.operators.EventOps.scd2Of(Seq(
        (1L, "A", ts("2026-01-01T10:00:00Z"), 1L),
        (1L, "A", ts("2026-01-01T11:00:00Z"), 2L),
        (1L, "B", ts("2026-01-01T12:00:00Z"), 3L),
        (1L, "A", ts("2026-01-01T14:00:00Z"), 4L)
      ).toDF("user_id", "event_type", "ts", "event_id"))
        .filter(org.apache.spark.sql.functions.col("valid_to").isNotNull).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).toInstant.toString,
          r.getTimestamp(3).toInstant.toString, r.getLong(4))).sortBy(_._5)
      assert(got.toSeq === batch.toSeq,
        "stream-closed versions must equal the batch SCD2 build's closed rows")
      // a LATE cross-batch event (older than the open version) is
      // dropped, never spliced: applying it would emit an inverted
      // interval. The open version stays A@14:00, so a later C change
      // closes exactly that.
      input.addData(TypedEvent(1L, "Z", ts("2026-01-01T13:00:00Z"), 5L))
      q.processAllAvailable()
      assert(spark.table("scd2_out").count() === 2,
        "a late event must not emit a corrupt closed row")
      input.addData(TypedEvent(1L, "C", ts("2026-01-01T15:00:00Z"), 6L))
      q.processAllAvailable()
      val last = spark.table("scd2_out").collect()
        .map(r => (r.getString(1), r.getTimestamp(2).toInstant.toString,
          r.getTimestamp(3).toInstant.toString, r.getLong(4))).sortBy(_._4).last
      assert(last === ("A", "2026-01-01T14:00:00Z", "2026-01-01T15:00:00Z", 3L),
        "the dropped late event must leave the open version untouched")
    } finally q.stop()
  }

  test("streaming exact dedup drops re-arrivals within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DocEvent]
    val docs = Seq(
      DocEvent(1L, ts("2026-08-12T10:00:00Z"), "alpha"),
      DocEvent(2L, ts("2026-08-12T10:01:00Z"), "beta"),
      DocEvent(3L, ts("2026-08-12T10:02:00Z"), "alpha"), // in-batch dup
      DocEvent(4L, ts("2026-08-12T10:03:00Z"), "alpha"), // cross-batch dup
      DocEvent(5L, ts("2026-08-12T10:04:00Z"), "gamma"))
    val q = EventStreams.dedupDocs(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(docs.take(3))
      q.processAllAvailable()
      input.addData(docs.drop(3)) // dup state must survive the batch boundary
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(got === Set(1L, 2L, 5L),
        "first arrival of each content hash survives; later re-arrivals drop")
      // batch twin over the same rows keeps the identical content set
      val batchHashes = EventStreams.dedupDocs(docs.toDF())
        .select("text_hash").collect().map(_.getString(0)).toSet
      val streamHashes = spark.table("dedup_out")
        .select("text_hash").collect().map(_.getString(0)).toSet
      assert(streamHashes === batchHashes)
    } finally q.stop()
  }

  test("file-source readStream -> hourlyAgg -> writeStream equals batch") {
    // The literal production shape: a parquet directory consumed as a
    // stream (Trigger.AvailableNow drains it like an incremental batch),
    // through the same windowed aggregation the batch path uses.
    val srcDir = java.nio.file.Files.createTempDirectory("graft-stream-src").toString
    val batch = Tables.events(spark, TestSpark.sfDir)
      .select("ts", "event_type", "value")
    batch.write.mode("overwrite").parquet(srcDir)
    val streamed = spark.readStream
      .schema(batch.schema)
      .parquet(srcDir)
    val q = EventStreams.hourlyAgg(streamed)
      .writeStream.format("memory").queryName("file_hourly")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    val got = spark.table("file_hourly")
      .orderBy("hour_ts", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    val expected = EventStreams.hourlyAgg(batch)
      .orderBy("hour_ts", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === expected)
  }

  test("streaming ingest gate grows the signature store across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("graft-sgate").toString
    val (store, out, ckpt) = (s"$tmp/store", s"$tmp/out", s"$tmp/ckpt")
    val corpus = Seq(
      DocText(1L, "the quick brown fox jumps over the lazy dog today"),
      DocText(2L, "completely different text about spark engines and scala")).toDF()
    Dedup.writeSignatures(Dedup.signaturesOf(corpus), store)
    val input = MemoryStream[DocText]
    val q = graft.streaming.EventStreams.gateDocStream(input.toDF(), store, out, ckpt)
    try {
      // batch 1: doc 10 duplicates the corpus, doc 11 is new (admitted),
      // doc 12 is too short to signature — explicit verdict, never admitted
      input.addData(
        DocText(10L, "the quick brown fox jumps over the lazy dog today"),
        DocText(11L, "a brand new document with fresh unique wording entirely"),
        DocText(12L, "hi there"))
      q.processAllAvailable()
      // batch 2: a copy of the admitted doc — only a GROWN store catches it
      input.addData(
        DocText(20L, "a brand new document with fresh unique wording entirely"))
      q.processAllAvailable()
    } finally q.stop()
    val verdicts = spark.read.parquet(out)
      .select("doc_id", "is_duplicate")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(verdicts === Map(10L -> 1, 11L -> 0, 12L -> 0, 20L -> 1),
      "the cross-batch duplicate must be gated by signatures admitted in batch 1")
  }

  test("a maintenance sweep holding the store DELAYS a live micro-batch instead of killing the stream") {
    // the r16-advice semantics, driven at the STREAM level: the batch
    // seams run under StoreLock.withWaitFloor, so the gate's admit claim
    // polls behind a concurrently-held writer claim (a compaction/forget
    // sweep) and the micro-batch completes AFTER the sweep releases —
    // under the fail-fast default it would have thrown and killed the
    // streaming query.
    import graft.operators.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("graft-swrace").toString
    val (store, out, ckpt) = (s"$tmp/store", s"$tmp/out", s"$tmp/ckpt")
    Dedup.writeSignatures(Dedup.signaturesOf(Seq(
      DocText(1L, "the quick brown fox jumps over the lazy dog today")).toDF()), store)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DocText]
    val q = graft.streaming.EventStreams.gateDocStream(input.toDF(), store, out, ckpt)
    try {
      val release = new java.util.concurrent.CountDownLatch(1)
      val held = new java.util.concurrent.CountDownLatch(1)
      val sweep = new Thread(() =>
        graft.sources.StoreLock.withLock(store, "maintenance-sweep") {
          held.countDown(); release.await()
        })
      sweep.start()
      held.await()
      input.addData(
        DocText(30L, "a fresh unique document arriving mid-sweep with its own words"))
      // let the micro-batch reach the contended claim, then release the
      // sweep — the floored wait turns what was a stream-killing throw
      // into a delay
      val t = new Thread(() => { Thread.sleep(1500); release.countDown() })
      t.start()
      q.processAllAvailable() // would rethrow the batch failure if the claim fail-fasted
      t.join(); sweep.join()
      val verdicts = spark.read.parquet(out).select("doc_id", "is_duplicate")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(verdicts === Map(30L -> 0), "the delayed batch must complete and admit")
      assert(!graft.sources.StoreLock.isHeld(store), "both claims released")
    } finally q.stop()
  }

  test("gate batch replay is idempotent (the at-least-once contract, literally)") {
    import graft.operators.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("graft-replay").toString
    val (store, out) = (s"$tmp/store", s"$tmp/out")
    Dedup.writeSignatures(Dedup.signaturesOf(Seq(
      DocText(1L, "the quick brown fox jumps over the lazy dog today")).toDF()), store)
    val b1 = Seq(
      DocText(10L, "the quick brown fox jumps over the lazy dog today"),
      DocText(11L, "a brand new document with fresh unique wording entirely")).toDF()
    def snap(path: String): Seq[String] =
      spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
    graft.streaming.EventStreams.gateBatch(b1, 1L, store, out)
    val (v1, s1) = (snap(out), snap(store))
    // the crash-replay: same batch, same id, store already grown by the
    // first attempt — verdicts and store must come out bit-identical
    graft.streaming.EventStreams.gateBatch(b1, 1L, store, out)
    assert(snap(out) === v1, "replayed verdicts must not flip or duplicate")
    assert(snap(store) === s1, "replayed admissions must not duplicate")
    // a maintenance compaction between attempts preserves the scoped
    // batch partitions, so even a replay straddling it stays idempotent
    Dedup.compactSignatures(spark, store)
    graft.streaming.EventStreams.gateBatch(b1, 1L, store, out)
    assert(snap(out) === v1, "post-compaction replay must not flip verdicts")
    assert(snap(store) === s1, "post-compaction replay must not duplicate admissions")
    // and later batches still gate correctly against the grown store
    graft.streaming.EventStreams.gateBatch(Seq(
      DocText(20L, "a brand new document with fresh unique wording entirely")).toDF(),
      2L, store, out)
    val v20 = spark.read.parquet(out).filter(col("doc_id") === 20L)
      .select("is_duplicate").collect()(0).getInt(0)
    assert(v20 === 1)
  }

  test("kill DURING store admission: stale claim + partial write, forceBreak + replay converges (both streaming stores)") {
    // The one crash window the mid-compaction injection doesn't cover
    // (r18 verdict item 8): the driver dies INSIDE a micro-batch's
    // admission — Bloom/IdBloom sidecars absorbed, the partition
    // overwrite partially committed, and the writer claim still on disk
    // naming the dead pid. The documented recovery protocol (verify the
    // holder is dead → forceBreak → let the at-least-once replay re-run
    // the batch) must converge both streaming stores to the once-run
    // state, bit-identically.
    import java.nio.file.Paths
    import graft.operators.{Dedup, Similarity}
    import graft.sources.{IdBloom, Sinks, StoreLock}
    val tmp = java.nio.file.Files.createTempDirectory("graft-admitkill").toString
    def snap(path: String): Seq[String] =
      spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
    // ---- signature/gate store ----
    val (ref, crash, outRef, outCrash) =
      (s"$tmp/ref", s"$tmp/crash", s"$tmp/outRef", s"$tmp/outCrash")
    val bootTxt = "the quick brown fox jumps over the lazy dog today"
    Seq(ref, crash).foreach(p =>
      Dedup.writeSignatures(Dedup.signaturesOf(Seq(DocText(1L, bootTxt)).toDF()), p))
    val b1 = Seq(
      DocText(10L, bootTxt), // duplicate of the bootstrap → rejected
      DocText(11L, "a brand new document with fresh unique wording entirely"),
      DocText(12L, "another different sentence that matches nothing stored here")).toDF()
    EventStreams.gateBatch(b1, 1L, ref, outRef) // the once-run reference
    // plant the kill state on the crash store: sidecars absorbed,
    // admission HALF-committed (doc 11's partitions only), claim held
    val sig = Dedup.signaturesOf(b1).withColumn("batch_id", lit(1L))
    Dedup.absorbIntoBloom(spark, crash, sig.select("bucket"))
    IdBloom.absorb(spark, crash, sig.select("doc_id"))
    Sinks.overwritePartitionsDynamic(sig.filter(col("doc_id") === 11L),
      crash, Seq("shard", "batch_id"))
    assert(StoreLock.objectStore.putIfAbsent(Paths.get(StoreLock.lockPath(crash)),
      "pid=99999999 op=gate-admit thread=dead ts=1970-01-01T00:00:00Z".getBytes("UTF-8")),
      "the dead writer's claim must plant")
    assert(StoreLock.isHeld(crash))
    // operator recovery: holder verified dead → break → replay the batch
    StoreLock.forceBreak(crash)
    EventStreams.gateBatch(b1, 1L, crash, outCrash)
    assert(snap(crash) === snap(ref),
      "the replayed admission must converge the half-committed store to the once-run state")
    assert(snap(outCrash) === snap(outRef),
      "replayed verdicts must equal the uninterrupted run's")
    assert(!StoreLock.isHeld(crash), "the replay's claim must release cleanly")
    // and the recovered store GATES like the reference: a later batch
    // sees identical verdicts on both
    val b2 = Seq(
      DocText(20L, "a brand new document with fresh unique wording entirely"),
      DocText(21L, "wholly novel content for the post-recovery admission batch")).toDF()
    EventStreams.gateBatch(b2, 2L, ref, outRef)
    EventStreams.gateBatch(b2, 2L, crash, outCrash)
    assert(snap(outCrash) === snap(outRef),
      "post-recovery gating must be indistinguishable from the uninterrupted store")
    // ---- vector/IVF index store ----
    implicit val sqlCtx = spark.sqlContext
    val (refIdx, crashIdx) = (s"$tmp/refIdx", s"$tmp/crashIdx")
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val half = emb.filter(col("vec_id") < 250)
    Similarity.writeIvfIndexFrom(spark, half, refIdx)
    Similarity.writeIvfIndexFrom(spark, half, crashIdx)
    val rest = emb.filter(col("vec_id") >= 250)
      .select("vec_id", "embedding").as[VecRow].collect().toSeq
    EventStreams.ingestBatch(rest.toDF(), 1L, DocStores(vectors = Seq(refIdx)), vectorsOf)
    // kill state: half the batch's (list_id, batch_id) partitions
    // committed, claim held by the dead pid
    Similarity.appendIvfIndexBatch(spark, rest.take(rest.length / 2).toDF(), crashIdx, 1L)
    assert(StoreLock.objectStore.putIfAbsent(Paths.get(StoreLock.lockPath(crashIdx)),
      "pid=99999999 op=ivf-append thread=dead ts=1970-01-01T00:00:00Z".getBytes("UTF-8")))
    StoreLock.forceBreak(crashIdx)
    EventStreams.ingestBatch(rest.toDF(), 1L, DocStores(vectors = Seq(crashIdx)), vectorsOf)
    def content(path: String): Set[(Long, Int, Long)] =
      spark.read.parquet(path).select("vec_id", "list_id", "batch_id").collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).intValue, r.getAs[Number](2).longValue)).toSet
    assert(content(crashIdx) === content(refIdx),
      "the replayed vector batch must converge the half-committed index")
    assert(Similarity.readCentroids(spark, crashIdx).map { case (i, c, n) => (i, c.toSeq, n) } ===
      Similarity.readCentroids(spark, refIdx).map { case (i, c, n) => (i, c.toSeq, n) },
      "recovery must not retrain the frozen quantizer")
  }

  test("replay straddling a compaction stays idempotent when the bucket cap binds") {
    // The sharp edge of "scoped partitions preserved verbatim": all docs
    // below share ONE blocking bucket (same 40-char prefix), the bucket
    // exceeds NgramBucketCap (256) across batches, and a LATER batch
    // holds LOWER doc_ids than an earlier one. A compaction that capped
    // across scoped partitions would evict batch-1 rows in favor of
    // batch-3's lower doc_ids — rows the replayed batch-2 gate (which
    // only sees batch_id < 2) is still entitled to match — flipping its
    // verdicts. The fix passes scoped rows through untouched, so the
    // replay is bit-identical.
    import graft.operators.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("graft-capreplay").toString
    val (store, out) = (s"$tmp/store", s"$tmp/out")
    val prefix = "aaaa " * 8 // first 40 normalized chars → one shared bucket
    def uniq(i: Int): String = // letters only: normalization strips digits
      s"${('a' + i / 676).toChar}${('a' + i / 26 % 26).toChar}${('a' + i % 26).toChar}zz"
    def fam(tail: String)(id: Long, i: Int): DocText =
      DocText(id, prefix + tail + " " + uniq(i))
    val famA = fam("alpha beta gamma delta epsilon zeta eta theta iota kappa") _
    val famB = fam("november oscar papa quebec romeo sierra tango uniform victor whiskey") _
    val famC = fam("binary octal decimal literal symbol token parser lexer syntax opcode") _
    // bootstrap: 240 family-A docs, ids 1..240 — under the cap on its own
    Dedup.writeSignatures(Dedup.signaturesOf(
      (1 to 240).map(i => famA(i.toLong, i)).toDF()), store)
    // batch 1: 20 family-B docs, ids 301..320 — non-dup vs A → admitted;
    // the bucket now holds 260 rows and the cap binds on every gate read
    val b1 = (1 to 20).map(i => famB(300L + i, 1000 + i)).toDF()
    graft.streaming.EventStreams.gateBatch(b1, 1L, store, out)
    // batch 2: family-B probes — duplicates of batch-1 admissions; their
    // verdicts count the VISIBLE (capped) B rows, so they depend on
    // batch-1 rows surviving any maintenance in between
    val b2 = (1 to 5).map(i => famB(400L + i, 2000 + i)).toDF()
    graft.streaming.EventStreams.gateBatch(b2, 2L, store, out)
    // batch 3: 30 family-C docs with ids 251..280 — LOWER than batch 1's
    // — all non-dup → admitted. A global doc_id cap would now prefer
    // these over every batch-1 row.
    graft.streaming.EventStreams.gateBatch(
      (1 to 30).map(i => famC(250L + i, 3000 + i)).toDF(), 3L, store, out)
    def snap(path: String): Seq[String] =
      spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
    val (v1, s1) = (snap(out), snap(store))
    val b2Dups = spark.read.parquet(out)
      .filter(col("batch_id") === 2L && col("is_duplicate") === 1).count()
    assert(b2Dups === 5L, "batch-2 probes must actually match batch-1 admissions")
    Dedup.compactSignatures(spark, store)
    graft.streaming.EventStreams.gateBatch(b2, 2L, store, out)
    assert(snap(out) === v1,
      "a replay straddling compaction must not flip verdicts even when the cap binds")
    assert(snap(store) === s1,
      "compaction + replay must leave scoped admissions bit-identical")
  }

  test("streaming vector ingest grows the IVF index; a replayed batch leaves it bit-identical") {
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-vingest").toString
    val (idx, twin, ckpt) = (s"$tmp/idx", s"$tmp/twin", s"$tmp/ckpt")
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    // bootstrap from the first half of the corpus: the quantizer is
    // trained HERE and must stay fixed through every streamed append
    val half = emb.filter(col("vec_id") < 250)
    Similarity.writeIvfIndexFrom(spark, half, idx)
    val centsBefore = Similarity.readCentroids(spark, idx).map {
      case (i, c, n) => (i, c.toSeq, n) }.toSeq
    val rest = emb.filter(col("vec_id") >= 250)
      .select("vec_id", "embedding").as[VecRow].collect().toSeq
    val (b0, b1) = rest.splitAt(rest.length / 2)
    val input = MemoryStream[VecRow]
    val q = EventStreams.ingestDocStream(input.toDF(), DocStores(vectors = Seq(idx)), ckpt,
      vectorsOf)
    try {
      input.addData(b0: _*); q.processAllAvailable()
      input.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    def content(path: String): Set[(Long, Int, Long)] =
      spark.read.parquet(path).select("vec_id", "list_id", "batch_id").collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).intValue, r.getAs[Number](2).longValue)).toSet
    // every corpus vector present exactly once; quantizer untouched
    assert(spark.read.parquet(idx).count() === emb.count())
    assert(spark.read.parquet(idx).groupBy("vec_id").count()
      .filter(col("count") > 1).count() === 0L)
    assert(Similarity.readCentroids(spark, idx).map {
      case (i, c, n) => (i, c.toSeq, n) }.toSeq === centsBefore,
      "streamed appends must not retrain the quantizer")
    // the streamed index equals the batch twin built with the same
    // bootstrap + explicit batch-scoped appends (MemoryStream ids 0, 1)
    Similarity.writeIvfIndexFrom(spark, half, twin)
    Similarity.appendIvfIndexBatch(spark, b0.toDF(), twin, 0L)
    Similarity.appendIvfIndexBatch(spark, b1.toDF(), twin, 1L)
    assert(content(idx) === content(twin),
      "streamed ingest must assign exactly what the batch flow assigns")
    // the at-least-once replay, literally: rerun batch 1 — bit-identical
    val before = content(idx)
    EventStreams.ingestBatch(b1.toDF(), 1L, DocStores(vectors = Seq(idx)), vectorsOf)
    assert(content(idx) === before, "a replayed vector batch must leave the index bit-identical")
    // probes see streamed vectors through the stored quantizer's pruning
    val (vid, lst, _) = before.find(t => t._1 >= 250 && t._3 == 1L).get
    assert(Similarity.probeIvfIndex(spark, idx, Seq(lst))
      .filter(col("vec_id") === vid).count() === 1L)
  }

  test("streaming LM ingest tracks the corpus; streamed model == single-shot; checkpoint-compaction preserves scores") {
    import graft.operators.TextOps
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-lmingest").toString
    val (model, ckpt) = (s"$tmp/model", s"$tmp/ckpt")
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "text")
    TextOps.writeLmModel(spark, docs.filter(col("doc_id") < 250), model)
    val rest = docs.filter(col("doc_id") >= 250)
      .as[(Long, String)].collect().toSeq.map(t => DocText(t._1, t._2))
    val (b0, b1) = rest.splitAt(rest.length / 2)
    val input = MemoryStream[DocText]
    val q = EventStreams.ingestDocStream(input.toDF(), DocStores(lmModel = Some(model)), ckpt)
    try {
      input.addData(b0: _*); q.processAllAvailable()
      input.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    def scores(): Seq[(Long, Long, Long)] =
      TextOps.lmScoreStored(spark, docs, model).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq
    val streamed = scores()
    val single = java.nio.file.Files.createTempDirectory("graft-lmss").toString + "/model"
    TextOps.writeLmModel(spark, docs, single)
    assert(streamed === TextOps.lmScoreStored(spark, docs, single).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq,
      "the streamed LM must equal single-shot training on the full corpus")
    // replay of a committed batch overwrites itself
    EventStreams.ingestBatch(b1.toDF(), 1L, DocStores(lmModel = Some(model)))
    assert(scores() === streamed, "a replayed LM batch must change nothing")
    // the checkpoint knows batches 0..1 committed: auto-compaction folds
    // exactly them and moves no score
    Maintenance.moduleRegistry(Maintenance.StoreLayout(lmModel = Some((model, 0L))),
      ingestCheckpoint = Some(ckpt))("maint_compact_lm")(spark, TestSpark.sfDir)
    val remaining = spark.read.parquet(model)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(remaining === Set(-1L),
      s"all committed batches must fold into the bootstrap, got $remaining")
    assert(scores() === streamed, "checkpoint-derived compaction must move no score")
  }

  test("streaming posting ingest grows the search index; streamed BM25 == full-corpus in-query") {
    import graft.operators.Search
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-pingest").toString
    val (idx, ckpt) = (s"$tmp/idx", s"$tmp/ckpt")
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "text")
    // bootstrap from the first half, stream the rest in two micro-batches
    Search.writeSearchIndexFrom(spark, docs.filter(col("doc_id") < 250), idx)
    val rest = docs.filter(col("doc_id") >= 250)
      .as[(Long, String)].collect().toSeq.map(t => DocText(t._1, t._2))
    val (b0, b1) = rest.splitAt(rest.length / 2)
    val input = MemoryStream[DocText]
    val q = EventStreams.ingestDocStream(input.toDF(), DocStores(postings = Some(idx)), ckpt)
    try {
      input.addData(b0: _*); q.processAllAvailable()
      input.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    def probeScores(): Seq[(Long, Double, Long)] = SearchProbe.scores(spark, idx)
    val want = Search.bm25(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(probeScores() === want,
      "the streamed index must score exactly like the full corpus in-query")
    // the at-least-once replay, literally (MemoryStream batch ids 0, 1)
    EventStreams.ingestBatch(b1.toDF(), 1L, DocStores(postings = Some(idx)))
    assert(probeScores() === want,
      "a replayed posting batch must leave BM25 scores bit-identical")
  }

  test("vector ingest resumes from its checkpoint across a restart") {
    import graft.operators.Similarity
    val tmp = java.nio.file.Files.createTempDirectory("graft-vrestart").toString
    val (src, idx, ckpt) = (s"$tmp/src", s"$tmp/idx", s"$tmp/ckpt")
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    Similarity.writeIvfIndexFrom(spark, emb.filter(col("vec_id") < 250), idx)
    val rest = emb.filter(col("vec_id") >= 250)
      .select("vec_id", "embedding").as[VecRow].collect().toSeq
    val (r1, r2) = rest.splitAt(rest.length / 2)
    val schema = Seq.empty[VecRow].toDF().schema
    def run(vecs: Seq[VecRow]): Unit = {
      vecs.toDF().write.mode("append").parquet(src)
      val q = EventStreams.ingestDocStream(
        spark.readStream.schema(schema).parquet(src), DocStores(vectors = Seq(idx)), ckpt,
        vectorsOf)
      try q.processAllAvailable() finally q.stop()
    }
    run(r1)
    // restart from the checkpoint: the source resumes past run 1's files
    run(r2)
    assert(spark.read.parquet(idx).count() === emb.count(),
      "each vector ingested exactly once across the restart")
    assert(spark.read.parquet(idx).groupBy("vec_id").count()
      .filter(col("count") > 1).count() === 0L)
    // post-restart vectors are probe-visible
    val vid = r2.head.vec_id
    val lst = spark.read.parquet(idx).filter(col("vec_id") === vid)
      .select("list_id").collect()(0).getAs[Number](0).intValue
    assert(Similarity.probeIvfIndex(spark, idx, Seq(lst))
      .filter(col("vec_id") === vid).count() === 1L)
  }

  test("posting ingest resumes from its checkpoint across a restart") {
    import graft.operators.Search
    val tmp = java.nio.file.Files.createTempDirectory("graft-prestart").toString
    val (src, idx, ckpt) = (s"$tmp/src", s"$tmp/idx", s"$tmp/ckpt")
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "text")
    Search.writeSearchIndexFrom(spark, docs.filter(col("doc_id") < 250), idx)
    val rest = docs.filter(col("doc_id") >= 250)
      .as[(Long, String)].collect().toSeq.map(t => DocText(t._1, t._2))
    val (r1, r2) = rest.splitAt(rest.length / 2)
    val schema = Seq.empty[DocText].toDF().schema
    def run(batch: Seq[DocText]): Unit = {
      batch.toDF().write.mode("append").parquet(src)
      val q = EventStreams.ingestDocStream(
        spark.readStream.schema(schema).parquet(src), DocStores(postings = Some(idx)), ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    run(r1)
    // restart from the checkpoint: the source resumes past run 1's files
    run(r2)
    // each document's postings ingested exactly once across the restart
    assert(spark.read.parquet(idx).select("doc_id").distinct().count() === docs.count())
    assert(spark.read.parquet(idx).groupBy("doc_id", "word").count()
      .filter(col("count") > 1).count() === 0L)
    // the stats sidecar accounts every document exactly once too
    assert(spark.read.parquet(idx + "/_stats")
      .agg(sum("n_docs")).collect()(0).getLong(0) === docs.count())
    // post-restart scores equal the full-corpus in-query scorer
    val got = SearchProbe.scores(spark, idx)
    val want = Search.bm25(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got === want)
  }

  test("auto-compaction folds exactly the committed batches; an uncommitted batch's replay still lands") {
    import graft.operators.Search
    import graft.sources.Stores
    val tmp = java.nio.file.Files.createTempDirectory("graft-pcompact").toString
    val (src, idx, ckpt) = (s"$tmp/src", s"$tmp/idx", s"$tmp/ckpt")
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "text")
    Search.writeSearchIndexFrom(spark, docs.filter(col("doc_id") < 250), idx)
    val rest = docs.filter(col("doc_id") >= 250)
      .as[(Long, String)].collect().toSeq.map(t => DocText(t._1, t._2))
    val (r1, r2) = rest.splitAt(rest.length / 2)
    val schema = Seq.empty[DocText].toDF().schema
    def run(): Unit = {
      val q = EventStreams.ingestDocStream(
        spark.readStream.schema(schema).parquet(src), DocStores(postings = Some(idx)), ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    // the search store's compaction module, its fold watermark derived
    // from the ingest stream's checkpoint
    def compact(): Unit =
      Maintenance.moduleRegistry(Maintenance.StoreLayout(searchIndex = Some((idx, 0L))),
        ingestCheckpoint = Some(ckpt))("maint_compact_search")(spark, TestSpark.sfDir)
    r1.toDF().write.mode("append").parquet(src)
    run() // batch 0: planned, executed, COMMITTED
    assert(EventStreams.committedWatermark(spark, ckpt) === 0L)
    // crash-simulate batch 1: new source files arrive and the foreachBatch
    // body runs (the store IS written), but the commit never lands — the
    // exact at-least-once window the replay contract exists for
    r2.toDF().write.mode("append").parquet(src)
    EventStreams.ingestBatch(r2.toDF(), 1L, DocStores(postings = Some(idx)))
    assert(EventStreams.committedWatermark(spark, ckpt) === 0L,
      "a batch whose commit never landed must not advance the watermark")
    compact()
    def batchDirs() = Stores.subPartitionDirs(spark, idx)
      .filter(_.startsWith("batch_id=")).map(_.stripPrefix("batch_id=").toLong)
    assert(batchDirs() === Set(-1L, 1L),
      "compaction must fold exactly the committed batch (0) into the " +
        "bootstrap layout and leave the uncommitted batch (1) scoped")
    run() // restart from the checkpoint: batch 1 replays over its own partitions
    assert(EventStreams.committedWatermark(spark, ckpt) === 1L)
    assert(batchDirs() === Set(-1L, 1L))
    // the replay healed, not duplicated: every doc exactly once, and the
    // probed scores equal the full-corpus in-query scorer
    assert(spark.read.parquet(idx).select("doc_id").distinct().count() === docs.count())
    assert(spark.read.parquet(idx).groupBy("doc_id", "word").count()
      .filter(col("count") > 1).count() === 0L)
    assert(spark.read.parquet(idx + "/_stats")
      .agg(sum("n_docs")).collect()(0).getLong(0) === docs.count())
    val got = SearchProbe.scores(spark, idx)
    val want = Search.bm25(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got === want)
    // now that batch 1 IS committed, the next auto-compact folds it too
    compact()
    assert(batchDirs() === Set(-1L))
    val stats2 = spark.read.parquet(idx + "/_stats") // re-list: compaction swapped the files
      .agg(sum("n_docs").as("n_docs"), (sum("sum_dl") / sum("n_docs")).as("avgdl"))
    assert(Search.scoreBm25(Search.probeSearchIndex(spark, idx, Search.QueryTerms)
        .select("doc_id", "dl", "word", "tf"), stats2).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq === want,
      "folding can move rows between partitions but never change a score")
  }

  test("streaming gate resumes from its checkpoint across a restart") {
    import graft.operators.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("graft-gaterestart").toString
    val (src, store, out, ckpt) = (s"$tmp/src", s"$tmp/store", s"$tmp/out", s"$tmp/ckpt")
    Dedup.writeSignatures(Dedup.signaturesOf(Seq(
      DocText(1L, "the quick brown fox jumps over the lazy dog today")).toDF()), store)
    val schema = Seq.empty[DocText].toDF().schema
    def run(docs: Seq[DocText]): Unit = {
      docs.toDF().write.mode("append").parquet(src)
      val q = graft.streaming.EventStreams.gateDocStream(
        spark.readStream.schema(schema).parquet(src), store, out, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    run(Seq(
      DocText(10L, "the quick brown fox jumps over the lazy dog today"),
      DocText(11L, "a brand new document with fresh unique wording entirely")))
    // restart from the checkpoint: the source must resume past run 1's
    // files, and the store must still hold run 1's admissions
    run(Seq(
      DocText(20L, "a brand new document with fresh unique wording entirely")))
    val rows = spark.read.parquet(out)
      .select("doc_id", "is_duplicate").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(rows.sorted === Seq((10L, 1), (11L, 0), (20L, 1)),
      "each doc gated exactly once across the restart; the cross-restart dup caught")
  }

  test("stateful sessionizer recovers its state from the checkpoint after a crash") {
    // The property cluster deployments actually rely on: kill a stateful
    // query mid-stream, deliver more data, restart from the SAME
    // checkpoint dir — per-user state (last ts + session counter) must
    // resume, not reset. Durable file source + file sink, because a
    // memory sink would not survive the restart either.
    import graft.streaming.EventStreams.{SessionEvent, sessionizeStateful}
    val tmp = java.nio.file.Files.createTempDirectory("graft-recover").toString
    val (srcDir, outDir, ckptDir) = (s"$tmp/src", s"$tmp/out", s"$tmp/ckpt")
    val batch1 = Seq(
      SessionEvent(3, 20, ts("2026-08-12T08:00:00Z")), // u3 session 1
      SessionEvent(3, 21, ts("2026-08-12T09:30:00Z")), // u3 session 2 (90 min gap)
      SessionEvent(1, 1, ts("2026-08-12T10:00:00Z")),  // u1 session 1
      SessionEvent(1, 2, ts("2026-08-12T10:10:00Z")))
    val batch2 = Seq(
      SessionEvent(1, 3, ts("2026-08-12T10:20:00Z")),  // continues u1 session 1
      SessionEvent(3, 22, ts("2026-08-12T10:30:00Z")), // u3 session 3 (60 min gap)
      SessionEvent(1, 4, ts("2026-08-12T12:30:00Z")))  // u1 session 2
    def run(data: Seq[SessionEvent]): Unit = {
      data.toDS().toDF().write.mode("append").parquet(srcDir)
      val src = spark.readStream.schema(batch1.toDS().toDF().schema)
        .parquet(srcDir).as[SessionEvent]
      val q = sessionizeStateful(src).toDF()
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckptDir)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    run(batch1) // query stops after draining batch 1 (the "crash")
    run(batch2) // restart from the checkpoint; source resumes at batch 2
    val got = spark.read.parquet(outDir)
      .select("user_id", "event_id", "session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = sessionizeStateful((batch1 ++ batch2).toDS())
      .select("user_id", "event_id", "session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected, "post-restart sessions must equal the batch twin")
    // the smoking gun for state recovery: u3's counter resumes at 3 —
    // a reset counter would have relabeled event 22 as session 1
    assert(got.contains((3L, 22L, 3L)))
    assert(got.contains((1L, 3L, 1L)) && got.contains((1L, 4L, 2L)))
  }

  test("stream-stream interval join equals the batch join on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val pIn = MemoryStream[PurchaseEvent]
    val cIn = MemoryStream[ClickEvent]
    val purchases = Seq(
      PurchaseEvent(100L, 1L, ts("2026-08-12T10:00:00Z")),
      PurchaseEvent(101L, 2L, ts("2026-08-12T10:30:00Z")))
    val clicks = Seq(
      ClickEvent(1L, 1L, ts("2026-08-12T10:20:00Z")), // in window for 100
      ClickEvent(2L, 1L, ts("2026-08-12T11:30:00Z")), // past the hour → no
      ClickEvent(3L, 2L, ts("2026-08-12T10:10:00Z")), // before purchase → no
      ClickEvent(4L, 2L, ts("2026-08-12T11:00:00Z")), // in window for 101
      ClickEvent(5L, 1L, ts("2026-08-12T10:40:00Z"))) // late arrival, still matches 100
    val q = EventStreams.purchaseClickJoin(pIn.toDF(), cIn.toDF())
      .writeStream.format("memory").queryName("ssj_out").outputMode("append").start()
    try {
      pIn.addData(purchases)
      cIn.addData(clicks.take(4))
      q.processAllAvailable()
      cIn.addData(clicks.drop(4)) // buffered purchase state must still match
      q.processAllAvailable()
      val got = spark.table("ssj_out").select("p_event_id", "c_event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((100L, 1L), (101L, 4L), (100L, 5L)))
      val batch = EventStreams.purchaseClickJoin(purchases.toDF(), clicks.toDF())
        .select("p_event_id", "c_event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === batch, "micro-batched result must equal the batch join")
    } finally q.stop()
  }

  test("sessionAgg agrees with batch qSessionize on session membership") {
    // Sessions from the interval view: per user, number of sessions and
    // total events must match the lag-gap sessionization.
    val fromWindows = EventStreams.sessionAgg(Tables.events(spark, TestSpark.sfDir))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").cast("long").as("n_events"))
    val fromLagGap = EventOps.qSessionize(spark, TestSpark.sfDir)
      .groupBy("user_id")
      .agg(max("session_id").as("n_sessions"), count(lit(1)).as("n_events"))
    val a = fromWindows.orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val b = fromLagGap.orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(a === b)
  }

  test("stateful anomaly twin equals the batch 3-sigma query; state stays 25 hours; spike flags") {
    import spark.implicits._
    import graft.streaming.EventStreams.{AnomalyEvent, AnomalyVerdict}
    implicit val sqlCtx = spark.sqlContext
    def at(hour: Int, i: Int): Timestamp =
      Timestamp.from(java.time.Instant.parse("2026-01-01T00:00:00Z")
        .plusSeconds(hour * 3600L + i * 7L))
    // type "x": 30 steady hours of 10 events, hour 27 spikes to 60;
    // type "y": steady 5s (never anomalous); hour 13 is ABSENT for "x"
    // (the baseline is a rows-window over PRESENT hours, and the gap
    // must not pad it)
    val events = (for {
      h <- 0 until 30 if h != 13
      i <- 0 until (if (h == 27) 60 else 10)
    } yield AnomalyEvent("x", at(h, i))) ++
      (for { h <- 0 until 30; i <- 0 until 5 } yield AnomalyEvent("y", at(h, i)))
    val ordered = events.sortBy(e => (e.event_type, e.ts.getTime))
    val (b1, b2) = ordered.partition(_.ts.getTime <
      Timestamp.from(java.time.Instant.parse("2026-01-01T15:00:00Z")).getTime)
    val input = MemoryStream[AnomalyEvent]
    val q = graft.streaming.EventStreams.anomalyStateful(input.toDS())
      .writeStream.format("memory").queryName("anomaly_twin")
      .outputMode("append").start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("anomaly_twin")
      .as[AnomalyVerdict].collect()
      .map(v => (v.event_type, v.hour_ts.getTime, v.n, v.base_c, v.base_s, v.anomalous))
      .toSet
    // ground truth: the batch face over the same events, minus each
    // type's LAST hour (still open in state — no later hour arrived)
    val batch = graft.operators.EventOps.anomalyOf(
        events.toDF().select(col("event_type"), col("ts")))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getLong(3), r.getLong(4), r.getInt(5)))
    val lastHour = batch.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val expected = batch.filter(v => v._2 < lastHour(v._1)).toSet
    assert(streamed === expected,
      "streamed verdicts must equal the batch 3-sigma query on every closed hour")
    // the spike is actually caught, and only the spike (hour 27 =
    // 2026-01-02T03:00Z)
    val spikeMs = Timestamp.from(java.time.Instant.parse("2026-01-02T03:00:00Z")).getTime
    assert(streamed.filter(_._6 == 1).map(v => (v._1, v._2)) === Set(("x", spikeMs)),
      "exactly the planted spike hour must flag")
  }

  test("streaming deletion queue forgets docs store-by-store; a replayed micro-batch converges") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, Pipeline, TextOps}
    val tmp = java.nio.file.Files.createTempDirectory("graft-forgetstream").toString
    val corpus = Seq(
      DocText(1L, "the quick brown fox jumps over the lazy dog today"),
      DocText(2L, "completely different text about spark engines and scala"),
      DocText(3L, "a third document with its own unique wording throughout"),
      DocText(4L, "yet another entirely separate piece of text right here")).toDF()
    val stores = Pipeline.DocStores(
      signatures = Some(s"$tmp/sig"), lmModel = Some(s"$tmp/lm"))
    Dedup.writeSignatures(Dedup.signaturesOf(corpus), s"$tmp/sig")
    TextOps.writeLmModel(spark, corpus, s"$tmp/lm")
    def lmScores(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq
    val input = MemoryStream[DocText]
    val q = graft.streaming.EventStreams.forgetDocStream(
      input.toDF(), stores, s"$tmp/ckpt")
    try {
      // two deletion requests arriving in separate micro-batches
      input.addData(DocText(1L, "the quick brown fox jumps over the lazy dog today"))
      q.processAllAvailable()
      input.addData(DocText(3L, "a third document with its own unique wording throughout"))
      q.processAllAvailable()
    } finally q.stop()
    val surv = corpus.filter(!org.apache.spark.sql.functions.col("doc_id").isin(1L, 3L))
    def check(): Unit = {
      assert(graft.sources.Stores.minusTombstones(spark, s"$tmp/sig", "doc_id",
          spark.read.parquet(s"$tmp/sig"))
        .filter(org.apache.spark.sql.functions.col("doc_id").isin(1L, 3L)).count() === 0L)
      assert(lmScores(TextOps.lmScoreStored(spark, surv, s"$tmp/lm")) ===
        lmScores(TextOps.lmScore(surv)),
        "the stored LM must equal a retrain on the survivors after streamed deletions")
    }
    check()
    // the at-least-once contract, literally: re-run a committed
    // micro-batch through the foreachBatch seam — store-layer
    // idempotency (not batch-id bookkeeping) must absorb it
    graft.streaming.EventStreams.forgetBatch(
      Seq(DocText(1L, "the quick brown fox jumps over the lazy dog today")).toDF(),
      0L, stores)
    check()
    // a quiet queue tick (empty micro-batch) is a no-op, not an error
    graft.streaming.EventStreams.forgetBatch(corpus.limit(0), 9L, stores)
    check()
  }

  test("streaming ingest grows every store per micro-batch; a replayed batch is absorbed") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, Pipeline, Search, TextOps}
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingeststream").toString
    val boot = Seq(
      DocText(1L, "the quick brown fox jumps over the lazy dog today"),
      DocText(2L, "completely different text about spark engines and scala")).toDF()
    val b1 = Seq(DocText(10L, "a brand new document with fresh unique wording entirely"))
    val b2 = Seq(DocText(20L, "yet another entirely separate piece of text right here"))
    val stores = Pipeline.DocStores(
      signatures = Some(s"$tmp/sig"),
      postings = Some(s"$tmp/postings"),
      lmModel = Some(s"$tmp/lm"))
    Dedup.writeSignatures(Dedup.signaturesOf(boot), s"$tmp/sig")
    Search.writeSearchIndexFrom(spark, boot, s"$tmp/postings")
    TextOps.writeLmModel(spark, boot, s"$tmp/lm")
    val input = MemoryStream[DocText]
    val q = graft.streaming.EventStreams.ingestDocStream(
      input.toDF(), stores, s"$tmp/ckpt")
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val all = boot.unionByName(b1.toDF()).unionByName(b2.toDF())
    def lmScores(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq
    def check(): Unit = {
      assert(spark.read.parquet(s"$tmp/sig").select("doc_id").distinct().count() === 4L,
        "every streamed doc's signatures must be admitted exactly once")
      assert(SearchProbe.scores(spark, s"$tmp/postings") ===
        Search.bm25(all).collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq,
        "the posting store must score as one-shot indexing of the streamed corpus")
      assert(lmScores(TextOps.lmScoreStored(spark, all, s"$tmp/lm")) ===
        lmScores(TextOps.lmScore(all)),
        "the stored LM must equal single-shot training on the streamed corpus")
    }
    check()
    // the at-least-once contract, literally: re-run a committed
    // micro-batch through the foreachBatch seam — the dynamic
    // partition overwrites absorb it bit-identically
    graft.streaming.EventStreams.ingestBatch(b1.toDF(), 0L, stores)
    check()
    // a quiet feed tick is a no-op
    graft.streaming.EventStreams.ingestBatch(boot.limit(0), 9L, stores)
    check()
  }
}
