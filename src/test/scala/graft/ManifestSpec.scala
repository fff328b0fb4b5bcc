package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Manifest

/** File-level data skipping (sources/Manifest): pruning must touch a
  * strict subset of files AND be answer-invisible — plus the Z-order
  * claim that ONE layout prunes on EVERY interleaved column. */
class ManifestSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  import s.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.resolve("store").toString
  }

  test("clustered manifest prunes a strict file subset, answer-invisibly") {
    val df = (0L until 4000L).map(i => (i, i % 7)).toDF("k", "grp")
    val path = tmp("graft-mani")
    Manifest.writeClustered(df, path, "k", 8, Seq("k"))
    val all = s.read.parquet(path).inputFiles.length
    val pruned = Manifest.prunedFiles(s, path, "k", 1000L, 1499L)
    assert(all === 8)
    assert(pruned.nonEmpty && pruned.length < all,
      s"expected a strict subset, got ${pruned.length}/$all files")
    // range clustering should confine 500 of 4000 keys to 1-2 files
    assert(pruned.length <= 2)
    val got = Manifest.readPruned(s, path, "k", 1000L, 1499L)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exp = df.filter(col("k").between(1000L, 1499L))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === exp)
  }

  test("an empty pruned file list serves zero rows with the store schema") {
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v")
    val path = tmp("graft-mani-empty")
    Manifest.writeClustered(df, path, "k", 4, Seq("k"))
    assert(Manifest.prunedFiles(s, path, "k", 5000L, 6000L).isEmpty)
    val out = Manifest.readPruned(s, path, "k", 5000L, 6000L)
    assert(out.columns.toSeq === Seq("k", "v"))
    assert(out.count() === 0)
  }

  test("all-NULL stats files prune soundly (range predicates never match NULL)") {
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"), (null, "c"), (null, "d"))
      .toDF("k", "v")
    val path = tmp("graft-mani-null")
    // two files: one with real keys, one all-NULL (its stats row is NULL)
    df.filter(col("k").isNotNull).coalesce(1).write.parquet(path)
    df.filter(col("k").isNull).coalesce(1).write.mode("append").parquet(path)
    Manifest.buildManifest(s, path, Seq("k"))
    val got = Manifest.readPruned(s, path, "k", 0L, 10L)
      .orderBy("k").select("v").as[String].collect().toSeq
    assert(got === Seq("a", "b")) // NULL rows can't satisfy BETWEEN anyway
  }

  test("a crashed append (data without manifest rows) reads conservatively, then heals") {
    val df1 = (0L until 1000L).map(i => (i, "old")).toDF("k", "tag")
    val path = tmp("graft-mani-crash")
    Manifest.writeClustered(df1, path, "k", 4, Seq("k"))
    // simulate the crash window: data files land, manifest rows don't
    (5000L until 5100L).map(i => (i, "new")).toDF("k", "tag")
      .coalesce(1).write.mode("append").parquet(path)
    // the unmanifested file has no stats → must-read: rows outside every
    // manifested interval still surface
    val got = Manifest.readPruned(s, path, "k", 5000L, 5099L).count()
    assert(got === 100L, "unmanifested files must be read unconditionally")
    // ...and THE unmanifested file specifically rides along even when
    // the range targets old files only (data-file paths never contain
    // "_manifest", so an exists(!contains) check would be vacuous)
    val manifested = s.read.parquet(path + "/_manifest")
      .select("file").collect().map(_.getString(0)).toSet
    val unmanifested = s.read.parquet(path).inputFiles.filterNot(manifested).toSet
    assert(unmanifested.nonEmpty, "the crash window must leave an unmanifested file")
    val inOld = Manifest.prunedFiles(s, path, "k", 0L, 99L)
    assert(unmanifested.subsetOf(inOld.toSet),
      s"the unmanifested file must be read unconditionally: $inOld")
    assert(inOld.length >= 2, "the old-range files must be selected too")
    // healing: a manifest rebuild restores tight pruning
    Manifest.buildManifest(s, path, Seq("k"))
    val healed = Manifest.prunedFiles(s, path, "k", 5000L, 5099L)
    assert(healed.length === 1, s"expected only the new file, got $healed")
  }

  test("zvalue interleaves bits (hand-computed) and rejects overflow") {
    val got = Seq((3L, 5L)).toDF("x", "y")
      .select(Manifest.zvalue(Seq(col("x"), col("y")), 4).as("z"))
      .as[Long].head()
    // x=0011, y=0101 → interleave (x bit j at 2j, y bit j at 2j+1):
    // j0: x1→1, y1→2; j1: x1→4, y0; j2: x0, y1→32; j3: 0 ⇒ 1+2+4+32 = 39
    assert(got === 39L)
    intercept[IllegalArgumentException] {
      Manifest.zvalue(Seq(col("x"), col("y")), 32) // 64 bits: overflows signed long
    }
  }

  test("one Z-ordered layout prunes on BOTH interleaved columns") {
    // two independent 0..63 dimensions, 4096 rows — a lexicographic sort
    // on x would leave every file's y interval at full width
    val df = (0L until 4096L).map(i => (i % 64, i / 64, i)).toDF("x", "y", "payload")
    val path = tmp("graft-zord")
    Manifest.writeZordered(df, path, Seq("x", "y"), 6, 16)
    val all = s.read.parquet(path).inputFiles.length
    val prunedX = Manifest.prunedFiles(s, path, "x", 0L, 15L)
    val prunedY = Manifest.prunedFiles(s, path, "y", 0L, 15L)
    assert(all === 16)
    // a quarter of each dimension's range → at most half the files under
    // Z-order (perfect interleave would give 1/4 ± boundary files)
    assert(prunedX.length <= all / 2, s"x-pruning read ${prunedX.length}/$all")
    assert(prunedY.length <= all / 2, s"y-pruning read ${prunedY.length}/$all")
    // answer-invisible on the non-leading dimension too
    val got = Manifest.readPruned(s, path, "y", 0L, 15L)
      .orderBy("payload").select("payload").as[Long].collect().toSeq
    val exp = df.filter(col("y").between(0L, 15L))
      .orderBy("payload").select("payload").as[Long].collect().toSeq
    assert(got === exp)
  }
}
