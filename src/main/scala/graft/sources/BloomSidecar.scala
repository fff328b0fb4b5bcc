package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Native

import graft.functions.{BloomAgg, BloomMightContain}

/** ONE implementation of the stores' Bloom-filter sidecar protocol —
  * the machinery the bucket pre-gate (`_bloom.bin`,
  * [[graft.operators.Dedup]]) and the id-membership ingest guard
  * (`_idbloom.bin`, [[IdBloom]]) share: build from a key column
  * (the native `graft_bloom` partial aggregate — map tasks carry bit
  * arrays, never the key stream), atomic
  * write-aside-and-rename replace with LOUD delete/rename failures
  * (Hadoop FS reports them by returning false; an unchecked failure
  * leaves a STALE sidecar missing newly absorbed keys, silently
  * breaking the no-false-negative soundness both probes rest on),
  * lazy [[ensureFrom]] backfill, superset-before-append [[absorb]],
  * and the map-side [[mightContain]] probe (the native expression with
  * the filter riding as a literal).
  *
  * Keys are STRINGS: each caller owns its canonical key encoding
  * (the dedup gate's bucket strings, the ingest guard's decimal id
  * strings) and passes a one-string-column frame / a string-typed
  * Column, so the filter bits are layout-independent.
  */
final class BloomSidecar(sidecarName: String, val bits: Int, val hashes: Int) {

  def path(store: String): String = store + "/" + sidecarName

  private def fsOf(s: SparkSession, p: String): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p), s.sparkContext.hadoopConfiguration)

  def read(s: SparkSession, store: String): Option[Array[Byte]] = {
    val fs = fsOf(s, store)
    val p = new org.apache.hadoop.fs.Path(path(store))
    if (!fs.exists(p)) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try { in.readFully(buf); Some(buf) } finally in.close()
    }
  }

  /** Atomic replace: write aside, rename in — a crash leaves the
    * previous filter or the new one, never a torn file. */
  def write(s: SparkSession, store: String, bytes: Array[Byte]): Unit = {
    val fs = fsOf(s, store)
    val tmp = new org.apache.hadoop.fs.Path(path(store) + ".tmp")
    val dst = new org.apache.hadoop.fs.Path(path(store))
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (fs.exists(dst)) require(fs.delete(dst, false),
      s"could not replace bloom sidecar at $dst")
    require(fs.rename(tmp, dst), // crash before this leaves only .tmp residue
      s"could not move bloom sidecar into place at $dst")
  }

  /** Build the filter of a one-string-column key frame. */
  def buildOf(keys: DataFrame): Array[Byte] =
    keys.agg(Native.col(BloomAgg(Native.expr(col(keys.columns.head).cast("string")),
        Literal(bits), Literal(hashes)).toAggregateExpression()).as("f"))
      .head().getAs[Array[Byte]]("f")

  /** Union a batch's keys into the sidecar BEFORE its rows land — no-op
    * while the sidecar is absent (only [[ensureFrom]] creates it, and
    * its full-store build covers whatever was appended before). The
    * read-union-write is NOT atomic across concurrent distinct writers:
    * the stores' single-writer mutation protocol ([[StoreLock]])
    * serializes callers. */
  def absorb(s: SparkSession, store: String, keys: DataFrame): Unit =
    read(s, store).foreach { cur =>
      write(s, store, graft.functions.GBloom.union(cur, buildOf(keys)))
    }

  /** The store's filter, built from `keys` (one column-pruned store
    * scan) if absent — paid once per store version, amortized by every
    * later map-side probe.
    *
    * The build-and-PERSIST branch runs under the store's writer claim
    * (r16 advice): a lock-free backfill could race a locked append right
    * after a compaction dropped the sidecar — the append's [[absorb]]
    * no-ops (sidecar absent), the backfill builds from a PRE-append
    * store scan and writes it, and every later reader trusts a persisted
    * filter missing the appended keys: a silent false negative in the
    * pre-gate, the exact soundness hole the no-false-negative protocol
    * forbids. Under the claim the build's store scan is append-stable,
    * and the post-acquire re-[[read]] keeps the backfill idempotent
    * against a concurrent writer that already restored it. Probe-only
    * reads (the [[read]] hit above) stay lock-free. When the claim is
    * unavailable — contended under the fail-fast default, or a
    * URI-addressed store under the default local binding (probe-only
    * readers never bound an object store) — the filter is built and
    * USED but not persisted: sound for this reader (consistent with its
    * own snapshot), and no stale bits outlive the call. */
  def ensureFrom(s: SparkSession, store: String)(keys: => DataFrame): Array[Byte] =
    read(s, store).getOrElse {
      // withLockIfAvailable scopes the fallback to ACQUISITION failures
      // only: a build/persist failure inside the claim (e.g. write's
      // loud rename refusal) PROPAGATES — swallowing it would be the
      // silent-degradation mode this file's header forbids.
      StoreLock.withLockIfAvailable(store, s"$sidecarName-backfill") {
        read(s, store).getOrElse {
          val bytes = buildOf(keys)
          write(s, store, bytes)
          bytes
        }
      }.getOrElse {
        System.err.println(s"[bloom-sidecar] backfill of ${path(store)} could not " +
          "claim the store (writer contention or an unbound remote store); " +
          "built for this use only, not persisted")
        buildOf(keys)
      }
    }

  /** Map-side membership probe of a string-typed key column against an
    * encoded filter. Null-safe (null in, null out) so callers can route
    * null probes to their conservative branch. */
  def mightContain(key: Column, bytes: Array[Byte]): Column =
    Native.col(BloomMightContain(Native.expr(key), Literal(bytes)))
}
