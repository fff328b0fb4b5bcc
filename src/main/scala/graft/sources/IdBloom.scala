package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Id-MEMBERSHIP Bloom sidecar for the index stores (signature / vector),
  * whose admission membership is their own rows: `_idbloom.bin` under the
  * store dir holds a [[graft.functions.GBloom]] filter over the store's id
  * column (decimal-string key bytes, so the filter is layout-independent
  * and deterministic). Purpose: make the ingest-time cross-batch
  * doc-disjointness guard ([[graft.operators.Pipeline]]'s
  * `requireNewDocsInIndex`) cost O(batch) instead of O(store) — the
  * incoming ids probe the filter MAP-SIDE, and only ids the filter cannot
  * rule out reach the exact verification scan. One-sided error does the
  * work: a miss is PROVABLY novel (skip the scan — the common all-new
  * ingest batch never scans the store), a hit is re-checked exactly (a
  * false positive costs one pruned scan, never a wrong refusal).
  *
  * Lifecycle, mirroring the bucket-Bloom sidecar (`_bloom.bin`,
  * [[graft.operators.Dedup]]) — both ride the ONE shared
  * [[BloomSidecar]] protocol implementation (build / atomic replace /
  * lazy ensure / superset-before-append absorb / map-side probe):
  *  - built LAZILY by [[ensure]] from one column-pruned scan of the store
  *    the first time a guard needs it (bootstrap writers stay untouched —
  *    a deployment that never uses `ingestDocs` never pays for it);
  *  - every append face absorbs its batch's ids BEFORE the data lands
  *    ([[absorb]], a no-op while the sidecar is absent), so the filter is
  *    always a SUPERSET of the stored ids — the no-false-negative
  *    invariant; a crash between absorb and append leaves harmless extra
  *    bits, and a replayed batch re-ORs the same bits (idempotent);
  *  - compaction swaps DROP the sidecar (it is not carried into the temp
  *    dir), which is the desired semantics: a post-purge rebuild forgets
  *    the physically deleted ids' bits — a Bloom filter cannot unlearn,
  *    so the swap is the only way retracted ids ever stop costing a
  *    verification scan. The next guard rebuilds via [[ensure]].
  *
  * Sizing: [[Bits]] = 2^24 (a 2 MiB file) holds ~1.7M ids at ~1% false
  * positives. A store far beyond that saturates the filter and the guard
  * DEGRADES to the exact scan it replaced — never to a missed clash — and
  * a deployment at that scale keeps the documented escape hatch of
  * external membership bookkeeping. Same single-writer mutation protocol
  * as every other store sidecar: the read-union-write in [[absorb]] is
  * not atomic across concurrent distinct writers.
  */
object IdBloom {

  /** Filter size in bits (2 MiB on disk) — see sizing note above. */
  val Bits: Int = 1 << 24
  val Hashes: Int = 5

  private val sidecar = new BloomSidecar("_idbloom.bin", Bits, Hashes)

  def path(store: String): String = sidecar.path(store)

  def read(s: SparkSession, store: String): Option[Array[Byte]] =
    sidecar.read(s, store)

  /** Canonical key bytes for an id: its decimal string. */
  private def keyCol(id: Column): Column = id.cast("long").cast("string")

  /** Union a batch's ids into the sidecar BEFORE its rows land — no-op
    * while the sidecar is absent (only [[ensure]] creates it, and its
    * full-store build covers whatever was appended before). */
  def absorb(s: SparkSession, store: String, ids: DataFrame): Unit =
    sidecar.absorb(s, store,
      ids.select(keyCol(col(ids.columns.head)).as("k")))

  /** The store's id filter, built from a column-pruned scan of `idCol`
    * if absent — one O(store-ids) job that every later guard amortizes
    * to an O(batch) map-side probe. */
  def ensure(s: SparkSession, store: String, idCol: String): Array[Byte] =
    sidecar.ensureFrom(s, store)(
      s.read.parquet(store).select(keyCol(col(idCol)).as("k")))

  /** Map-side membership probe of an id column against an encoded
    * filter. */
  def mightContain(id: Column, bytes: Array[Byte]): Column =
    sidecar.mightContain(keyCol(id), bytes)
}
