package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Native
import org.apache.spark.sql.types.LongType

import graft.functions.{BigramArray, BpeEncode, DeflateLen, MgFrequentItems, NormTextExpr, TopWordCount}
import graft.sources.Tables

/** Text-analysis operators for a training-data pipeline over `documents`:
  * language ID, quality scoring, token counting, fingerprinting
  * (north-star extensions, SURVEY §7.6).
  *
  * All of these are single-pass, shuffle-free column expressions — at
  * 100 TB they stream through the scan at full codegen speed; the only
  * exchange in this file is the final orderBy the harness needs for
  * deterministic comparison (drop it in production use).
  */
object TextOps {

  /** lowercase, strip non [a-z ], collapse runs of spaces, trim — the
    * native [[graft.functions.NormTextExpr]] kernel (r22, guide §4).
    * This is the FIRST projection of every tokenizing corpus scan in
    * TextOps, Dedup and Search — one definition for all three, pinned
    * against the builtin regexp_replace tree by TextOpsSpec. */
  private[graft] def normText(c: Column): Column =
    Native.col(NormTextExpr(Native.expr(c)))

  /** Whitespace word count. */
  private def wordCount(c: Column): Column =
    size(split(trim(c), " +")).cast(LongType)

  /** Substring occurrence count via the length-difference trick — exact,
    * codegen-friendly, and expressible identically in the DuckDB oracle.
    */
  private def occ(c: Column, w: String): Column =
    ((length(c) - length(regexp_replace(c, java.util.regex.Pattern.quote(w), ""))) / w.length)
      .cast(LongType)

  // Language ID: marker-word heuristic (n-gram-style presence scoring).
  // NOTE the synthetic corpus shares one vocabulary across langs, so
  // accuracy against the `lang` column is meaningless here — the operator
  // demonstrates the deterministic scoring plumbing, which is what a real
  // fastText-style scorer would slot into.
  def qLangId(s: SparkSession, dir: String): DataFrame = {
    val t = concat(lit(" "), normText(col("text")), lit(" "))
    val pred = when(occ(t, " the ") >= 1, "en")
      .when(occ(t, " der ") >= 1, "de")
      .when(occ(t, " le ") >= 1, "fr")
      .when(occ(t, " el ") >= 1, "es")
      .otherwise("und")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), pred.as("pred_lang"))
      // when/otherwise, not a bare cast: a NULL lang must score 0 like
      // the oracle's CASE (the bare equality would yield NULL and
      // hash-diverge on a corpus with unlabeled docs)
      .withColumn("is_match", when(col("pred_lang") === col("lang"), 1).otherwise(0))
      .orderBy("doc_id")
  }

  // Quality scoring: length/punctuation/stopword ratios + linear score.
  // (Deliberately no transcendental functions: exp/log differ across libm
  // implementations and would break bit-exact differential testing.)
  def qTextQuality(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val nWords = wordCount(t)
    // punctuation = what REMAINS after stripping [a-z ] (the remainder IS
    // the non-letter content; subtracting it from the length would count
    // the clean characters instead)
    val punct = length(regexp_replace(t, "[a-z ]", ""))
    // empty-text guard (compressRatioOf's n_bytes discipline): 0/0 under
    // the ANSI default would abort the whole scan on one junk document;
    // an empty doc has no punctuation, so its ratio is 0
    val punctRatio =
      when(length(t) > 0, punct / length(t).cast("double")).otherwise(lit(0.0))
    val stopCnt = occ(t, "the")
    Tables.documents(s, dir)
      .select(col("doc_id"), nWords.as("n_words"),
        round(length(regexp_replace(t, " ", "")) / nWords.cast("double"), 6).as("avg_word_len"),
        round(punctRatio, 6).as("punct_ratio"),
        round(stopCnt / nWords.cast("double"), 6).as("stop_ratio"),
        round(lit(0.001) * nWords + lit(1.0) - punctRatio, 6).as("quality_score"))
      .orderBy("doc_id")
  }

  // ---- source (domain) reputation filter ----------------------------------

  /** Deterministic blocklist stand-in (a real pipeline loads its domain
    * blocklist as a table; two of the synthetic corpus' 20 sources keep
    * the verdict class non-empty at every SF). */
  private val SourceBlocklist = Seq("src3", "src7")
  private val SourceMinQuality = 1.051
  private val SourceMaxDupShare = 0.1

  /** RefinedWeb/C4-style SOURCE-level filtering (Penedo et al. 2023 drop
    * whole domains by URL blocklist and per-domain quality statistics
    * before any per-document work): aggregates the corpus to one row per
    * source carrying doc count, mean quality score (the q_text_quality
    * linear score) and exact-duplicate share, then assigns a verdict —
    * blocked (listed) > high_dup (dup share over threshold) >
    * low_quality (mean under threshold) > ok.
    *
    * Determinism discipline: the per-doc score is rounded to 6 decimals
    * FIRST and summed as decimal(18,6) — summing raw doubles would make
    * the mean partition-order-dependent and flake the differential gate.
    * Scale: per-doc rows reduce map-side into ~|sources| rows; the dup
    * rank is a window on the 128-bit content hash (uniform keys, the
    * qDedupExact shape). At 100 TB the reputation table is millions of
    * domains × ~40 bytes — broadcastable to the per-doc filter join
    * ([[qSourceFilter]]), which is the point of aggregating at source
    * granularity before touching documents again. */
  /** Per-document quality score — ONE definition shared by
    * [[sourceReputation]]'s mean and [[urlDedup]]'s keeper rule (the
    * two faces compose; two drifting copies would let the URL keeper
    * silently rank under a different quality than the source verdicts
    * it tie-breaks with). Fixed-point decimal so sums stay
    * partition-order-independent. */
  private def docQualityCol(t: Column): Column = {
    val punctRatio =
      when(length(t) > 0,
        length(regexp_replace(t, "[a-z ]", "")) / length(t).cast("double"))
        .otherwise(lit(0.0))
    round(lit(0.001) * wordCount(t) + lit(1.0) - punctRatio, 6).cast("decimal(18,6)")
  }

  def sourceReputation(docs: DataFrame, blocklist: Seq[String] = SourceBlocklist): DataFrame = {
    val perDoc = docs.select(col("doc_id"), col("source"),
      docQualityCol(col("text")).as("qs"),
      row_number().over(
        Window.partitionBy(md5(col("text").cast("binary"))).orderBy("doc_id")).as("rn"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round((sum(col("qs")) / count(lit(1))).cast("double"), 6).as("mean_quality"),
        round(sum(when(col("rn") > 1, 1.0).otherwise(0.0)) / count(lit(1)), 6)
          .as("dup_share"))
      .withColumn("verdict",
        when(col("source").isin(blocklist: _*), "blocked")
          .when(col("dup_share") > SourceMaxDupShare, "high_dup")
          .when(col("mean_quality") < SourceMinQuality, "low_quality")
          .otherwise("ok"))
      .orderBy("source")
  }

  def qSourceReputation(s: SparkSession, dir: String): DataFrame =
    sourceReputation(Tables.documents(s, dir))

  /** The per-document face: every doc joined to its source's verdict via
    * an explicit broadcast of the reputation table (see
    * [[sourceReputation]]'s scale note) — the corpus never shuffles for
    * this filter. */
  def sourceFilter(docs: DataFrame, blocklist: Seq[String] = SourceBlocklist): DataFrame =
    docs.select("doc_id", "source")
      .join(broadcast(sourceReputation(docs, blocklist)
        .select("source", "verdict")), Seq("source"))
      .select(col("doc_id"), col("source"), col("verdict"),
        when(col("verdict") === "ok", 1).otherwise(0).as("kept"))
      .orderBy("doc_id")

  def qSourceFilter(s: SparkSession, dir: String): DataFrame =
    sourceFilter(Tables.documents(s, dir))

  // ---- URL canonicalization + URL-level dedup ------------------------------
  // The CommonCrawl pipeline stage the text stack was missing (r19
  // verdict item 7): a crawl sees the same page under dozens of URL
  // spellings; canonicalize, then keep ONE document per canonical URL —
  // the cheap dedup that runs BEFORE any content fingerprinting.

  /** Canonicalize a URL with pure string expressions (codegen-friendly,
    * no UDF, replayable in plain SQL). The canonicalization table —
    * pinned case-by-case in TextOpsSpec:
    *
    *  1. trim; strip the fragment (`#…`);
    *  2. scheme and host[:port] lowercase — path and query KEEP case
    *     (most servers treat paths case-sensitively);
    *  3. default ports drop: `:80` under http, `:443` under https —
    *     non-default ports and other schemes' ports stay;
    *  4. tracking parameters drop: `utm_*`, `gclid`, `fbclid`, `ref`
    *     (exact names with values; `referer` is NOT `ref` and stays);
    *     remaining parameters keep their order (reordering would need
    *     evidence the server ignores order — it often doesn't);
    *  5. trailing slashes strip; an empty path canonicalizes to `/`;
    *  6. a string with no `scheme://host` — or with whitespace INSIDE
    *     the trimmed string (a raw URL cannot contain unencoded spaces
    *     or line terminators, and a `$`-anchored extraction over one
    *     would silently truncate at the newline and merge distinct junk
    *     strings into one canonical group) — is NOT a URL → null (the
    *     strict-claim doctrine: arbitrary corpus bytes never
    *     half-claim).
    */
  def urlCanonicalize(u: Column): Column = {
    val t = regexp_replace(trim(u), "#.*$", "")
    val scheme = lower(regexp_extract(t, "^([A-Za-z][A-Za-z0-9+.\\-]*)://", 1))
    val hostPort = lower(regexp_extract(t, "^[^:/?#]+://([^/?#]*)", 1))
    val tail = regexp_extract(t, "^[^:/?#]+://[^/?#]*(.*)$", 1)
    val host = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val path0 = regexp_extract(tail, "^([^?]*)", 1)
    val query0 = regexp_extract(tail, "^[^?]*\\?(.*)$", 1)
    val stripped = regexp_replace(path0, "/+$", "")
    val path = when(stripped === "", lit("/")).otherwise(stripped)
    val kept = array_join(filter(split(query0, "&"),
      p => !p.rlike("^(utm_[^=]*|gclid|fbclid|ref)=") && p =!= lit("")), "&")
    when(scheme === "" || hostPort === "" || t.rlike("\\s"),
        lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, path,
        when(kept === "", lit("")).otherwise(concat(lit("?"), kept))))
  }

  /** Deterministic messy-URL plant over the documents table (the
    * multimodal plant pattern — the corpus has no URL column, so the
    * face synthesizes one per doc with every canonicalization hazard:
    * mixed scheme/host case, scheme-matching default ports, trailing
    * slashes, tracking params, fragments), keyed so ~2+ docs share each
    * canonical URL. The DuckDB oracle replays the PLANT arithmetic
    * directly to the canonical form, so any misstep in
    * [[urlCanonicalize]] over the full plant variety fails the hash. */
  private[graft] def syntheticUrlCol: Column = {
    val id = col("doc_id")
    concat(
      when(pmod(id, lit(2)) === 0, lit("http")).otherwise(lit("HTTPS")),
      lit("://WWW.Example-"), pmod(id, lit(3)), lit(".COM"),
      // %4==0 is always even (http), %4==1 always odd (HTTPS) — the
      // planted default port always matches its scheme
      when(pmod(id, lit(4)) === 0, lit(":80"))
        .when(pmod(id, lit(4)) === 1, lit(":443"))
        .otherwise(lit("")),
      lit("/docs/"), pmod(id, lit(20)),
      when(pmod(id, lit(3)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(id, lit(5)) === 0, lit("?utm_source=feed&utm_medium=rss"))
        .when(pmod(id, lit(5)) === 1, concat(lit("?id="), pmod(id, lit(20)), lit("&utm_campaign=x")))
        .when(pmod(id, lit(5)) === 2, concat(lit("?id="), pmod(id, lit(20))))
        .otherwise(lit("")),
      when(pmod(id, lit(6)) === 0, lit("#sec-2")).otherwise(lit("")))
  }

  /** URL-level dedup: one surviving document per canonical URL. The
    * keeper COMPOSES with [[sourceReputation]]: best source verdict
    * first (ok < low_quality < high_dup < blocked), then the shared
    * per-doc quality score ([[docQualityCol]]) descending, then doc_id
    * — so a spam mirror never outranks the original just by being
    * crawled first. Scale shape: the reputation table broadcasts (it is
    * |sources| rows); the window partitions by canonical URL —
    * high-cardinality keys, bounded groups (a page's spelling variants),
    * the qTopnPergroup shape. */
  def urlDedup(docs: DataFrame): DataFrame = {
    val rep = sourceReputation(docs).select(col("source"), col("verdict"))
    val vRank = when(col("verdict") === "ok", 0)
      .when(col("verdict") === "low_quality", 1)
      .when(col("verdict") === "high_dup", 2)
      .otherwise(3)
    val scored = docs
      .withColumn("canonical_url", urlCanonicalize(syntheticUrlCol))
      .join(broadcast(rep), Seq("source"))
      .withColumn("vrank", vRank)
      .withColumn("qs", docQualityCol(col("text")))
    val w = Window.partitionBy("canonical_url")
      .orderBy(col("vrank"), col("qs").desc, col("doc_id"))
    scored.withColumn("rn", row_number().over(w))
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_variants"),
        min(when(col("rn") === 1, col("doc_id"))).as("keep_id"),
        min(when(col("rn") === 1, col("source"))).as("keep_source"),
        min(when(col("rn") === 1, col("verdict"))).as("keep_verdict"))
      .orderBy("canonical_url")
  }

  def qUrlDedup(s: SparkSession, dir: String): DataFrame =
    urlDedup(Tables.documents(s, dir))

  // Token counting, three tiers: whitespace tokens; the chars/4 estimate
  // (the standard subword-per-char rule of thumb); and a GPT-2-style
  // pretokenizer regex — optional-space-prefixed runs of letters, digits,
  // or other — whose match count is what a BPE tokenizer's merge stage
  // starts from. The pattern sticks to classes + alternation so Java
  // regex and DuckDB's RE2 segment identically.
  private val PretokenPattern = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"

  def qTokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        wordCount(col("text")).as("ws_tokens"),
        ceil(length(col("text")) / 4.0).cast(LongType).as("bpe_est_tokens"),
        size(regexp_extract_all(lower(col("text")), lit(PretokenPattern), lit(0)))
          .cast(LongType).as("pretoken_count"))
      .orderBy("doc_id")

  // ---- real subword tokenization (BPE) -----------------------------------

  /** Merge-table size for [[qTokenBpe]] — enough merges that common
    * corpus words fuse to single tokens while rare words stay multi-token
    * (the compression split a real tokenizer shows). */
  private[graft] val BpeNumMerges = 160

  /** Word-frequency rows fed to merge training: the TOP slice by (count
    * desc, word asc) — deterministic, and it bounds the driver-side
    * training table no matter the corpus size (production BPE trainers
    * consume exactly such a pre-aggregated, truncated count file). */
  private[graft] val BpeTrainVocab = 2000

  /** Train the corpus' BPE merge table: ONE distributed token-keyed
    * aggregate (scales out; the only data-plane pass), then the top
    * [[BpeTrainVocab]] (word, count) rows — vocabulary-bounded index
    * metadata, the IVF-quantizer-training shape — iterate driver-side
    * through [[graft.functions.Bpe.trainMerges]]. */
  private[graft] def bpeMergesOf(docs: DataFrame): IndexedSeq[(String, String)] = {
    val wc = docs
      .select(explode(split(normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(BpeTrainVocab)
      .collect().map(r => (r.getString(0), r.getLong(1))).toIndexedSeq
    graft.functions.Bpe.trainMerges(wc, BpeNumMerges)
  }

  /** The flat BPE token array of a words column — the native
    * `graft_bpe` expression with the merge table riding as a literal
    * (per-row merge loop where the document lives; no shuffle, no
    * driver loop). TextOpsSpec proves it equal to a UDF over the shared
    * encoder. */
  private[graft] def bpeTokensCol(words: Column,
      merges: IndexedSeq[(String, String)]): Column =
    // typedLit, not array(array(..)): it ships the table as ONE literal
    // and keeps the array<array<string>> type when the trained table is
    // EMPTY (array() of zero elements types as array<null>, which the
    // expression's type check rightly rejects).
    Native.col(BpeEncode(Native.expr(words),
      Native.expr(typedLit(merges.map { case (l, r) => Seq(l, r) }))))

  /** Per-document REAL subword token counts: train the corpus' merge
    * table ([[bpeMergesOf]]), encode every document where it lives, and
    * report the counts a shard packer / mixture planner would budget
    * with — words, normalized chars, BPE tokens, and chars-per-token
    * (the compression a deployed tokenizer actually achieves, which the
    * chars/4 estimate in [[qTokenCount]] only guesses at). DuckDB cannot
    * replay iterative merge training, so correctness rides the
    * differential expected-parquet twin
    * ([[graft.verify.Expected.bpeRows]]) — shared trainer and per-word
    * encoder, independently re-derived word counts and aggregation. */
  def qTokenBpe(s: SparkSession, dir: String): DataFrame =
    tokenBpeOf(Tables.documents(s, dir))

  /** Materialize a trained BPE merge table as a stored MODEL — the
    * "train once, encode forever" artifact a deployment actually ships
    * (retraining per query keeps the operator pure; production encodes
    * a 100 TB corpus under one frozen tokenizer so token budgets stay
    * comparable across runs). Layout: (rank, left, right) parquet rows,
    * rank = merge priority — tiny index metadata, written through the
    * crash-safe [[graft.sources.Stores.overwriteAside]] swap like every
    * store here.
    *
    * NON-RETRACTABLE BY DESIGN: unlike the LM/NB count stores
    * ([[retractLmDocs]]/[[retractNbDocs]]), a merge table is trained
    * STATISTICS, not stored content — the greedy merge order is a
    * global argmax sequence, so removing one doc's pair counts can
    * reorder every later merge and there is no per-doc correction that
    * reproduces a retrain (the IVF centroids ride through retraction on
    * the same reasoning). A deployment's delete obligation for a
    * tokenizer is retraining on the surviving corpus, a policy
    * decision, not a store operation; the docs THEMSELVES retract from
    * the content stores. */
  def writeBpeModel(s: SparkSession, docs: DataFrame, path: String): Unit = {
    val merges = bpeMergesOf(docs)
    graft.sources.Stores.overwriteAside(s, path) { tmp =>
      bpeVersionDf(s, merges, 0L).write.partitionBy("version").parquet(tmp)
    }
  }

  private def bpeVersionDf(s: SparkSession,
      merges: IndexedSeq[(String, String)], version: Long): DataFrame = {
    import s.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r, version) }
      .toDF("rank", "left", "right", "version")
      .coalesce(1)
  }

  /** The store's trained VERSIONS, from a directory listing alone. */
  def bpeVersions(s: SparkSession, path: String): Seq[Long] = {
    graft.sources.Stores.recover(s, path)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      s.sparkContext.hadoopConfiguration)
    val hp = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(hp)) Seq.empty
    else fs.listStatus(hp).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("version="))
      .map(_.stripPrefix("version=").toLong).toSeq.sorted
  }

  /** RETRAIN the stored tokenizer as a NEW version: merges trained on
    * `docs` land under `version=V` while every prior version's rank
    * table stays readable verbatim — the audit face a tokenizer store
    * was missing. The LM/NB stores answer "score under the model as of
    * batch N" through batch-scoped corrections; a merge table has no
    * per-doc corrections ([[writeBpeModel]]: retraining reorders the
    * global argmax sequence), so its history is whole VERSIONS, and
    * "which merge table tokenized shard N" becomes
    * [[loadBpeModelAt]](path, versionRecordedForShardN).
    *
    * Crash contract: the version's rows land as a dynamic overwrite of
    * their own `version=V` partition (a replayed retrain on the same
    * corpus rewrites identical content), under the store's writer claim
    * ([[graft.sources.StoreLock]]). `version` is caller-assigned like
    * every batch id here: monotonically growing by convention, and a
    * re-assignment of an EXISTING version is the replay contract, not a
    * silent history rewrite — callers version-bump per retrain. */
  def appendBpeVersion(s: SparkSession, docs: DataFrame, path: String,
      version: Long): Unit = {
    require(version >= 1,
      "retrained versions are >= 1 (version 0 is the bootstrap write)")
    graft.sources.StoreLock.withLock(path, "bpe-retrain") {
      graft.sources.Stores.recover(s, path)
      require(bpeVersions(s, path).nonEmpty,
        s"BPE store $path has no versioned layout — bootstrap with writeBpeModel first " +
          "(a pre-versioning flat store predates the audit contract; re-train it)")
      graft.sources.Sinks.overwritePartitionsDynamic(
        bpeVersionDf(s, bpeMergesOf(docs), version), path, Seq("version"))
    }
  }

  /** The merge table AS OF `version`, rank-ordered — the exact
    * `IndexedSeq[(left, right)]` [[bpeTokensCol]] encodes under, frozen
    * at that retrain. Loud refusal when the version was never trained. */
  def loadBpeModelAt(s: SparkSession, path: String, version: Long): IndexedSeq[(String, String)] = {
    graft.sources.Stores.recover(s, path)
    val vs = bpeVersions(s, path)
    require(vs.contains(version),
      s"BPE store $path has no version $version (trained versions: " +
        s"${if (vs.isEmpty) "none — legacy flat layout or absent store" else vs.mkString(", ")})")
    // by NAME, not ordinal (qualityClassifierStored's rule): left and
    // right are same-typed, so a writer column reorder would otherwise
    // swap merge sides silently — a wrong tokenizer with no error
    s.read.parquet(path).filter(col("version") === version)
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toIndexedSeq
  }

  /** The LATEST stored merge table — what a production encode uses; a
    * stored model and an in-query training run are interchangeable
    * (TextOpsSpec asserts encode-equality end to end). Pre-versioning
    * flat stores refuse loudly: silently reading an unversioned rank
    * table would serve a tokenizer no audit can ever name. */
  def loadBpeModel(s: SparkSession, path: String): IndexedSeq[(String, String)] = {
    val vs = bpeVersions(s, path)
    require(vs.nonEmpty,
      s"BPE store $path has no trained versions — absent store, or a " +
        "pre-versioning flat layout (re-train with writeBpeModel)")
    loadBpeModelAt(s, path, vs.max)
  }

  /** [[tokenBpeOf]] served from a STORED model instead of retraining —
    * identical output by construction (same encoder, same merge table). */
  private[graft] def tokenBpeStoredOf(s: SparkSession, docs: DataFrame,
      modelPath: String): DataFrame =
    tokenBpeWith(docs, loadBpeModel(s, modelPath))

  /** Tmp-scoped model path per dataset ([[graft.sources.TmpStores]]). */
  private def modelPath(kind: String, dir: String): String =
    graft.sources.TmpStores.scopedPath(s"graft-$kind", dir)

  /** [[qTokenBpe]] served END-TO-END from the stored merge table: write
    * the model (once, memoized), load it back, encode. Shares
    * q_token_bpe's differential Expected oracle — materializing the
    * tokenizer must not change a single token count. */
  def qBpeProbe(s: SparkSession, dir: String): DataFrame = {
    val path = modelPath("bpemodel", dir)
    graft.sources.TmpStores.buildOnce(path)(
      writeBpeModel(s, Tables.documents(s, dir), path))
    tokenBpeStoredOf(s, Tables.documents(s, dir), path)
  }

  /** The versioned tokenizer's AS-OF face, oracle-gated end to end:
    * bootstrap version 0 on the early corpus (without the `%10 = 5`
    * docs — the q_provenance split), retrain version 1 on the full
    * corpus via [[appendBpeVersion]], then answer the audit question —
    * encode TODAY's corpus under the merge table AS OF version 0
    * ([[loadBpeModelAt]]). The differential Expected twin trains its
    * own tokenizer on the same early slice and encodes everything, so
    * green pins version isolation (v1's retrain must not leak into the
    * v0 read), the versioned layout, and the loader in one hash. */
  def qBpeAsof(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val late = pmod(col("doc_id"), lit(10L)) === 5
    val path = modelPath("bpemodel-asof", dir)
    graft.sources.TmpStores.buildOnce(path) {
      writeBpeModel(s, docs.filter(!late), path)
      appendBpeVersion(s, docs, path, version = 1L)
    }
    tokenBpeWith(docs, loadBpeModelAt(s, path, 0L))
  }

  /** [[qTokenBpe]] over an arbitrary (doc_id, text) frame — the seam
    * TextOpsSpec drives constructed corpora through. */
  private[graft] def tokenBpeOf(docs: DataFrame): DataFrame =
    tokenBpeWith(docs, bpeMergesOf(docs))

  private def tokenBpeWith(docs: DataFrame,
      merges: IndexedSeq[(String, String)]): DataFrame = {
    docs
      .select(col("doc_id"),
        filter(split(normText(col("text")), " "), w => length(w) > 0).as("words"))
      .select(col("doc_id"),
        size(col("words")).cast(LongType).as("n_words"),
        length(array_join(col("words"), "")).cast(LongType).as("n_chars"),
        bpeTokensCol(col("words"), merges).as("toks"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        size(col("toks")).cast(LongType).as("n_bpe_tokens"),
        when(size(col("toks")) > 0,
          round(col("n_chars") / size(col("toks")).cast("double"), 6))
          .as("chars_per_token"))
      .orderBy("doc_id")
  }

  // Document fingerprinting: md5 over the normalized text + a coarse
  // length bucket — the join key for exact-dedup at scale (group by the
  // 128-bit fingerprint, never by the raw multi-KB text column).
  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(normText(col("text")).cast("binary")).as("fingerprint"),
        floor(col("n_chars") / 100).cast(LongType).as("len_bucket"))
      .orderBy("doc_id")

  // PII scrubbing: emails → <EMAIL>, phone-shaped numbers → <PHONE>,
  // remaining long digit runs → <NUM> — the standard redaction pass of a
  // training-data pipeline, as three ordered regexp_replace steps (email
  // first so its digits aren't half-eaten by the number rule). The
  // synthetic corpus carries no PII, so candidates are constructed
  // deterministically from the data (the q_check_date pattern); the
  // regex cascade and its ordering are the operator under test. Patterns
  // are chosen to evaluate identically under Java regex and DuckDB RE2.
  def qTextRedact(s: SparkSession, dir: String): DataFrame = {
    val contact = concat(substring(col("text"), 1, 40),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or call 555-01"),
      pmod(col("doc_id"), lit(90L)).cast("string").substr(lit(1), lit(2)),
      lit(" ref "), (col("doc_id") * 37 + 1000).cast("string"))
    val redacted = regexp_replace(regexp_replace(regexp_replace(contact,
      "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
      "\\b\\d{3}-\\d{2,}\\b", "<PHONE>"),
      "\\b\\d{4,}\\b", "<NUM>")
    Tables.documents(s, dir)
      .select(col("doc_id"), redacted.as("redacted"),
        occ(redacted, "<EMAIL>").as("n_emails"),
        occ(redacted, "<PHONE>").as("n_phones"),
        occ(redacted, "<NUM>").as("n_nums"))
      .orderBy("doc_id")
  }

  // Document chunking: overlapping token windows — the standard LLM
  // training-prep step (context windows with overlap so no boundary
  // tokens are lost). 100-word chunks, stride 80 (20-word overlap).
  // Pure generator shape: per-doc chunk starts come from `sequence`,
  // the fan-out is one posexplode before any shuffle, and each chunk row
  // carries offsets + a content hash, never the chunk text itself — at
  // 100 TB the chunk table is a narrow index over the corpus, and the
  // chunk text re-materializes on demand from (doc_id, offset).
  private val ChunkSize = 100
  private val ChunkStride = 80

  def qTextChunks(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), split(normText(col("text")), " ").as("words"))
      .withColumn("n", size(col("words")))
    base
      .select(col("doc_id"), col("words"), col("n"),
        explode(expr(s"sequence(1, n, $ChunkStride)")).as("start"))
      // a tail chunk fully contained in its predecessor adds nothing:
      // keep a non-first start only if it reaches ≥ stride-new words
      .filter(col("start") === 1 ||
        col("n") >= col("start") + (ChunkSize - ChunkStride))
      .select(col("doc_id"),
        expr(s"(start - 1) div $ChunkStride").cast(LongType).as("chunk_idx"),
        col("start").cast(LongType).as("chunk_start"),
        size(slice(col("words"), col("start"), lit(ChunkSize))).cast(LongType)
          .as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("words"), col("start"), lit(ChunkSize)))
          .cast("binary")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  // Stratified downsampling: rebalance over-represented languages with a
  // DETERMINISTIC content-hash Bernoulli filter — keep a doc iff the
  // first md5 byte of its text falls under the stratum's hex threshold.
  // No RNG: the same doc makes the same keep/drop decision on any
  // engine, partitioning or rerun (which is also what makes the decision
  // differentially testable at all). One shuffle-free pass + a small
  // aggregate; at 100 TB the keep-filter fuses into the scan.
  def qStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val thresh = when(col("lang") === "en", "29")   // ~16% of en
      .when(col("lang") === "de", "80")             // ~50% of de
      .otherwise("ff")                              // ~100% of the rest
    Tables.documents(s, dir)
      .select(col("lang"),
        (substring(md5(col("text").cast("binary")), 1, 2) <= thresh)
          .cast("int").as("keep"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"), sum("keep").cast(LongType).as("n_kept"))
      .orderBy("lang")
  }

  // Vocabulary coverage: build a corpus-derived dictionary (top-100
  // normalized words, deterministic count-desc/word-asc order) and
  // annotate every document with its out-of-vocabulary ratio — the
  // broadcast-dictionary pattern every tokenizer/quality stage uses.
  // Scale shape: the vocab is ONE aggregate over exploded words (the only
  // shuffle), then rides to every executor as a broadcast single-row
  // array; per-doc coverage is a shuffle-free higher-order filter over
  // the scan — no token-cardinality join.
  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), split(normText(col("text")), " ").as("words"))
    val vocab = docs.select(explode(col("words")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(100)
      .agg(collect_list(col("word")).as("vocab"))
    val inVocab = size(expr("filter(words, w -> array_contains(vocab, w))"))
    docs.crossJoin(broadcast(vocab))
      .select(col("doc_id"), size(col("words")).cast(LongType).as("n_tokens"),
        (size(col("words")) - inVocab).cast(LongType).as("n_oov"),
        round((size(col("words")) - inVocab) / size(col("words")).cast("double"), 6)
          .as("oov_ratio"))
      .orderBy("doc_id")
  }

  /** Tokens per output training shard for [[qTokenShards]]. */
  private val ShardTokenBudget = 4000L

  /** Docs per coarse packing block for [[qTokenShards]]'s two-level
    * prefix sum: the doc-level windows run one task per (lang, block) —
    * parallelism scales with corpus size — while the single-task
    * per-lang pass touches only block totals (corpus/block metadata
    * rows). 256 exercises multi-block packing at the verify SF; a
    * 100 TB deployment raises it (or adds a third level — the same
    * decomposition applied to the block totals) to taste. */
  private[graft] val ShardPackBlock = 256L

  /** Pack documents into fixed-token-budget training shards per
    * language: docs lie in doc_id order and each doc's shard is the
    * budget window its STARTING token offset falls in (global running
    * sum minus own count) — the greedy packer that never splits a
    * document. The differential face is per-shard packing stats.
    *
    * The prefix sum is TWO-LEVEL, because a plain
    * `Window.partitionBy(lang)` is one task per language — parallelism
    * = #languages, the classic window scale-killer:
    *  1. doc-level running sums within (lang, block) — block =
    *     doc_id div [[ShardPackBlock]] — shuffled once on the pair key,
    *     tasks ∝ corpus size;
    *  2. per-lang block offsets = an exclusive prefix sum over the
    *     BLOCK TOTALS (data/[[ShardPackBlock]] metadata rows — the only
    *     single-task-per-lang pass), derived from the same shuffled
    *     frame (the block total is the block's last running sum, so the
    *     doc shuffle is reused — PlanSpec asserts one doc-level
    *     exchange and that no single-key window touches doc rows);
    *  3. global offset = block offset + within-block running sum,
    *     broadcast-joined back on (lang, block).
    * Sum decomposition is exact, so the shard assignment is IDENTICAL
    * to the single-window packer (TextOpsSpec proves equality) and the
    * oracle keeps the naive single-window SQL. */
  def qTokenShards(s: SparkSession, dir: String): DataFrame =
    qTokenShardsBlocked(s, dir, ShardPackBlock)

  /** [[qTokenShards]] with an explicit block size — TextOpsSpec drives a
    * small block so multi-block packing is exercised hard at test SF. */
  private[graft] def qTokenShardsBlocked(s: SparkSession, dir: String, block: Long): DataFrame =
    tokenShardsOf(Tables.documents(s, dir), block)

  /** The packer over an arbitrary (doc_id, lang, text) frame — the seam
    * TextOpsSpec plants null-lang docs through. */
  private[graft] def tokenShardsOf(docs: DataFrame, block: Long): DataFrame = {
    // the explicit isNotNull pair keeps BOTH consumers' subtrees
    // byte-identical below the repartition (the inner join would push
    // its key constraints into one side only), so AQE serves the doc
    // window AND the block-total aggregate from ONE exchange. The lang
    // filter is also SEMANTIC: shards are per-language, so unlabeled
    // (null-lang) documents are excluded from packing — the oracle
    // carries the same WHERE, and TextOpsSpec pins the exclusion
    val base = docs
      .select(col("doc_id"), col("lang"), wordCount(col("text")).as("n_tokens"))
      .withColumn("blk", floor(col("doc_id") / block))
      .filter(col("lang").isNotNull && col("blk").isNotNull)
      .repartition(col("lang"), col("blk"))
    val wDoc = Window.partitionBy("lang", "blk").orderBy("doc_id")
    val inBlock = base.withColumn("run_in_blk", sum("n_tokens").over(wDoc))
    val wBlk = Window.partitionBy("lang").orderBy("blk")
    // block total = the block's LAST running sum, aggregated off the
    // windowed frame (not off base): both join branches then share one
    // identically-pruned subtree below the (lang, blk) exchange —
    // doc_id is the window's order key on each — so AQE serves them
    // from a single shuffle
    val offsets = inBlock.groupBy("lang", "blk")
      .agg(max("run_in_blk").as("blk_tokens"))
      .withColumn("blk_offset", coalesce(
        sum("blk_tokens").over(wBlk) - col("blk_tokens"), lit(0L)))
      .select("lang", "blk", "blk_offset")
    inBlock.join(broadcast(offsets), Seq("lang", "blk"))
      .withColumn("shard_id",
        floor((col("blk_offset") + col("run_in_blk") - col("n_tokens")) / ShardTokenBudget))
      .groupBy("lang", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").cast(LongType).as("shard_tokens"))
      .orderBy("lang", "shard_id")
  }

  /** Rebalance the corpus toward a target language mixture over half
    * the corpus (demo weights: the scarce zh 60%, the rest split evenly — the
    * realistic shape where an upweighted source caps at availability):
    * per-lang keep rates are COMPUTED from corpus statistics — rate =
    * min(1, w_l · n_corpus/2 / n_l) — then applied as deterministic
    * md5-Bernoulli sampling (q_stratified_sample's technique with the
    * hex threshold derived from the rate instead of hard-coded). The
    * stats aggregate is a dimension-sized broadcast back onto the scan;
    * the sampling itself stays a shuffle-free per-row projection. The
    * pass costs one stats scan plus one sampling scan (a deployment
    * with a maintained per-lang stats table drops the first). */
  def qDataMixture(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val tot = counts.agg(sum("n_lang").as("n_corpus"), count(lit(1)).as("n_langs"))
    val weight = when(col("lang") === "zh", lit(0.6))
      .otherwise(lit(0.4) / (col("n_langs") - 1))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("rate", round(least(lit(1.0),
        weight * col("n_corpus") / (lit(2.0) * col("n_lang"))), 6))
      .select(col("lang"), col("rate"))
    // uniform-in-[0,1) draw = first 4 md5 hex chars vs the rate's hex
    // threshold (string compare on fixed-width lowercase hex — identical
    // in DuckDB's printf); rate 1 keeps everything explicitly because
    // floor(1.0 * 65536) = "10000" would compare wrong at width 4
    val keep = (col("rate") >= 1.0) ||
      (substring(md5(col("text").cast("binary")), 1, 4) <
        format_string("%04x", floor(col("rate") * 65536).cast("int")))
    docs.join(broadcast(rates), "lang")
      .withColumn("keep", keep.cast("int"))
      .groupBy("lang")
      .agg(max("rate").as("rate"), count(lit(1)).as("n_total"),
        sum("keep").cast(LongType).as("n_kept"))
      .orderBy("lang")
  }

  /** Sequence-PACKING plan — the concat-and-chunk step every LLM
    * pretraining pipeline runs between cleaning and batching: docs are
    * laid head-to-tail in a deterministic order and cut into
    * fixed-token-budget training sequences; a doc's sequence id is its
    * START offset div the budget. One row per (shard, seq_id) with the
    * doc span and token mass that landed in it — the shuffle-safe plan
    * view (the actual byte concat is a map-side `mapPartitions` over
    * this plan's ordering, no extra exchange).
    *
    * Scale: the running-offset window partitions by shard — at 100 TB
    * the shard count is the parallelism knob and each shard's window is
    * a single sorted pass; no global ordering anywhere. */
  private[graft] val PackBudget = 256L
  private[graft] val PackShards = 8L

  def qSeqPack(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("doc_id"), pmod(col("doc_id"), lit(PackShards)).as("shard"),
        wordCount(col("text")).as("tok"))
      .withColumn("start_tok", sum("tok").over(w) - col("tok"))
      .withColumn("seq_id", expr(s"start_tok div $PackBudget"))
      .groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("sum_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard", "seq_id")
  }

  /** Token-BUDGET sampling plan — the arithmetic a mixture-weighted
    * pretraining run does before sampling: given the per-language
    * available token mass and the mixture weights ([[qDataMixture]]'s
    * convention: zh 0.6, the rest uniform), size each language's slice
    * of a corpus-derived training budget (half the corpus tokens here)
    * and report the sampling rate — or the epoch multiplier when the
    * target EXCEEDS the available mass (the under-resourced-language
    * case, where a real run repeats data). Dimension-sized end to end:
    * one scan to the per-lang aggregate, then driver-scale arithmetic. */
  def qTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("lang"), wordCount(col("text")).as("tok"))
      .groupBy("lang").agg(sum("tok").as("avail_tokens"))
    val tot = toks.agg(sum("avail_tokens").as("corpus_tokens"),
      count(lit(1)).as("n_langs"))
    val weight = when(col("lang") === "zh", lit(0.6))
      .otherwise(lit(0.4) / (col("n_langs") - 1))
    toks.crossJoin(broadcast(tot))
      .withColumn("target_tokens",
        floor(weight * expr("corpus_tokens div 2")).cast(LongType))
      .withColumn("rate",
        round(least(lit(1.0), col("target_tokens") / col("avail_tokens")), 6))
      .withColumn("epochs_needed",
        round(col("target_tokens") / col("avail_tokens"), 3))
      .select("lang", "avail_tokens", "target_tokens", "rate", "epochs_needed")
      .orderBy("lang")
  }

  // ---- repetition filters (Gopher-style quality rules) -------------------

  /** Flag thresholds. The repetition pair sits at ≈p90 of each signal on
    * the synthetic corpus, so the rule splits it non-trivially; a
    * deployment tunes those against its own distribution (Gopher used
    * 0.2 / 0.2 on web text). The structural bounds below them are
    * Gopher's published values verbatim (mean word length in [3, 10],
    * symbol-to-word ≤ 0.1, ≤90% bullet lines, ≤30% ellipsis lines) —
    * they fire on genuinely malformed documents, not distribution
    * tails, so they need no per-corpus tuning. */
  private val TopWordFracMax = 0.14
  private val DupBigramFracMax = 0.065
  private[graft] val MeanWordLenMin = 3.0
  private[graft] val MeanWordLenMax = 10.0
  private[graft] val SymbolWordRatioMax = 0.1
  private[graft] val BulletLineFracMax = 0.9
  private[graft] val EllipsisLineFracMax = 0.3

  /** Per-document quality rules — the Rae et al. (Gopher,
    * arXiv:2112.11446 §A1.1) rule set: the repetition family
    * (most-frequent-word fraction, duplicate-bigram fraction) plus the
    * structural family (mean word length bounds, symbol-to-word ratio
    * over `#`/`...`, bullet-started and ellipsis-ended line fractions),
    * one keep/drop flag over all seven signals.
    *
    * EVERY signal is row-local (r22): the per-doc top-word count is a
    * pure function of the row's own words array — the
    * [[graft.functions.TopWordCount]] kernel counts it in one pass where
    * the row lives, and n_words is simply size(words) (the old
    * explode → (doc, word) groupBy → (doc) re-groupBy → self-join chain
    * recomputed exactly these two values through a token-cardinality
    * shuffle, a doc-cardinality shuffle and a join — all three gone).
    * Distinct-bigram counting, the char/line arithmetic and the
    * line-prefix filters were always O(len) per-row expressions, so the
    * whole operator is now a shuffle-free scan → projection — the
    * cheapest possible distribution shape for a per-document rule set.
    */
  private[graft] def repetitionStats(docs: DataFrame, ordered: Boolean = true): DataFrame = {
    val topCnt = Native.col(TopWordCount(Native.expr(col("words"))))
    val base = docs
      .select(col("doc_id"), col("text"), split(normText(col("text")), " ").as("words"))
      .filter(size(col("words")) >= 2)
    val bigrams = bigramsOfWords
    val lines = split(col("text"), "\n")
    val rowStats = base.select(col("doc_id"),
      size(col("words")).cast(LongType).as("n_words"),
      topCnt.cast(LongType).as("top_cnt"),
      (size(col("words")) - 1).cast(LongType).as("n_bigrams"),
      size(array_distinct(bigrams)).cast(LongType).as("n_distinct_bigrams"),
      round(length(array_join(col("words"), "")) / size(col("words")).cast("double"), 6)
        .as("mean_word_len"),
      round((occ(col("text"), "#") + occ(col("text"), "..."))
        / size(col("words")).cast("double"), 6).as("symbol_word_ratio"),
      round(size(filter(lines, l => ltrim(l).rlike("^[-*] ")))
        / size(lines).cast("double"), 6).as("bullet_line_frac"),
      round(size(filter(lines, l => rtrim(l).endsWith("...")))
        / size(lines).cast("double"), 6).as("ellipsis_line_frac"))
    val topFrac = round(col("top_cnt") / col("n_words").cast("double"), 6)
    val dupFrac = round((col("n_bigrams") - col("n_distinct_bigrams"))
      / col("n_bigrams").cast("double"), 6)
    val out = rowStats
      .select(col("doc_id"), col("n_words"), col("top_cnt"),
        topFrac.as("top_word_frac"), dupFrac.as("dup_bigram_frac"),
        col("mean_word_len"), col("symbol_word_ratio"),
        col("bullet_line_frac"), col("ellipsis_line_frac"))
      .withColumn("flagged",
        (col("top_word_frac") > TopWordFracMax ||
          col("dup_bigram_frac") > DupBigramFracMax ||
          col("mean_word_len") < MeanWordLenMin ||
          col("mean_word_len") > MeanWordLenMax ||
          col("symbol_word_ratio") > SymbolWordRatioMax ||
          col("bullet_line_frac") > BulletLineFracMax ||
          col("ellipsis_line_frac") > EllipsisLineFracMax).cast("int"))
    // the sort exists for the differential harness; compositions
    // (q_quality_funnel) skip the global exchange
    if (ordered) out.orderBy("doc_id") else out
  }

  def qRepetition(s: SparkSession, dir: String): DataFrame =
    repetitionStats(Tables.documents(s, dir))

  // ---- corpus bigram-LM scoring -------------------------------------------

  /** Score every document under a word-bigram language model trained on
    * the corpus itself (add-one smoothing) — the classic
    * "train-on-corpus, score-the-corpus" perplexity filter (CCNet-style,
    * with the corpus standing in for the external LM this container
    * can't ship). Output is mean log-probability per bigram; low scorers
    * are the distribution outliers a quality pass drops.
    *
    * Distribution: the LM IS one aggregate over the bigram stream —
    * bigram counts, keyed on grams (key count ∝ vocab², scales out) —
    * and the context counts derive from IT by a vocab²-bounded
    * re-aggregation, so the gram stream shuffles once, not twice.
    * Scoring joins the stream back to the two count tables; AQE
    * broadcasts them
    * when the vocabulary is dimension-sized (this corpus) and falls back
    * to shuffle joins when it isn't — either plan is right at its scale.
    * A deployment trains once and materializes the LM; re-deriving it
    * here keeps the operator a pure function of the input.
    *
    * Determinism: per-bigram log-probs are fixed-pointed to 1e-6 before
    * the per-doc mean (long sums commute; double sums don't) — the
    * [[graft.operators.Search.bm25]] trick, mirrored in the oracle.
    */
  /** The gram stream of a corpus — (doc_id, bg, w1), ONE definition for
    * the in-query LM, the model writer, and the stored scorer, so the
    * three can never tokenize differently. */
  /** THE bigram projection over a `words` array column — one definition
    * for the Gopher repetition stats and the bigram LM (the lmGrams
    * "can never tokenize differently" contract applied to the gram
    * construction itself). The native [[graft.functions.BigramArray]]
    * kernel (r22, guide §4): the bigram construction fronts every
    * LM/DSIR gram explode — the corpus-scale projection of the whole
    * text-model family. TextOpsSpec pins it against the builtin
    * transform(sequence(...)) tree: same strings, same concat
    * null-propagation. */
  private def bigramsOfWords: Column =
    Native.col(BigramArray(Native.expr(col("words"))))

  /** Explicit store schemas for the model-plane counts reads: a corpus
    * that never produced a count row (every doc < 2 words for the LM,
    * empty classifier domain for the NB) writes partition dirs with no
    * parquet files, and a schema-less read of that layout dies on
    * inference instead of reaching the empty-vocabulary refusals. */
  private[graft] val lmCountsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "bg STRING, c2 BIGINT, batch_id BIGINT")
  private[graft] val nbCountsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "w STRING, c_pos BIGINT, c_neg BIGINT, batch_id BIGINT")

  private def lmGrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(normText(col("text")), " ").as("words"))
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), explode(bigramsOfWords).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))

  /** The 1-row vocabulary-size frame of a corpus (add-one smoothing's
    * denominator term) — DERIVED from [[lmWords]] so the in-query scalar
    * and the stored word sets are one tokenization by construction. */
  private def lmVocab(docs: DataFrame): DataFrame =
    lmWords(docs).agg(count(col("w")).as("v"))

  /** Context counts derived FROM the bigram counts (c1(w) = Σ c2 of w's
    * bigrams) — vocab²-bounded frame arithmetic instead of a second full
    * explode+shuffle of the gram stream; also how the stored face
    * reconstitutes contexts at load. */
  private def lmContexts(lm2: DataFrame): DataFrame =
    lm2.withColumn("w1", substring_index(col("bg"), " ", 1))
      .groupBy("w1").agg(sum("c2").as("c1"))

  /** Per-doc mean of the fixed-point log-probs, computed ENTIRELY in
    * integer micro-units: half-away-from-zero integer division of the
    * (always ≤ 0) fp sum by the gram count, then one exact /1e6. The
    * naive `sum(fp)/1e6/count` leaves micro-units BEFORE the division
    * by count, so a quotient landing on a .5 tie at the 6th decimal
    * rounds differently in Spark (BigDecimal of the shortest-repr
    * double) and DuckDB (scale-multiply) — the 1-ulp differential
    * misses the sf0.1 cross-scale check surfaced (3 docs in 5000). The
    * double division inside floor() is safe: operands are exact longs
    * far under 2^53, ties land on exactly-representable integers, and
    * non-ties sit ≥1/(2n) from any integer, 10^6 times the quotient's
    * representation error. */
  private def avgLogpCol: Column = {
    val s = sum("fp")
    val n = count(lit(1))
    round(-floor(((-s) * lit(2L) + n) / (n * lit(2L))) / lit(1e6), 6)
  }

  private[graft] def lmScore(docs: DataFrame, ordered: Boolean = true): DataFrame = {
    // TWO evaluations of the corpus gram stream, deliberately (r22 —
    // resolving the r21 comment that described an unimplemented
    // repartition): the bigram-count aggregate tokenizes once and
    // reduces map-side to a vocab²-bounded count table, and the scoring
    // join tokenizes again and joins that table WITHOUT moving the gram
    // stream (bgModel broadcasts at bench scale; at 100 TB, where it
    // exceeds the broadcast cap, only then does the join shuffle). The
    // alternative — an explicit repartition(col("bg")) whose exchange
    // both consumers reuse, making the tokenize run once — was
    // IMPLEMENTED AND MEASURED at sf0.1: q_lm_score 1.16→1.25 s,
    // q_curriculum 1.33→1.67 s. Shuffling the corpus-scale gram stream
    // costs more than re-running the normText+split+explode projection
    // (guide §2.3: the count rows are the smaller bytes; tokenize is
    // compute, exchange is I/O). PlanSpec pins this shape: no Exchange
    // below the scoring join's gram-stream side.
    val grams = lmGrams(docs)
    val lm2 = grams.groupBy("bg").agg(count(lit(1)).as("c2"))
    // vocab-SIZED pre-join (guide §2.3 "shuffle fewer bytes"): fold the
    // context counts into a per-bigram (c2, c1) model frame BEFORE
    // touching the corpus stream, so the gram stream never moves by w1
    // — the w1 join runs over |vocab²| count rows, not |corpus| gram
    // rows. Exact because this face trains on the corpus it scores:
    // every corpus gram is in lm2 and its context in lm1, so the inner
    // joins lose nothing (the STORED faces keep their left-join OOV
    // forms in [[scoreUnderLm]]).
    val bgModel = lm2
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(lmContexts(lm2), "w1")
      .select(col("bg"), col("c2"), col("c1"))
    val vocab = lmVocab(docs)
    val logpFp = round(log((col("c2") + lit(1.0)) / (col("c1") + col("v"))) * lit(1e6))
      .cast(LongType)
    val out = grams.join(bgModel, "bg")
      .crossJoin(broadcast(vocab))
      .withColumn("fp", logpFp)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        avgLogpCol.as("avg_logp"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** LM-score keep threshold for the quality funnel (≈p07 of avg_logp
    * on the synthetic corpus — see [[TopWordFracMax]]'s tuning note). */
  private[graft] val LmScoreMin = -3.43

  /** Curriculum difficulty staging — the training-schedule face of the
    * LM score: every scored document lands in one of five
    * corpus-quantile difficulty tiers (1 = most surprising under the
    * corpus LM = hardest; 5 = easiest), with the per-tier doc and
    * bigram-token budgets a curriculum planner actually schedules from.
    *
    * Buckets come from exact-percentile THRESHOLDS broadcast back onto
    * the scored frame — deliberately not `ntile`, whose global window
    * is a single-task sort of the whole corpus at scale (the classic
    * trap); four threshold comparisons are mergeable, shuffle once for
    * the 1-row percentile frame, and assign in the scan projection. The
    * exact percentile's documented scale twin is approx_percentile
    * ([[graft.operators.CoreOps.qApproxQuantiles]]' argument). Docs
    * under 2 words carry no LM score and no tier — the funnel's domain
    * rule.
    *
    * The scored frame is derived twice (the threshold aggregate and the
    * bucketing pass), but its duplicate subtrees are exchange-aligned
    * and identical, so AQE's runtime stage cache materializes them once
    * — an explicit checkpoint was MEASURED in r21 and bought nothing
    * (equal stage count) while adding the materialization barrier. A
    * deployment materializes the per-doc scores once (or serves them
    * from the stored LM via [[lmScoreStored]]) and pays only the
    * threshold aggregate plus a scan. */
  def qCurriculum(s: SparkSession, dir: String): DataFrame = {
    val scored = lmScore(Tables.documents(s, dir), ordered = false)
    val th = scored.agg(
      expr("percentile(avg_logp, 0.2)").as("p20"),
      expr("percentile(avg_logp, 0.4)").as("p40"),
      expr("percentile(avg_logp, 0.6)").as("p60"),
      expr("percentile(avg_logp, 0.8)").as("p80"))
    scored.crossJoin(broadcast(th))
      .withColumn("bucket",
        when(col("avg_logp") < col("p20"), 1L)
          .when(col("avg_logp") < col("p40"), 2L)
          .when(col("avg_logp") < col("p60"), 3L)
          .when(col("avg_logp") < col("p80"), 4L)
          .otherwise(5L))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bigrams").as("sum_bigrams"),
        round(min("avg_logp"), 6).as("min_logp"),
        round(max("avg_logp"), 6).as("max_logp"))
      .orderBy("bucket")
  }

  def qLmScore(s: SparkSession, dir: String): DataFrame =
    lmScore(Tables.documents(s, dir))

  /** DSIR-style data selection via importance resampling (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): fit n-gram distributions over a TARGET slice (the
    * data we want more of) and the raw POOL, weight every pool document
    * by the summed log-ratio of its grams under the two, and keep the
    * top-K. The published shape for "make 100 TB of crawl look like the
    * high-quality target" — the selection pass a pretraining mixture
    * actually runs.
    *
    * `featureOf` maps the shared bigram stream ([[lmGrams]] — the one
    * tokenization contract) to a feature id: the raw gram string for
    * the oracle-gated face, or a hashed bucket ([[dsirBucket]]) for the
    * deployment path, where the distribution frames are capped at B
    * rows regardless of corpus size (the paper's hashing trick — at
    * 100 TB the raw-gram count table is itself corpus-sized; B buckets
    * make the two model frames broadcastable constants). Weights are
    * identical in expectation; DsirSpec pins the selection overlap on
    * the test corpus.
    *
    * Laplace smoothing over a SHARED denominator base (pool-distinct
    * feature count) keeps unseen-in-target grams finite; fixed-point
    * log arithmetic (×1e6, summed as LONG) keeps the weight
    * order-independent, the determinism discipline. Selection is
    * orderBy+limit — Spark's TakeOrderedAndProject, a distributed
    * K-heap per partition + K-bounded merge, never a global sort; the
    * rank column is assigned over the ALREADY-K-BOUNDED frame, so the
    * window's single task holds K rows, not the corpus
    * (qCurriculum's ntile note, same trap, same refusal). */
  private[graft] def dsirSelect(docs: DataFrame, targetPred: Column,
      k: Int, featureOf: Column => Column = identity): DataFrame = {
    val grams = lmGrams(docs).select(col("doc_id"), featureOf(col("bg")).as("f"))
    // ONE count table for BOTH distributions (r21, guide §2.3 "aggregate
    // before you shuffle"): the gram stream is corpus-scale, and
    // aggregating it once per distribution (plus a target semi-join) ran
    // three full explode passes where one suffices — a target-membership
    // flag rides each gram row and a conditional sum splits the counts.
    // ct is 0 (never NULL) for never-in-target features, exactly the
    // value the weight formula's coalesce substituted before.
    val tgt = docs.filter(targetPred).select(col("doc_id"), lit(1L).as("__t"))
    val counts = grams.join(tgt, Seq("doc_id"), "left")
      .groupBy("f").agg(count(lit(1)).as("cs"),
        coalesce(sum("__t"), lit(0L)).as("ct"))
    // three scalar constants in ONE broadcast frame: pool size, target
    // size, shared smoothing base (pool-distinct features) — DERIVED
    // from the count table (vocab-sized), not from more corpus-scale
    // passes over the gram stream
    val tot = counts.agg(coalesce(sum("cs"), lit(0L)).as("ns"), count(lit(1)).as("v2"),
      coalesce(sum("ct"), lit(0L)).as("nt"))
    val fp = round((log((col("ct") + lit(1.0)) / (col("nt") + col("v2"))) -
        log((col("cs") + lit(1.0)) / (col("ns") + col("v2")))) * lit(1e6)).cast(LongType)
    val perDoc = grams.join(counts, "f")
      .crossJoin(broadcast(tot))
      .withColumn("fp", fp)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum("fp") / lit(1e6), 6).as("dsir_weight"))
    dsirRank(perDoc, k)
  }

  /** The top-K + rank tail every DSIR selection face shares (in-query
    * and stored) — one definition, so the faces can only differ in
    * which model produced the weights, never in how selection ranks.
    * TakeOrderedAndProject (never a global sort); the rank window runs
    * over the already-K-bounded frame. */
  private def dsirRank(perDoc: DataFrame, k: Int): DataFrame = {
    val top = perDoc.orderBy(col("dsir_weight").desc, col("doc_id")).limit(k)
    top.withColumn("sel_rank", row_number().over(
        Window.orderBy(col("dsir_weight").desc, col("doc_id"))).cast(LongType))
      .orderBy("doc_id")
  }

  /** The deployment feature map: gram → one of `b` hashed buckets. */
  private[graft] def dsirBucket(b: Int)(gram: Column): Column =
    pmod(xxhash64(gram), lit(b.toLong))

  /** The deployment bucket count: 2^16 keeps the two distribution
    * frames at most 65536 rows each — broadcastable constants at any
    * corpus size — while preserving the raw-gram selection (DsirSpec's
    * ≥0.8 overlap bar at exactly this B). */
  private[graft] val DsirBuckets: Int = 1 << 16

  /** Oracle-gated DSIR face: target = the English slice, raw-gram
    * features (the hashed path is [[dsirBucket]], overlap-pinned by
    * DsirSpec), K = 100. */
  def qDsir(s: SparkSession, dir: String): DataFrame =
    dsirSelect(Tables.documents(s, dir), col("lang") === "en", k = 100)

  /** The DEPLOYMENT DSIR face, oracle-gated: hashed-bucket features
    * ([[dsirBucket]] at [[DsirBuckets]]) — the path whose model frames
    * stay B-row constants at 100 TB. Differential Expected oracle (the
    * q_ann_ivf pattern; xxhash64 has no DuckDB replay):
    * [[graft.verify.Expected.dsirBucketRows]]. */
  def qDsirBucket(s: SparkSession, dir: String): DataFrame =
    dsirSelect(Tables.documents(s, dir), col("lang") === "en", k = 100,
      featureOf = dsirBucket(DsirBuckets))

  // ---- stored DSIR model (a [[graft.sources.CountStore]]) ------------------
  //
  // The pass a pretraining mixture runs REPEATEDLY is "score a new crawl
  // batch against the frozen target model" — retraining both
  // distributions per query (the in-query faces above) is a one-shot
  // shape. The store materializes the two bucket-count frames: pool
  // counts at the store path and target counts in `_target`, both
  // additive, so the stored model is exact at any append depth; the
  // shared smoothing base v2 (pool-distinct features) is derived from
  // the SUMMED pool frame at load, which keeps it exact too
  // (distinct-of-union ≡ nonzero rows of the summed counts). Both frames
  // are ≤ [[DsirBuckets]] rows — model-plane constants a scorer
  // broadcasts.

  private[graft] val dsirCountsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "f BIGINT, c BIGINT, batch_id BIGINT")

  /** The shared gram→bucket feature stream ([[lmGrams]] tokenization —
    * the stored model cannot tokenize differently by construction). */
  private def dsirFeats(docs: DataFrame): DataFrame =
    lmGrams(docs).select(col("doc_id"), dsirBucket(DsirBuckets)(col("bg")).as("f"))

  /** The stored DSIR model: per doc, one pool row per gram, and one
    * target row per gram of a target doc (the `__dsir_target` flag
    * [[dsirTargeted]] sets). The target frame stays sparse: features
    * with no target grams are absent. Membership is every doc. */
  private[graft] val dsirStore = new graft.sources.CountStore("DSIR model", "writeDsirModel",
    Seq(
      graft.sources.CountStore.Frame("", Some("f"), Seq("c"), dsirCountsSchema),
      graft.sources.CountStore.Frame("_target", Some("f"), Seq("c"), dsirCountsSchema)),
    docs => graft.sources.CountStore.Contributions(
      Seq(dsirFeats(docs).withColumn("c", lit(1L)),
        dsirFeats(docs.filter(col("__dsir_target"))).withColumn("c", lit(1L))),
      docs.select(col("doc_id")).distinct()))

  /** `docs` with the target predicate the model is trained with, as the
    * flag column [[dsirStore]]'s derivation reads. */
  private def dsirTargeted(docs: DataFrame, targetPred: Column): DataFrame =
    docs.withColumn("__dsir_target", targetPred)

  /** Train-once bootstrap ([[graft.sources.CountStore.write]]). An empty
    * target slice is legal (a zero-row `_target` → nt = 0 → every gram
    * takes the Laplace floor, the dsirSelect domain edge DsirSpec pins). */
  def writeDsirModel(s: SparkSession, docs: DataFrame, targetPred: Column,
      path: String): Unit =
    dsirStore.write(s, dsirTargeted(docs, targetPred), path)

  /** Grow the stored model by one scoped batch
    * ([[graft.sources.CountStore.append]]). */
  def appendDsirBatch(s: SparkSession, docs: DataFrame, targetPred: Column,
      path: String, batchId: Long): Unit =
    dsirStore.append(s, dsirTargeted(docs, targetPred), path, batchId)

  /** Retract documents from the stored DSIR model
    * ([[graft.sources.CountStore.retract]]): the caller supplies the docs
    * verbatim plus the SAME target predicate the model was trained with,
    * and surviving weights equal a retrain on the surviving corpus
    * bit-for-bit (DsirSpec pins the equality). */
  def retractDsirDocs(s: SparkSession, path: String, docs: DataFrame,
      targetPred: Column): Unit =
    dsirStore.retract(s, path, dsirTargeted(docs, targetPred))

  /** The scoring tail every stored-DSIR face shares: per-doc summed
    * fixed-point log-ratios under the GIVEN net frames — the same
    * formula as [[dsirSelect]]'s in-query fp (TextOpsSpec pins stored ≡
    * in-query bit-for-bit over the training corpus), with LEFT joins so
    * a NEW batch's out-of-model grams degrade to the smoothing floor
    * instead of dropping (the [[lmScoreStored]] graceful-OOV shape).
    * The three scalars collect driver-side (model-plane, ≤ B rows) and
    * fold into the scan projection as literals; the count frames
    * broadcast. */
  private def scoreUnderDsirModel(s: SparkSession, docs: DataFrame, path: String,
      asOf: Option[Long]): DataFrame = {
    val Seq(cs, ct) = dsirStore.netFrames(s, path, asOf)
    val row = cs.agg(coalesce(sum("c"), lit(0L)).as("ns"), count(lit(1)).as("v2"))
      .crossJoin(ct.agg(coalesce(sum("c"), lit(0L)).as("nt"))).collect()(0)
    val (ns, v2, nt) = (row.getLong(0), row.getLong(1), row.getLong(2))
    require(v2 > 0, s"stored DSIR model at $path has an empty pool distribution — " +
      "refusing to score (an unsmoothable model scores every gram log(1/0); " +
      "re-train with writeDsirModel)")
    val fp = round((log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / lit(nt + v2)) -
        log((coalesce(col("cs"), lit(0L)) + lit(1.0)) / lit(ns + v2))) * lit(1e6))
      .cast(LongType)
    dsirFeats(docs)
      .join(broadcast(cs.withColumnRenamed("c", "cs")), Seq("f"), "left")
      .join(broadcast(ct.withColumnRenamed("c", "ct")), Seq("f"), "left")
      .withColumn("fp", fp)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum("fp") / lit(1e6), 6).as("dsir_weight"))
  }

  /** Score a batch under the stored model — no retrain: the repeated
    * pass of a mixture pipeline. Rows ordered by doc_id. */
  def dsirScoreStored(s: SparkSession, docs: DataFrame, path: String): DataFrame =
    scoreUnderDsirModel(s, docs, path, None).orderBy("doc_id")

  /** Top-K selection under the stored model — [[dsirScoreStored]]
    * through the shared [[dsirRank]] tail. Defined to return what the
    * in-query bucketed face returns when the model was trained on the
    * scored corpus (shares q_dsir_bucket's Expected artifact). */
  def dsirSelectStored(s: SparkSession, docs: DataFrame, path: String,
      k: Int): DataFrame =
    dsirRank(scoreUnderDsirModel(s, docs, path, None), k)

  /** [[dsirScoreStored]] AS OF admission batch `asOf` — the mixture
    * pipeline's reproducibility face ("score this crawl under the
    * selection model as the corpus stood at batch N"), with the
    * [[graft.sources.CountStore.netFrames]] as-of semantics. */
  def dsirScoreStoredAsOf(s: SparkSession, docs: DataFrame, path: String,
      asOf: Long): DataFrame =
    scoreUnderDsirModel(s, docs, path, Some(asOf)).orderBy("doc_id")

  /** Compact the stored model ([[graft.sources.CountStore.compact]]). */
  def compactDsirModel(s: SparkSession, path: String, foldBelow: Long): Unit =
    dsirStore.compact(s, path, foldBelow)

  /** [[qDsirBucket]] served END-TO-END from the stored model
    * ([[writeDsirModel]] once, memoized, then [[dsirSelectStored]]) —
    * shares q_dsir_bucket's Expected artifact because materializing the
    * model must not move a weight. */
  def qDsirProbe(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val path = modelPath("dsirmodel", dir)
    graft.sources.TmpStores.buildOnce(path)(
      writeDsirModel(s, docs, col("lang") === "en", path))
    dsirSelectStored(s, docs, path, k = 100)
  }

  /** The stored model after a RETRACTION (own store path): train on the
    * full corpus, retract every doc_id % 7 = 3 (same target predicate),
    * score the SURVIVORS. The Expected twin trains on a corpus the
    * retracted docs were simply never part of — retracted and
    * never-trained must be indistinguishable to a scorer, which needs
    * the corrections to land on counts in BOTH frames AND on the
    * distinct-bucket smoothing base v2 to hold bit-for-bit. */
  def qDsirRetract(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val retracted = pmod(col("doc_id"), lit(7L)) === 3
    val path = graft.sources.TmpStores.scopedPath("graft-dsirretract", dir)
    graft.sources.TmpStores.buildOnce(path) {
      writeDsirModel(s, docs, col("lang") === "en", path)
      retractDsirDocs(s, path, docs.filter(retracted), col("lang") === "en")
    }
    dsirScoreStored(s, docs.filter(!retracted), path)
  }

  /** The stored model scored AS OF its pre-append state (own store
    * path): bootstrap without the %10 = 5 docs, append them as batch 7,
    * score the FULL corpus as of batch 6 — the frozen-model pass over a
    * new crawl, where the late docs' grams must neither shift the model
    * (the partition filter) nor drop from scoring (the left-join OOV
    * floor). Expected twin: [[graft.verify.Expected.dsirAsofRows]]. */
  def qDsirAsof(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val late = pmod(col("doc_id"), lit(10L)) === 5
    val path = graft.sources.TmpStores.scopedPath("graft-dsirasof", dir)
    graft.sources.TmpStores.buildOnce(path) {
      writeDsirModel(s, docs.filter(!late), col("lang") === "en", path)
      appendDsirBatch(s, docs.filter(late), col("lang") === "en", path, 7L)
    }
    dsirScoreStoredAsOf(s, docs, path, asOf = 6L)
  }

  /** The corpus bigram LM as a stored MODEL (a
    * [[graft.sources.CountStore]]) — the train-once artifact that turns
    * the CCNet-shape quality gate into a per-batch scoring pass. Two
    * additive frames, derived per doc through the SAME [[lmGrams]]
    * tokenization the in-query face trains from:
    *
    *  - bigram counts (bg, c2) at the store path — context counts
    *    re-derive from them at load ([[lmContexts]]), the in-query
    *    face's no-second-shuffle trick;
    *  - `_vocab`: per-word DOCUMENT FREQUENCY (w, df). The vocabulary is
    *    not additive as a SET (|A ∪ B| ≠ |A| + |B|), but df is: the
    *    net-df > 0 rows are exactly the distinct words, and a df can
    *    SHRINK under [[retractLmDocs]] where a set cannot.
    *
    * Membership is every doc. */
  private[graft] val lmStore = new graft.sources.CountStore("LM", "writeLmModel",
    Seq(
      graft.sources.CountStore.Frame("", Some("bg"), Seq("c2"), lmCountsSchema),
      graft.sources.CountStore.Frame("_vocab", Some("w"), Seq("df"),
        org.apache.spark.sql.types.StructType.fromDDL("w STRING, df BIGINT, batch_id BIGINT"))),
    docs => graft.sources.CountStore.Contributions(
      Seq(lmGrams(docs).select(col("doc_id"), col("bg"), lit(1L).as("c2")),
        docs.select(col("doc_id"), explode(split(normText(col("text")), " ")).as("w"))
          .distinct().withColumn("df", lit(1L))),
      docs.select(col("doc_id")).distinct()))

  /** Train-once bootstrap of the stored LM
    * ([[graft.sources.CountStore.write]]). */
  def writeLmModel(s: SparkSession, docs: DataFrame, path: String): Unit =
    lmStore.write(s, docs, path)

  /** The distinct word set of a corpus. */
  private def lmWords(docs: DataFrame): DataFrame =
    docs.select(split(normText(col("text")), " ").as("words"))
      .select(explode(col("words")).as("w")).distinct()

  /** Grow the stored LM by one scoped, doc-disjoint batch
    * ([[graft.sources.CountStore.append]]). */
  def appendLmBatch(s: SparkSession, docs: DataFrame, path: String, batchId: Long): Unit =
    lmStore.append(s, docs, path, batchId)

  /** Retract documents from the stored LM — the trained-MODEL half of
    * the deletion story (the signature/vector/posting stores cover the
    * index half), [[graft.sources.CountStore.retract]]: the caller
    * supplies the docs VERBATIM (doc_id + text — the GDPR-delete shape:
    * the deleting party holds the doc being deleted), and surviving
    * scores equal a retrain on the surviving corpus bit-for-bit
    * (TextOpsSpec pins the equality). */
  def retractLmDocs(s: SparkSession, path: String, docs: DataFrame): Unit =
    lmStore.retract(s, path, docs)

  /** Compact the stored LM ([[graft.sources.CountStore.compact]]). */
  def compactLmModel(s: SparkSession, path: String, foldBelow: Long): Unit =
    lmStore.compact(s, path, foldBelow)

  /** Score a batch under a STORED LM. For grams the model never saw,
    * add-one smoothing degrades gracefully: a missing bigram scores
    * ln(1/(c1 + v)), a fully novel context ln(1/v) — the coalesce(0)
    * forms in [[scoreUnderLm]], which collapse to the in-query face's
    * inner-join values whenever the batch IS the training corpus
    * (TextOpsSpec asserts that equality bit-for-bit, plus the OOV value
    * by hand). */
  private[graft] def lmScoreStored(s: SparkSession, docs: DataFrame,
      path: String): DataFrame =
    scoreUnderLm(s, docs, path, None)

  /** The scoring tail every stored-LM face shares (live and as-of):
    * add-one-smoothed bigram log-probs under the net counts and
    * vocabulary size of the reconstructed state — one definition, so a
    * face can only differ in WHICH model state it reconstructs, never
    * in how it scores. */
  private def scoreUnderLm(s: SparkSession, docs: DataFrame, path: String,
      asOf: Option[Long]): DataFrame = {
    val Seq(lm2, vocab) = lmStore.netFrames(s, path, asOf)
    val lm1 = lmContexts(lm2)
    // the vocabulary size collects as one scalar (model-plane) so a
    // degenerate model fails LOUDLY: v = 0 (an empty or all-retracted
    // training corpus) would otherwise score every gram ln(1/0) = ∞,
    // fixed-pointed silently to Long.MaxValue
    val v = vocab.count()
    require(v > 0, s"stored LM at $path has an empty vocabulary — refusing to score" +
      " (an all-retracted store has no meaningful model: compact the retraction" +
      " through or re-train)")
    val logpFp = round(log((coalesce(col("c2"), lit(0L)) + lit(1.0))
      / (coalesce(col("c1"), lit(0L)) + lit(v))) * lit(1e6)).cast(LongType)
    lmGrams(docs).join(lm2, Seq("bg"), "left").join(lm1, Seq("w1"), "left")
      .withColumn("fp", logpFp)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        avgLogpCol.as("avg_logp"))
      .orderBy("doc_id")
  }

  /** [[lmScoreStored]] AS OF admission batch `asOf` — the trained-MODEL
    * member of the data-plane time-travel family, answering the
    * training-data audit's reproducibility question: "score this doc
    * under the model as the corpus stood at batch N". The state is
    * [[graft.sources.CountStore.netFrames]]' as-of reconstruction: a
    * partition filter on the additive counts and dfs, retraction
    * corrections scoped to `_docs` membership (retraction erases
    * history, but a doc trained only after `asOf` must not shrink the
    * as-of model), and a loud refusal below the compaction horizon.
    * [[qualityClassifierStoredAsOf]] is the NB twin. */
  def lmScoreStoredAsOf(s: SparkSession, docs: DataFrame, path: String,
      asOf: Long): DataFrame =
    scoreUnderLm(s, docs, path, Some(asOf))

  /** The stored LM scored AS OF a pre-append, post-retraction state
    * (own store path): bootstrap without the %10 = 5 docs, append them
    * as batch 7, retract every %7 = 3 doc (bootstrap AND batch-7
    * members alike), score the as-of-6 survivors as of batch 6. The
    * oracle trains the in-query LM on a corpus that is the bootstrap
    * minus its retracted members — green only if (a) batch 7's counts,
    * dfs, and vocabulary contributions are all sliced out, AND (b) the
    * retraction corrections of batch-7 members are NOT applied (their
    * docs were no members at batch 6 — the membership discipline),
    * while those of bootstrap members ARE (retraction erases history). */
  def qLmAsof(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val late = pmod(col("doc_id"), lit(10L)) === 5
    val retracted = pmod(col("doc_id"), lit(7L)) === 3
    val path = graft.sources.TmpStores.scopedPath("graft-lmasof", dir)
    graft.sources.TmpStores.buildOnce(path) {
      writeLmModel(s, docs.filter(!late), path)
      appendLmBatch(s, docs.filter(late), path, 7L)
      retractLmDocs(s, path, docs.filter(retracted))
    }
    lmScoreStoredAsOf(s, docs.filter(!late && !retracted), path, asOf = 6L)
  }

  /** [[qLmScore]] served from the stored LM ([[writeLmModel]] once,
    * memoized, then [[lmScoreStored]]) — shares q_lm_score's DuckDB
    * oracle because materializing the LM must not move a score. */
  def qLmProbe(s: SparkSession, dir: String): DataFrame = {
    val path = modelPath("lmmodel", dir)
    graft.sources.TmpStores.buildOnce(path)(
      writeLmModel(s, Tables.documents(s, dir), path))
    lmScoreStored(s, Tables.documents(s, dir), path)
  }

  /** The stored LM after a RETRACTION (its own store path — q_lm_probe's
    * shared store must never carry these tombstones): train on the full
    * corpus, retract every doc_id % 7 = 3, score the SURVIVORS. The
    * oracle replays the in-query LM trained on a corpus the retracted
    * docs were simply never part of — retracted and never-trained must
    * be indistinguishable to a scorer, which is exactly the model
    * retraction contract (and needs the correction on counts, contexts,
    * AND the vocabulary size to hold bit-for-bit). */
  def qLmRetract(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val retracted = pmod(col("doc_id"), lit(7L)) === 3
    val path = graft.sources.TmpStores.scopedPath("graft-lmretract", dir)
    graft.sources.TmpStores.buildOnce(path) {
      writeLmModel(s, docs, path)
      retractLmDocs(s, path, docs.filter(retracted))
    }
    lmScoreStored(s, docs.filter(!retracted), path)
  }

  // ---- Naive-Bayes quality classifier --------------------------------------

  /** A trained quality CLASSIFIER over the corpus — the CCNet/fastText
    * pattern (a linear model over token features separating a curated
    * from an uncurated distribution) re-expressed as distributed Naive
    * Bayes with the Gopher rule flag ([[repetitionStats]]' `flagged`)
    * standing in as the weak label this container's zero-egress sandbox
    * can't download a reference model for. Rule flags are brittle
    * point tests; the classifier GENERALIZES them — a doc sharing the
    * flagged class's vocabulary scores positive even where no single
    * rule fires — which is why real pipelines train the classifier
    * instead of shipping the rules.
    *
    * Model: add-one-smoothed multinomial NB. Per-token class counts are
    * ONE gram-keyed aggregate over the labeled token stream (map-side
    * partial sums — PlanSpec asserts them under the exchange; key count
    * ∝ vocabulary, scales out); totals and the doc-count prior are
    * 1-row broadcasts derived from it; scoring joins the token stream
    * back to the vocab-sized count table (AQE broadcasts it at this
    * corpus' scale) and sums per doc. The token stream itself shuffles
    * twice — the label join on doc_id and the class counts on token —
    * on top of [[repetitionStats]]' own doc-keyed label pass. A
    * deployment trains once and materializes `cls`; re-deriving it
    * keeps the operator a pure function of its input.
    *
    * Determinism: per-occurrence log-likelihood ratios are fixed-pointed
    * to 1e-6 longs BEFORE the per-doc sum ([[lmScore]]'s discipline);
    * the prior joins as one more fixed-point long. Domain matches
    * [[repetitionStats]] (docs with ≥ 2 words — a label needs rule
    * stats to exist). */
  /** The weak-label frame — ONE definition for the in-query face and
    * the model writer (the [[lmGrams]] contract). */
  private def nbLabels(docs: DataFrame): DataFrame =
    repetitionStats(docs, ordered = false).select(col("doc_id"), col("flagged"))

  /** The token stream of the classifier's domain (docs with ≥ 2 words),
    * shared by training and every scoring face. */
  private def nbToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(normText(col("text")), " ").as("words"))
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), explode(col("words")).as("w"))

  /** Per-token class counts over a labeled token stream. */
  private def nbClassCounts(labeledToks: DataFrame): DataFrame =
    labeledToks.groupBy("w").agg(
      sum(col("flagged")).cast(LongType).as("c_pos"),
      count(lit(1)).as("c_all"))
      .withColumn("c_neg", col("c_all") - col("c_pos"))

  /** The 1-row fixed-point doc-count prior. */
  private def nbPrior(labels: DataFrame): DataFrame =
    labels.agg(
      round(log((sum("flagged") + lit(1.0)) /
        (count(lit(1)) - sum("flagged") + lit(1.0))) * lit(1e6))
        .cast(LongType).as("prior_fp"))

  private[graft] def qualityClassifier(docs: DataFrame, ordered: Boolean = true): DataFrame = {
    // The label frame rides the DAG three times, but its repeated
    // subtrees are exchange-aligned and identical, so AQE's runtime
    // stage cache already materializes them once — checkpointing it was
    // MEASURED in r21 and made the query worse (the LogicalRDD loses
    // the aggregate's size estimate, flipping the label join from
    // broadcast to a token-stream shuffle: 1.0→2.7 MB shuffled,
    // 1.5→1.8 s). Left as the pure lineage on purpose.
    val labels = nbLabels(docs)
    val toks = nbToks(docs).join(labels, "doc_id")
    val cls = nbClassCounts(toks)
    val tot = cls.agg(sum("c_pos").as("n_pos"), sum("c_neg").as("n_neg"),
      count(lit(1)).as("v"))
    val prior = nbPrior(labels)
    val llrFp = round((log((col("c_pos") + lit(1.0)) / (col("n_pos") + col("v")))
      - log((col("c_neg") + lit(1.0)) / (col("n_neg") + col("v")))) * lit(1e6))
      .cast(LongType)
    // Scoring reads the BARE token stream (r22): the label join only
    // ever carried `flagged`, which scoring never reads, and it cannot
    // change the row set — labels is repetitionStats' output, one row
    // per doc_id passing the SAME `size(split(normText)) >= 2` filter
    // nbToks applies, so the inner join was row-preserving by
    // construction. Dropping it removes the scoring branch's whole
    // repetitionStats subtree (a corpus-scale doc-stats derivation) and
    // its doc_id join; the stored faces (scoreUnderNb) always had this
    // shape. Training keeps the labeled stream above.
    val out = nbToks(docs).join(cls.select("w", "c_pos", "c_neg"), "w")
      .crossJoin(broadcast(tot))
      .withColumn("fp", llrFp)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("fp").as("sum_fp"))
      .crossJoin(broadcast(prior))
      .select(col("doc_id"), col("n_tokens"),
        round((col("prior_fp") + col("sum_fp")) / lit(1e6), 6).as("nb_logodds"),
        ((col("prior_fp") + col("sum_fp")) > 0).cast("int").as("pred_flagged"))
    if (ordered) out.orderBy("doc_id") else out
  }

  def qQualityClassifier(s: SparkSession, dir: String): DataFrame =
    qualityClassifier(Tables.documents(s, dir))

  /** The trained NB quality classifier as a stored model (a
    * [[graft.sources.CountStore]]) — completing the stored-model trilogy
    * (BPE merges, bigram LM, and this). [[nbLabels]] is a pure per-doc
    * function of the text, so a doc's per-token class counts are
    * independent of every other doc, and summing across doc-disjoint
    * batches equals one-shot training on their union. Two frames:
    *
    *  - counts: (w, c_pos, c_neg) — each token occurrence counts into
    *    its doc's weak-label class;
    *  - `_meta`: keyless LABEL doc counts (n_docs, n_flagged) — the only
    *    totals that cannot derive from the counts (the prior is a LOG of
    *    doc counts, not invertible; n_pos/n_neg/v derive from the summed
    *    counts in one vocab-sized aggregate, and v, like the LM
    *    vocabulary, is exactly the net-count support).
    *
    * Membership is the model's DOMAIN (docs with ≥ 2 words): docs
    * outside it were never trained and derive no rows. Trains through
    * the same [[nbLabels]]/[[nbToks]] definitions as the in-query face —
    * the stored model cannot train differently. */
  private[graft] val nbStore = new graft.sources.CountStore("NB model", "writeNbModel",
    Seq(
      graft.sources.CountStore.Frame("", Some("w"), Seq("c_pos", "c_neg"), nbCountsSchema),
      graft.sources.CountStore.Frame("_meta", None, Seq("n_docs", "n_flagged"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "n_docs BIGINT, n_flagged BIGINT, batch_id BIGINT"))),
    { docs =>
      // the label frame feeds both frames and the membership
      val labels = nbLabels(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val flagged = col("flagged").cast(LongType)
      graft.sources.CountStore.Contributions(
        Seq(nbToks(docs).join(labels, "doc_id")
            .select(col("doc_id"), col("w"), flagged.as("c_pos"), (lit(1L) - flagged).as("c_neg")),
          labels.select(col("doc_id"), lit(1L).as("n_docs"), flagged.as("n_flagged"))),
        labels.select(col("doc_id")),
        () => { labels.unpersist(); () })
    })

  /** Train-once bootstrap of the stored classifier
    * ([[graft.sources.CountStore.write]]). */
  def writeNbModel(s: SparkSession, docs: DataFrame, path: String): Unit =
    nbStore.write(s, docs, path)

  /** Grow the stored classifier by one scoped, doc-disjoint batch
    * ([[graft.sources.CountStore.append]]). */
  def appendNbBatch(s: SparkSession, docs: DataFrame, path: String, batchId: Long): Unit =
    nbStore.append(s, docs, path, batchId)

  /** Retract documents from the stored classifier
    * ([[graft.sources.CountStore.retract]]): a doc's label re-derives
    * identically to training, so each token count leaves the class it
    * was trained into and its label row leaves the doc-count prior.
    * Docs outside the model's domain (< 2 words) derive no rows — a
    * no-op, exactly as training ignored them. */
  def retractNbDocs(s: SparkSession, path: String, docs: DataFrame): Unit =
    nbStore.retract(s, path, docs)

  /** The stored NB model reconstructed at a state
    * ([[graft.sources.CountStore.netFrames]]), with the scalar totals
    * recomputed from the net model: token totals and vocabulary size in
    * one vocab-sized aggregate, the net `_meta` doc counts, and the prior
    * re-derived through the same Spark round/log expression training
    * used, so the fixed-point value is bit-identical to a retrain. ONE
    * definition for the live and as-of faces. */
  private def nbModelAt(s: SparkSession, path: String, asOf: Option[Long])
      : (DataFrame, Long, Long, Long, Long) = {
    val Seq(cls, meta) = nbStore.netFrames(s, path, asOf)
    // ALL scalars in ONE job (r22, guide §1.2): the class totals, the
    // net `_meta` doc counts, and the derived prior crossJoin as 1-row
    // aggregates and collect once. The prior stays the SAME Spark
    // round/log expression nbPrior uses (evaluated over the joined longs
    // instead of re-literalized ones — identical arithmetic), because
    // driver math.round differs from Spark's HALF_UP on negative halves
    // and a half-ulp prior drift would break bit-equality with retraining.
    val row = cls.agg(coalesce(sum("c_pos"), lit(0L)).as("n_pos"),
        coalesce(sum("c_neg"), lit(0L)).as("n_neg"), count(lit(1)).as("v"))
      .crossJoin(meta)
      .select(col("n_pos"), col("n_neg"), col("v"), col("n_docs"), col("n_flagged"))
      .withColumn("prior_fp",
        // guarded so the degenerate all-retracted store (n_docs = 0)
        // reaches its LOUD require below instead of dying here on an
        // ANSI NaN→long cast; the 0 arm is never read (requires first)
        when(col("n_docs") > lit(0L) && col("n_docs") >= col("n_flagged"),
          round(log((col("n_flagged") + lit(1.0)) / (col("n_docs") - col("n_flagged") + lit(1.0)))
            * lit(1e6)).cast(LongType)).otherwise(lit(0L)))
      .collect()(0)
    val (nPos, nNeg, v) = (row.getLong(0), row.getLong(1), row.getLong(2))
    // vocabulary check BEFORE the doc-count one: a never-trained empty
    // domain must report "empty vocabulary", not "every doc retracted"
    require(v > 0, s"stored NB model at $path has an empty vocabulary — refusing to score")
    require(row.getLong(3) > 0,
      s"stored NB model at $path : every trained document has been retracted — " +
        "the prior is undefined; re-train or compact through")
    (cls, nPos, nNeg, v, row.getLong(5))
  }

  /** Compact the stored classifier ([[graft.sources.CountStore.compact]]).
    * The default watermark folds everything — the final fold, which
    * absorbs pending retractions. */
  def compactNbModel(s: SparkSession, path: String, foldBelow: Long = Long.MaxValue): Unit =
    nbStore.compact(s, path, foldBelow)

  /** Score a batch under a STORED classifier. Tokens the model never
    * saw smooth add-one style — c_pos = c_neg = 0, so the llr is the
    * constant ln((n_neg+v)/(n_pos+v)) (the coalesce(0) forms) — and the
    * values collapse to the in-query face's whenever the batch IS the
    * training corpus (TextOpsSpec pins the equality bit-for-bit and the
    * OOV constant by hand). Docs with < 2 words are out of the model's
    * domain, as in training. */
  private[graft] def qualityClassifierStored(s: SparkSession, docs: DataFrame,
      path: String): DataFrame =
    scoreUnderNb(s, docs, path, None)

  /** [[qualityClassifierStored]] AS OF admission batch `asOf` — the NB
    * member of the model-plane time-travel family, with the
    * [[graft.sources.CountStore.netFrames]] as-of semantics
    * ([[lmScoreStoredAsOf]] is the LM twin). */
  def qualityClassifierStoredAsOf(s: SparkSession, docs: DataFrame,
      path: String, asOf: Long): DataFrame =
    scoreUnderNb(s, docs, path, Some(asOf))

  /** The scoring tail every stored-classifier face shares (live and
    * as-of) — [[scoreUnderLm]]'s discipline: one definition, so a face
    * can only differ in which model state it reconstructs. */
  private def scoreUnderNb(s: SparkSession, docs: DataFrame, path: String,
      asOf: Option[Long]): DataFrame = {
    val (cls, nPos, nNeg, v, priorFp) = nbModelAt(s, path, asOf)
    val llrFp = round((log((coalesce(col("c_pos"), lit(0L)) + lit(1.0)) / lit(nPos + v).cast("double"))
      - log((coalesce(col("c_neg"), lit(0L)) + lit(1.0)) / lit(nNeg + v).cast("double"))) * lit(1e6))
      .cast(LongType)
    nbToks(docs).join(cls, Seq("w"), "left")
      .withColumn("fp", llrFp)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("fp").as("sum_fp"))
      .select(col("doc_id"), col("n_tokens"),
        round((lit(priorFp) + col("sum_fp")) / lit(1e6), 6).as("nb_logodds"),
        ((lit(priorFp) + col("sum_fp")) > 0).cast("int").as("pred_flagged"))
      .orderBy("doc_id")
  }

  /** [[qQualityClassifier]] served from the stored model — shares its
    * DuckDB oracle (materializing the classifier moves no score). */
  def qNbProbe(s: SparkSession, dir: String): DataFrame = {
    val path = modelPath("nbmodel", dir)
    graft.sources.TmpStores.buildOnce(path)(
      writeNbModel(s, Tables.documents(s, dir), path))
    qualityClassifierStored(s, Tables.documents(s, dir), path)
  }

  /** The stored classifier after a RETRACTION (own store path —
    * [[qLmRetract]]'s discipline, same retracted slice): train on the
    * full corpus, retract doc_id % 7 = 3, score the survivors. The
    * oracle trains on a corpus that never held the retracted docs, so
    * green means the correction reached every derived statistic: both
    * class-count columns, the token totals, the vocabulary size, AND
    * the doc-count prior. */
  def qNbRetract(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val retracted = pmod(col("doc_id"), lit(7L)) === 3
    val path = graft.sources.TmpStores.scopedPath("graft-nbretract", dir)
    graft.sources.TmpStores.buildOnce(path) {
      writeNbModel(s, docs, path)
      retractNbDocs(s, path, docs.filter(retracted))
    }
    qualityClassifierStored(s, docs.filter(!retracted), path)
  }

  /** The stored classifier scored AS OF a pre-append, post-retraction
    * state — [[qLmAsof]]'s scenario on the NB store (bootstrap without
    * the %10 = 5 docs, append them as batch 7, retract every %7 = 3
    * doc, score the as-of-6 survivors as of batch 6). The oracle
    * retrains on the as-of surviving corpus; green means the batch
    * slice reached counts, doc counts, vocabulary AND prior, and the
    * retraction corrections applied membership-scoped (batch-7 members'
    * corrections must not touch the historical model). */
  def qNbAsof(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val late = pmod(col("doc_id"), lit(10L)) === 5
    val retracted = pmod(col("doc_id"), lit(7L)) === 3
    val path = graft.sources.TmpStores.scopedPath("graft-nbasof", dir)
    graft.sources.TmpStores.buildOnce(path) {
      writeNbModel(s, docs.filter(!late), path)
      appendNbBatch(s, docs.filter(late), path, 7L)
      retractNbDocs(s, path, docs.filter(retracted))
    }
    qualityClassifierStoredAsOf(s, docs.filter(!late && !retracted), path, asOf = 6L)
  }

  // Deterministic train/val/test split: a hash-bucket Bernoulli over the
  // STABLE document key — not the content, because editing a document
  // must never move it across the train/eval boundary (a content-keyed
  // split re-contaminates eval every time the corpus is re-cleaned).
  // First md5 byte of the key partitions [00,ff] into ~80/10/10; like
  // qStratifiedSample the decision is RNG-free, so any engine,
  // partitioning, or rerun assigns identically — and everything DERIVED
  // from a doc (chunks, spans, embeddings keyed by doc_id) inherits its
  // split by joining on the key, never by re-hashing content. One
  // shuffle-free projection; at 100 TB the split filter fuses into the
  // scan of whichever split a training job reads.
  private val TrainMax = "cb" // 0x00-0xcb ≈ 79.7%
  private val ValMax   = "e5" // 0xcc-0xe5 ≈ 10.2%; rest test

  def qDataSplit(s: SparkSession, dir: String): DataFrame = {
    val h2 = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
    Tables.documents(s, dir)
      .select(col("doc_id"), h2.as("hash_bucket"),
        when(h2 <= TrainMax, "train")
          .when(h2 <= ValMax, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  // Heavy hitters: per-language words above a frequency threshold, via
  // the two-pass sketch pattern. Pass 1 runs the bounded `graft_mg`
  // Misra-Gries aggregate (functions/FreqSketch.scala): each map task
  // reduces its token stream to ≤ HhCapacity counters before the
  // exchange, so the shuffle carries k rows per task instead of one row
  // per distinct term — at 100 TB the distinct-term exchange is exactly
  // what kills the naive groupBy. Pass 2 recounts ONLY the candidates
  // exactly (broadcast semi-filter, then a shuffle over candidate rows
  // alone) and applies the threshold. Correctness: MG guarantees every
  // item with true freq > n/(capacity+1) survives any merge order, and
  // HhPctDenom puts the reported threshold (n/100) strictly above that
  // floor (n/201), so the candidate set is a guaranteed superset and the
  // exact recount makes the final answer deterministic even though the
  // sketch content is partitioning-dependent.
  private[graft] val HhCapacity = 200
  private[graft] val HhPctDenom = 100L

  def qHeavyHitters(s: SparkSession, dir: String): DataFrame =
    heavyHittersOf(Tables.documents(s, dir))

  private[graft] def heavyHittersOf(docs: DataFrame): DataFrame = {
    val words = docs
      .filter(col("lang").isNotNull)
      .select(col("lang"), explode(split(normText(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
    val totals = words.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val cands = words.groupBy("lang")
      .agg(Native.col(MgFrequentItems(Native.expr(col("word")), Literal(HhCapacity))
        .toAggregateExpression()).as("sk"))
      .select(col("lang"), explode(col("sk.word")).as("word"))
    words.join(broadcast(cands), Seq("lang", "word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
      .join(broadcast(totals), "lang")
      .filter(col("cnt") * lit(HhPctDenom) > col("n_lang"))
      .select(col("lang"), col("word"), col("cnt"))
      .orderBy(col("lang"), col("cnt").desc, col("word"))
  }

  // Compression-ratio quality signal (RedPajama-v2's
  // ccnet-compression-ratio style): deflate_len/n_bytes per document.
  // Highly compressible text is boilerplate or repetition, nearly
  // incompressible text is noise — both ends get flagged. The length
  // comes from the codegen'd `graft_deflate_len` native expression
  // (functions/Zlib.scala), so at 100 TB the whole signal is a per-row
  // projection fused into the scan; no shuffle anywhere (the orderBy is
  // the harness's determinism requirement). DuckDB has no deflate, so
  // correctness is a differential Expected twin (verify/Expected.scala)
  // with an independently-coded streaming deflate loop.
  // Bounds picked from measured deflate behavior: English-like prose
  // lands ~0.35-0.67, pure repetition near 0, random-character junk
  // ~0.76-0.83 (no TEXT reaches 0.95 — limited alphabets cap the byte
  // entropy), and very short docs pay the deflate overhead and rise
  // above 0.75 — short-doc flagging is intended (they're junk for
  // training too, cf. Gopher's min word count).
  private[graft] val CompressRatioMin = 0.30
  private[graft] val CompressRatioMax = 0.75

  private def deflateLenCol(c: Column): Column =
    Native.col(DeflateLen(Native.expr(c)))

  def qCompressRatio(s: SparkSession, dir: String): DataFrame =
    compressRatioOf(Tables.documents(s, dir))

  private[graft] def compressRatioOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        deflateLenCol(col("text")).as("deflate_len"))
      // guard the ANSI division: an empty doc has no ratio and is junk
      .withColumn("compress_ratio",
        when(col("n_bytes") > 0,
          round(col("deflate_len") / col("n_bytes").cast("double"), 6)))
      .withColumn("flagged",
        when(col("n_bytes") === 0, lit(1))
          .otherwise((col("compress_ratio") < CompressRatioMin ||
            col("compress_ratio") > CompressRatioMax).cast("int")))
      .orderBy("doc_id")

  // Deterministic fixed-size per-stratum sample: exactly k documents per
  // language, chosen by a key-hash priority (top-k doc_ids by 32-bit
  // md5-prefix). Like qDataSplit the decision is RNG-free and keyed on
  // the stable doc_id, so any engine or rerun draws the same sample —
  // the standard construction for inspection panels and held-out eval
  // slices. Scale shape: the sample rides the bounded `graft_topk`
  // partial aggregate (k rows per map task cross the shuffle, no
  // per-group sort); the window formulation DuckDB replays as the
  // oracle would sort every stratum. The hash priority is 8 hex chars
  // (32 bits) because both engines hold 2^32 exactly in a double and
  // ties still break deterministically by doc_id.
  private[graft] val SamplePerGroupK = 16

  def qSamplePerGroup(s: SparkSession, dir: String): DataFrame = {
    val pri = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("double")
    Tables.documents(s, dir)
      .filter(col("lang").isNotNull)
      .select(col("lang"), col("doc_id"), pri.as("pri"))
      .groupBy("lang")
      .agg(Similarity.topkCol(col("pri"), col("doc_id"), SamplePerGroupK).as("top"))
      .select(col("lang"), explode(col("top.neighbor_id")).as("doc_id"))
      .orderBy("lang", "doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lang_id"     -> qLangId _,
    "q_data_split"  -> qDataSplit _,
    "q_heavy_hitters" -> qHeavyHitters _,
    "q_sample_pergroup" -> qSamplePerGroup _,
    "q_compress_ratio" -> qCompressRatio _,
    "q_text_quality" -> qTextQuality _,
    "q_source_reputation" -> qSourceReputation _,
    "q_source_filter" -> qSourceFilter _,
    "q_url_dedup" -> qUrlDedup _,
    "q_token_count" -> qTokenCount _,
    "q_token_bpe"   -> qTokenBpe _,
    "q_fingerprint" -> qFingerprint _,
    "q_text_redact" -> qTextRedact _,
    "q_text_chunks" -> qTextChunks _,
    "q_stratified_sample" -> qStratifiedSample _,
    "q_token_shards" -> qTokenShards _,
    "q_data_mixture" -> qDataMixture _,
    "q_seq_pack"    -> qSeqPack _,
    "q_token_budget" -> qTokenBudget _,
    "q_vocab_coverage" -> qVocabCoverage _,
    "q_repetition"  -> qRepetition _,
    "q_lm_score"    -> qLmScore _,
    "q_dsir"        -> qDsir _,
    "q_dsir_bucket" -> qDsirBucket _,
    "q_dsir_probe"  -> qDsirProbe _,
    "q_dsir_asof"   -> qDsirAsof _,
    "q_dsir_retract" -> qDsirRetract _,
    "q_curriculum"  -> qCurriculum _,
    "q_lm_probe"    -> qLmProbe _,
    "q_lm_retract"  -> qLmRetract _,
    "q_lm_asof"     -> qLmAsof _,
    "q_quality_classifier" -> qQualityClassifier _,
    "q_nb_probe"    -> qNbProbe _,
    "q_nb_retract"  -> qNbRetract _,
    "q_nb_asof"     -> qNbAsof _,
    "q_bpe_probe"   -> qBpeProbe _,
    "q_bpe_asof"    -> qBpeAsof _,
  )

  /** Shared DuckDB CTE chains (one SQL body per scoring path, the
    * [[graft.operators.Dedup]] duckGramCtes discipline): `n` = the
    * normalized word lists, `rep` = per-doc repetition verdict, `lmd` =
    * per-doc LM score. q_repetition / q_lm_score replay them standalone;
    * [[graft.operators.Pipeline]]'s q_quality_funnel composes all three
    * in one WITH, so the funnel oracle can never drift from the
    * per-stage oracles. */
  /** [[duckPartsCte]] over a filtered documents slice — the retraction
    * oracles replay the scoring pipeline on a corpus the retracted docs
    * were never part of. */
  private[operators] def duckPartsCteWith(pred: String): String =
    s"""n AS (
      |  SELECT doc_id, text,
      |    string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +', ' ', 'g')), ' ') AS parts
      |  FROM documents WHERE $pred)""".stripMargin

  private[operators] val duckPartsCte: String = duckPartsCteWith("TRUE")

  private[operators] val duckRepetitionCtes: String =
    s"""b AS (SELECT doc_id, text, parts FROM n WHERE len(parts) >= 2),
      |w AS (SELECT doc_id, unnest(parts) AS w FROM b),
      |wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
      |ws AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_cnt,
      |         CAST(sum(c) AS BIGINT) AS n_words FROM wc GROUP BY 1),
      |bs AS (SELECT doc_id,
      |         CAST(len(parts) - 1 AS BIGINT) AS n_bigrams,
      |         CAST(len(list_distinct(list_transform(generate_series(1, len(parts) - 1),
      |           i -> parts[i] || ' ' || parts[i+1]))) AS BIGINT) AS n_distinct_bigrams,
      |         round(length(array_to_string(parts, '')) / CAST(len(parts) AS DOUBLE), 6) AS mean_word_len,
      |         round((((length(text) - length(replace(text, '#', ''))) // 1)
      |                + ((length(text) - length(replace(text, '...', ''))) // 3))
      |               / CAST(len(parts) AS DOUBLE), 6) AS symbol_word_ratio,
      |         round(len(list_filter(string_split(text, chr(10)), l -> regexp_matches(ltrim(l), '^[-*] ')))
      |               / CAST(len(string_split(text, chr(10))) AS DOUBLE), 6) AS bullet_line_frac,
      |         round(len(list_filter(string_split(text, chr(10)), l -> rtrim(l) LIKE '%...'))
      |               / CAST(len(string_split(text, chr(10))) AS DOUBLE), 6) AS ellipsis_line_frac
      |       FROM b),
      |rep AS (SELECT doc_id, n_words, top_cnt,
      |          round(top_cnt / CAST(n_words AS DOUBLE), 6) AS top_word_frac,
      |          round((n_bigrams - n_distinct_bigrams) / CAST(n_bigrams AS DOUBLE), 6) AS dup_bigram_frac,
      |          mean_word_len, symbol_word_ratio, bullet_line_frac, ellipsis_line_frac,
      |          CASE WHEN round(top_cnt / CAST(n_words AS DOUBLE), 6) > $TopWordFracMax
      |                 OR round((n_bigrams - n_distinct_bigrams) / CAST(n_bigrams AS DOUBLE), 6) > $DupBigramFracMax
      |                 OR mean_word_len < $MeanWordLenMin
      |                 OR mean_word_len > $MeanWordLenMax
      |                 OR symbol_word_ratio > $SymbolWordRatioMax
      |                 OR bullet_line_frac > $BulletLineFracMax
      |                 OR ellipsis_line_frac > $EllipsisLineFracMax
      |               THEN 1 ELSE 0 END AS flagged
      |        FROM ws JOIN bs USING (doc_id))""".stripMargin

  private[operators] val duckLmCtes: String =
    """g AS (SELECT doc_id,
      |        unnest(list_transform(generate_series(1, len(parts) - 1),
      |          i -> parts[i] || ' ' || parts[i+1])) AS bg
      |      FROM n WHERE len(parts) >= 2),
      |gr AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM g),
      |lm2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM gr GROUP BY 1),
      |lm1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM gr GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
      |      FROM (SELECT unnest(parts) AS w FROM n)),
      |lsc AS (SELECT doc_id,
      |          CAST(round(ln((c2 + 1.0) / (c1 + v)) * 1000000.0) AS BIGINT) AS fp
      |        FROM gr JOIN lm2 USING (bg) JOIN lm1 USING (w1) CROSS JOIN v),
      |lmd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |          round((0.0 - floor(((-sum(fp)) * 2 + count(*)) / (2.0 * count(*)))) / 1000000.0, 6) AS avg_logp
      |        FROM lsc GROUP BY doc_id)""".stripMargin

  private[operators] val lmScoreSql: String =
    s"""WITH $duckPartsCte,
      |$duckLmCtes
      |SELECT doc_id, n_bigrams, avg_logp FROM lmd ORDER BY doc_id""".stripMargin

  /** DuckDB replay of [[qDsir]]: the same gram stream, target/pool
    * count tables, shared-base Laplace smoothing, fixed-point log-ratio
    * sum, and top-100 by (weight DESC, doc_id) — rank over the
    * K-bounded set. */
  private[operators] val dsirSql: String =
    s"""WITH $duckPartsCte,
      |g AS (SELECT doc_id,
      |        unnest(list_transform(generate_series(1, len(parts) - 1),
      |          i -> parts[i] || ' ' || parts[i+1])) AS f
      |      FROM n WHERE len(parts) >= 2),
      |tgt AS (SELECT g.doc_id, f FROM g JOIN documents USING (doc_id)
      |        WHERE documents.lang = 'en'),
      |ct AS (SELECT f, CAST(count(*) AS BIGINT) AS ct FROM tgt GROUP BY 1),
      |cs AS (SELECT f, CAST(count(*) AS BIGINT) AS cs FROM g GROUP BY 1),
      |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM g) AS ns,
      |               (SELECT CAST(count(DISTINCT f) AS BIGINT) FROM g) AS v2,
      |               (SELECT CAST(count(*) AS BIGINT) FROM tgt) AS nt),
      |sc AS (SELECT g.doc_id,
      |         CAST(round((ln((coalesce(ct, 0) + 1.0) / (nt + v2))
      |                   - ln((cs + 1.0) / (ns + v2))) * 1000000.0) AS BIGINT) AS fp
      |       FROM g JOIN cs USING (f) LEFT JOIN ct USING (f) CROSS JOIN tot),
      |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |        round(sum(fp) / 1000000.0, 6) AS dsir_weight
      |      FROM sc GROUP BY 1),
      |r AS (SELECT *, row_number() OVER (ORDER BY dsir_weight DESC, doc_id) AS sel_rank
      |      FROM d)
      |SELECT doc_id, n_bigrams, dsir_weight, CAST(sel_rank AS BIGINT) AS sel_rank
      |FROM r WHERE sel_rank <= 100 ORDER BY doc_id""".stripMargin

  /** [[lmScoreSql]] trained AND scored on a filtered corpus — the
    * retraction oracle (the CTE chain derives the model from `n`, so
    * filtering `n` IS retraining). */
  private def lmScoreSqlWith(pred: String): String =
    s"""WITH ${duckPartsCteWith(pred)},
      |$duckLmCtes
      |SELECT doc_id, n_bigrams, avg_logp FROM lmd ORDER BY doc_id""".stripMargin

  /** Shares the repetition CTEs verbatim (`w` is the labeled-domain
    * token stream, `rep` carries the weak label) — the engine and the
    * oracle train the same NB model or the differential fails. */
  private[operators] val nbClassifierSql: String = nbClassifierSqlWith("TRUE")

  /** The NB oracle trained and scored on a filtered corpus — the
    * retraction oracle ([[lmScoreSqlWith]]'s argument: the whole model
    * derives from `n`, so the filter is a retrain). */
  private def nbClassifierSqlWith(pred: String): String =
    s"""WITH ${duckPartsCteWith(pred)},
        |$duckRepetitionCtes,
        |tl AS (SELECT w.doc_id, w.w, flagged FROM w JOIN rep USING (doc_id)),
        |cls AS (SELECT w, CAST(sum(flagged) AS BIGINT) AS c_pos,
        |          CAST(count(*) AS BIGINT) AS c_all,
        |          CAST(count(*) - sum(flagged) AS BIGINT) AS c_neg
        |        FROM tl GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_pos) AS BIGINT) AS n_pos,
        |          CAST(sum(c_neg) AS BIGINT) AS n_neg,
        |          CAST(count(*) AS BIGINT) AS v FROM cls),
        |pr AS (SELECT CAST(round(ln((sum(flagged) + 1.0) / (count(*) - sum(flagged) + 1.0)) * 1000000.0) AS BIGINT) AS prior_fp
        |       FROM rep),
        |sc AS (SELECT doc_id,
        |         CAST(round((ln((c_pos + 1.0) / (n_pos + v)) - ln((c_neg + 1.0) / (n_neg + v))) * 1000000.0) AS BIGINT) AS fp
        |       FROM tl JOIN cls USING (w) CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round((prior_fp + sum(fp)) / 1000000.0, 6) AS nb_logodds,
        |  CASE WHEN (prior_fp + sum(fp)) > 0 THEN 1 ELSE 0 END AS pred_flagged
        |FROM sc CROSS JOIN pr
        |GROUP BY doc_id, prior_fp ORDER BY doc_id""".stripMargin

  /** DuckDB replay of [[sourceReputation]]: per-doc 6-decimal score
    * summed as decimal (the determinism discipline), exact-dup rank on
    * the content hash, then the verdict CASE in the same precedence. A
    * complete SELECT with no trailing ORDER BY so it can be inlined as a
    * CTE by the per-doc face. */
  private val duckSourceReputationSql: String =
    s"""WITH sq AS (
       |  SELECT doc_id, source,
       |    cast(round(0.001 * length(regexp_split_to_array(trim(text), ' +')) + 1.0 -
       |      CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[a-z ]', '', 'g')) /
       |        cast(length(text) AS double) ELSE cast(0 AS double) END, 6) AS decimal(18,6)) AS qs,
       |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM documents),
       |sr AS (
       |  SELECT source, count(*) AS n_docs,
       |    round(cast(sum(qs) / count(*) AS double), 6) AS mean_quality,
       |    round(sum(CASE WHEN rn > 1 THEN 1.0 ELSE 0 END) / count(*), 6) AS dup_share
       |  FROM sq GROUP BY source)
       |SELECT source, n_docs, mean_quality, dup_share,
       |  CASE WHEN source IN (${SourceBlocklist.map("'" + _ + "'").mkString(", ")}) THEN 'blocked'
       |       WHEN dup_share > $SourceMaxDupShare THEN 'high_dup'
       |       WHEN mean_quality < $SourceMinQuality THEN 'low_quality'
       |       ELSE 'ok' END AS verdict
       |FROM sr""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_data_split" ->
      s"""WITH h AS (
        |  SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hash_bucket
        |  FROM documents)
        |SELECT doc_id, hash_bucket,
        |  CASE WHEN hash_bucket <= '$TrainMax' THEN 'train'
        |       WHEN hash_bucket <= '$ValMax' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin,
    "q_heavy_hitters" ->
      s"""WITH w AS (
        |  SELECT lang,
        |    unnest(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +', ' ', 'g')), ' ')) AS word
        |  FROM documents WHERE lang IS NOT NULL),
        |wf AS (SELECT lang, word FROM w WHERE word <> ''),
        |n AS (SELECT lang, count(*) AS n_lang FROM wf GROUP BY 1),
        |c AS (SELECT lang, word, count(*) AS cnt FROM wf GROUP BY 1, 2)
        |SELECT c.lang, c.word, c.cnt FROM c JOIN n USING (lang)
        |WHERE c.cnt * $HhPctDenom > n.n_lang
        |ORDER BY lang, cnt DESC, word""".stripMargin,
    "q_sample_pergroup" ->
      s"""WITH s AS (
        |  SELECT lang, doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS pri
        |  FROM documents WHERE lang IS NOT NULL),
        |r AS (SELECT lang, doc_id,
        |        row_number() OVER (PARTITION BY lang ORDER BY pri DESC, doc_id) AS rk
        |      FROM s)
        |SELECT lang, doc_id FROM r WHERE rk <= $SamplePerGroupK
        |ORDER BY lang, doc_id""".stripMargin,
    "q_repetition" ->
      s"""WITH $duckPartsCte,
        |$duckRepetitionCtes
        |SELECT doc_id, n_words, top_cnt, top_word_frac, dup_bigram_frac,
        |  mean_word_len, symbol_word_ratio, bullet_line_frac, ellipsis_line_frac, flagged
        |FROM rep ORDER BY doc_id""".stripMargin,
    "q_lm_score" -> lmScoreSql,
    "q_dsir" -> dsirSql,
    "q_curriculum" ->
      s"""WITH $duckPartsCte,
        |$duckLmCtes,
        |th AS (SELECT quantile_cont(avg_logp, 0.2) AS p20,
        |         quantile_cont(avg_logp, 0.4) AS p40,
        |         quantile_cont(avg_logp, 0.6) AS p60,
        |         quantile_cont(avg_logp, 0.8) AS p80 FROM lmd),
        |b AS (SELECT doc_id, n_bigrams, avg_logp,
        |        CASE WHEN avg_logp < p20 THEN 1
        |             WHEN avg_logp < p40 THEN 2
        |             WHEN avg_logp < p60 THEN 3
        |             WHEN avg_logp < p80 THEN 4
        |             ELSE 5 END AS bucket
        |      FROM lmd CROSS JOIN th)
        |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
        |  CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams,
        |  round(min(avg_logp), 6) AS min_logp,
        |  round(max(avg_logp), 6) AS max_logp
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    // stored-model face: same oracle — materializing the LM moves no score
    "q_lm_probe" -> lmScoreSql,
    // retraction face: the oracle RETRAINS on a corpus the retracted docs
    // were never part of — green means the stored-model correction equals
    // a retrain bit-for-bit (counts, contexts, and vocabulary size)
    "q_lm_retract" -> lmScoreSqlWith("doc_id % 7 <> 3"),
    // as-of face: the oracle trains on the AS-OF surviving corpus —
    // bootstrap members (not %10=5) minus retracted members (%7=3);
    // green means the batch slice AND the membership-scoped retraction
    // corrections both reconstruct exactly (see qLmAsof)
    "q_lm_asof" -> lmScoreSqlWith("doc_id % 10 <> 5 AND doc_id % 7 <> 3"),
    "q_quality_classifier" -> nbClassifierSql,
    // stored-model face: same oracle — materializing the model moves nothing
    "q_nb_probe" -> nbClassifierSql,
    // retraction face: retrain-on-survivors oracle (see q_lm_retract)
    "q_nb_retract" -> nbClassifierSqlWith("doc_id % 7 <> 3"),
    // as-of face: retrain-on-the-as-of-survivors oracle (see q_lm_asof)
    "q_nb_asof" -> nbClassifierSqlWith("doc_id % 10 <> 5 AND doc_id % 7 <> 3"),

    "q_lang_id" ->
      """WITH n AS (
        |  SELECT doc_id, lang,
        |    ' ' || trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +', ' ', 'g')) || ' ' AS t
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN (length(t) - length(replace(t, ' the ', ''))) / 5 >= 1 THEN 'en'
        |       WHEN (length(t) - length(replace(t, ' der ', ''))) / 5 >= 1 THEN 'de'
        |       WHEN (length(t) - length(replace(t, ' le ', ''))) / 4 >= 1 THEN 'fr'
        |       WHEN (length(t) - length(replace(t, ' el ', ''))) / 4 >= 1 THEN 'es'
        |       ELSE 'und' END AS pred_lang,
        |  CASE WHEN (CASE WHEN (length(t) - length(replace(t, ' the ', ''))) / 5 >= 1 THEN 'en'
        |       WHEN (length(t) - length(replace(t, ' der ', ''))) / 5 >= 1 THEN 'de'
        |       WHEN (length(t) - length(replace(t, ' le ', ''))) / 4 >= 1 THEN 'fr'
        |       WHEN (length(t) - length(replace(t, ' el ', ''))) / 4 >= 1 THEN 'es'
        |       ELSE 'und' END) = lang THEN 1 ELSE 0 END AS is_match
        |FROM n ORDER BY doc_id""".stripMargin,
    // the reputation chain is one definition used by BOTH source-filter
    // oracles (aggregate face + per-doc face) so thresholds cannot drift
    "q_source_reputation" -> (duckSourceReputationSql + "\nORDER BY source"),
    // q_url_dedup's oracle replays the PLANT arithmetic straight to the
    // canonical form — the engine canonicalizes the real messy strings,
    // the oracle knows what was planted (the multimodal-meta pattern);
    // the keeper rule re-derives through the shared quality formula and
    // the reputation verdicts
    "q_url_dedup" ->
      s"""WITH rep AS (${duckSourceReputationSql}),
         |sq AS (
         |  SELECT doc_id,
         |    cast(round(0.001 * length(regexp_split_to_array(trim(text), ' +')) + 1.0 -
         |      CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[a-z ]', '', 'g')) /
         |        cast(length(text) AS double) ELSE cast(0 AS double) END, 6) AS decimal(18,6)) AS qs
         |  FROM documents),
         |c AS (
         |  SELECT d.doc_id, d.source,
         |    (CASE d.doc_id % 2 WHEN 0 THEN 'http' ELSE 'https' END) ||
         |    '://www.example-' || CAST(d.doc_id % 3 AS VARCHAR) || '.com/docs/' ||
         |    CAST(d.doc_id % 20 AS VARCHAR) ||
         |    (CASE WHEN d.doc_id % 5 IN (1, 2)
         |          THEN '?id=' || CAST(d.doc_id % 20 AS VARCHAR) ELSE '' END) AS canonical_url
         |  FROM documents d),
         |j AS (
         |  SELECT c.canonical_url, c.doc_id, c.source, rep.verdict,
         |    row_number() OVER (PARTITION BY c.canonical_url ORDER BY
         |      CASE rep.verdict WHEN 'ok' THEN 0 WHEN 'low_quality' THEN 1
         |                       WHEN 'high_dup' THEN 2 ELSE 3 END,
         |      sq.qs DESC, c.doc_id) AS rn
         |  FROM c JOIN rep ON c.source = rep.source JOIN sq ON c.doc_id = sq.doc_id)
         |SELECT canonical_url,
         |  count(*) AS n_variants,
         |  min(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
         |  min(CASE WHEN rn = 1 THEN source END) AS keep_source,
         |  min(CASE WHEN rn = 1 THEN verdict END) AS keep_verdict
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_source_filter" ->
      s"""WITH rep AS (${duckSourceReputationSql})
         |SELECT doc_id, d.source, verdict,
         |  CASE WHEN verdict = 'ok' THEN 1 ELSE 0 END AS kept
         |FROM documents d JOIN rep ON d.source = rep.source
         |ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id,
        |  length(regexp_split_to_array(trim(text), ' +')) AS n_words,
        |  round(length(replace(text, ' ', '')) /
        |        cast(length(regexp_split_to_array(trim(text), ' +')) AS double), 6) AS avg_word_len,
        |  round(CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[a-z ]', '', 'g')) /
        |        cast(length(text) AS double) ELSE cast(0 AS double) END, 6) AS punct_ratio,
        |  round(((length(text) - length(replace(text, 'the', ''))) / 3) /
        |        cast(length(regexp_split_to_array(trim(text), ' +')) AS double), 6) AS stop_ratio,
        |  round(cast(0.001 AS double) * length(regexp_split_to_array(trim(text), ' +')) + cast(1.0 AS double) -
        |        CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[a-z ]', '', 'g')) /
        |        cast(length(text) AS double) ELSE cast(0 AS double) END, 6) AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_token_count" ->
      s"""SELECT doc_id,
        |  length(regexp_split_to_array(trim(text), ' +')) AS ws_tokens,
        |  cast(ceil(length(text) / 4.0) AS bigint) AS bpe_est_tokens,
        |  cast(length(regexp_extract_all(lower(text), '$PretokenPattern')) AS bigint) AS pretoken_count
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint,
        |  n_chars // 100 AS len_bucket
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_chunks" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |n AS (SELECT doc_id, words, length(words) AS n FROM w),
        |st AS (
        |  SELECT doc_id, words, n, unnest(range(1, n + 1, 80)) AS start
        |  FROM n)
        |SELECT doc_id,
        |  (start - 1) // 80 AS chunk_idx,
        |  cast(start AS bigint) AS chunk_start,
        |  cast(length(words[start : least(start + 99, n)]) AS bigint) AS n_chunk_tokens,
        |  md5(array_to_string(words[start : least(start + 99, n)], ' ')) AS chunk_hash
        |FROM st
        |WHERE start = 1 OR n >= start + 20
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_vocab_coverage" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |vc AS (
        |  SELECT word, count(*) AS cnt FROM (SELECT unnest(words) AS word FROM w) t
        |  GROUP BY 1 ORDER BY cnt DESC, word LIMIT 100),
        |v AS (SELECT list(word) AS vocab FROM vc)
        |SELECT doc_id,
        |  cast(length(words) AS bigint) AS n_tokens,
        |  cast(length(words) - length(list_filter(words, x -> list_contains(v.vocab, x))) AS bigint) AS n_oov,
        |  round((length(words) - length(list_filter(words, x -> list_contains(v.vocab, x))))
        |        / cast(length(words) AS double), 6) AS oov_ratio
        |FROM w, v ORDER BY doc_id""".stripMargin,
    "q_stratified_sample" ->
      """SELECT lang, count(*) AS n_total,
        |  cast(sum(CASE WHEN substr(md5(text), 1, 2) <=
        |    (CASE WHEN lang = 'en' THEN '29' WHEN lang = 'de' THEN '80' ELSE 'ff' END)
        |    THEN 1 ELSE 0 END) AS bigint) AS n_kept
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_token_shards" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    length(regexp_split_to_array(trim(text), ' +')) AS n_tokens
        |  FROM documents WHERE lang IS NOT NULL),
        |sh AS (
        |  SELECT lang, n_tokens,
        |    cast(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
        |                - n_tokens) / 4000) AS bigint) AS shard_id
        |  FROM t)
        |SELECT lang, shard_id, count(*) AS n_docs,
        |  cast(sum(n_tokens) AS bigint) AS shard_tokens
        |FROM sh GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_seq_pack" ->
      s"""WITH t AS (
        |  SELECT doc_id, doc_id % $PackShards AS shard,
        |    length(regexp_split_to_array(trim(text), ' +')) AS tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, tok,
        |    sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - tok AS start_tok
        |  FROM t)
        |SELECT shard, cast(start_tok // $PackBudget AS bigint) AS seq_id,
        |  cast(count(*) AS bigint) AS n_docs,
        |  cast(sum(tok) AS bigint) AS sum_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_token_budget" ->
      """WITH a AS (
        |  SELECT lang, cast(sum(length(regexp_split_to_array(trim(text), ' +')))
        |    AS bigint) AS avail_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT cast(sum(avail_tokens) AS bigint) AS corpus_tokens,
        |  count(*) AS n_langs FROM a),
        |-- literals cast to DOUBLE (the q_data_mixture rule): bare 0.6/0.4
        |-- would make the weight DECIMAL in DuckDB while Spark uses double
        |p AS (
        |  SELECT lang, avail_tokens,
        |    cast(floor((CASE WHEN lang = 'zh' THEN CAST(0.6 AS DOUBLE)
        |      ELSE CAST(0.4 AS DOUBLE) / (n_langs - 1) END)
        |      * (corpus_tokens // 2)) AS bigint) AS target_tokens
        |  FROM a, t)
        |SELECT lang, avail_tokens, target_tokens,
        |  round(least(CAST(1.0 AS DOUBLE),
        |    target_tokens / avail_tokens), 6) AS rate,
        |  round(target_tokens / avail_tokens, 3) AS epochs_needed
        |FROM p ORDER BY lang""".stripMargin,
    "q_data_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_lang) AS n_corpus, count(*) AS n_langs FROM c),
        |r AS (
        |  -- literals cast to DOUBLE: bare 0.4/2.0 would make this DECIMAL
        |  -- arithmetic in DuckDB while Spark computes the rate in double,
        |  -- and a 6th-decimal difference on another corpus would flip the
        |  -- floor(rate*65536) hex threshold and fail the differential
        |  SELECT lang,
        |    round(least(CAST(1.0 AS DOUBLE),
        |      (CASE WHEN lang = 'zh' THEN CAST(0.6 AS DOUBLE)
        |            ELSE CAST(0.4 AS DOUBLE) / (n_langs - 1) END)
        |        * n_corpus / (CAST(2.0 AS DOUBLE) * n_lang)), 6) AS rate
        |  FROM c, t)
        |SELECT d.lang, max(r.rate) AS rate, count(*) AS n_total,
        |  cast(sum(CASE WHEN r.rate >= 1.0
        |    OR substr(md5(d.text), 1, 4) < printf('%04x', cast(floor(r.rate * 65536) AS int))
        |    THEN 1 ELSE 0 END) AS bigint) AS n_kept
        |FROM documents d JOIN r USING (lang)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_text_redact" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || ' contact user' || cast(doc_id AS varchar)
        |      || '@mail.example.com or call 555-01'
        |      || substr(cast(doc_id % 90 AS varchar), 1, 2)
        |      || ' ref ' || cast(doc_id * 37 + 1000 AS varchar) AS contact
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(contact,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{3}-\d{2,}\b', '<PHONE>', 'g'),
        |      '\b\d{4,}\b', '<NUM>', 'g') AS redacted
        |  FROM c)
        |SELECT doc_id, redacted,
        |  (length(redacted) - length(replace(redacted, '<EMAIL>', ''))) // 7 AS n_emails,
        |  (length(redacted) - length(replace(redacted, '<PHONE>', ''))) // 7 AS n_phones,
        |  (length(redacted) - length(replace(redacted, '<NUM>', ''))) // 5 AS n_nums
        |FROM r ORDER BY doc_id""".stripMargin,
  )
}
