package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm._

/** LLM-data-pipeline query surface (dedup, similarity search, text
  * analysis, multimodal) over the `documents`/`embeddings` testdata, with
  * exact-match DuckDB oracles. Hash-dependent ops (minhash, simhash,
  * fingerprints) are built on md5 so both engines produce identical bits.
  */
object LlmQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** CPU-heavy per-row pipelines need the scan spread across cores: the
    * local testdata is one small parquet row-group (→ one task), which
    * would serialize tens of millions of digest calls. On a cluster the
    * same operator reads many splits, so the repartition is GATED on the
    * scan's actual split count: a real 100 TB layout already yields
    * thousands of splits, and paying a corpus-wide shuffle there just to
    * "spread" would be pure waste (round-2 verdict, plan audit).
    */
  private def tPar(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = Tables.load(s, dir, name)
    val want = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  // ----- text analysis ---------------------------------------------------

  /** Tokenize-once: `toks` is materialized by its own projection, so every
    * stat reads the ATTRIBUTE instead of re-running the split (inlining
    * `tokens(text)` into each of the 8 stats cost ~10 tokenizations per
    * document — round-2 verdict measured 4.7× on this query). Catalyst
    * keeps the projection split because `toks` is non-cheap and
    * multiply-referenced (CollapseProject's duplicate-expression guard).
    */
  private def textStats(s: SparkSession, dir: String): DataFrame = {
    val base = tPar(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        TextStats.tokens(col("text")).as("toks"))
    val stats = base.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_check"),
      TextStats.nTokensOf(col("toks")).as("n_tokens"),
      TextStats.nWordPieces(col("text")).as("n_word_pieces"),
      TextStats.punctRatio(col("text")).as("punct_ratio"),
      TextStats.stopwordRatioOf(col("toks")).as("stopword_ratio"),
      TextStats.avgTokenLenOf(col("toks")).as("avg_token_len"),
      TextStats.fingerprint(col("text")).as("fingerprint"))
    stats.select(
        col("doc_id"), col("n_chars_check"), col("n_tokens"),
        col("n_word_pieces"), col("punct_ratio"), col("stopword_ratio"),
        col("avg_token_len"),
        TextStats.qualityScoreOf(col("n_tokens"), col("punct_ratio"),
          col("stopword_ratio")).as("quality_score"),
        col("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** Same tokenize-once shape: hit counts materialize as columns, the
    * argmax reads attributes.
    */
  private def langIdPred(s: SparkSession, dir: String): DataFrame = {
    val base = tPar(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextStats.tokens(col("text")).as("toks"))
    val hitCols = TextStats.langHits(col("toks"))
    val hits = base.select(
      col("doc_id") +: col("lang") +:
        hitCols.map { case (lang, c) => c.as(s"__hits_$lang") }: _*)
    val pred = TextStats.langPredOf(
      hitCols.map { case (lang, _) => lang -> col(s"__hits_$lang") })
    hits.select(col("doc_id"), col("lang"), pred.as("lang_pred"))
      .orderBy(col("doc_id"))
  }

  /** Top-5 longest documents per language via the bounded-heap
    * [[graft.functions.TopKAgg]]: the shuffle carries ≤ 5 entries per
    * (lang × map partition), not the document stream — the scale-safe
    * twin of the `row_number` window form the oracle uses.
    */
  private def topkDocsPerLang(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKAgg.topK
    tPar(s, dir, "documents")
      .select(col("lang"), col("doc_id").cast("string").as("doc_key"),
        TextStats.nTokens(col("text")).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(topK(col("doc_key"), col("n_tokens"), 5).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.item").as("doc_key"), col("col.metric").as("n_tokens"))
      .orderBy(col("lang"), col("rank"))
  }

  /** The whole curation stack composed end to end: quality/repetition
    * filter → exact dedup → deterministic sample
    * ([[Curation.curateCorpus]]) feeding the LSH closure's
    * one-survivor-per-cluster near-dedup
    * ([[Dedup.dropNearDupsExact]]). The oracle replays every stage in
    * SQL (funnel CTEs + recursive closure over the survivors), so this
    * single hash checks the COMPOSITION, not just the stages.
    */
  private def curationFunnelNear(s: SparkSession, dir: String): DataFrame = {
    val curated = Curation.curateCorpus(
      tPar(s, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text",
      minQuality = 0.5, maxDupTokenRatio = 0.9, sampleFraction = 0.5)
    Dedup.dropNearDupsExact(curated, "doc_id", "text")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("id_sum"),
        sum(col("n_tokens")).cast("long").as("token_sum"))
  }

  /** The trained probe wired INTO the curation funnel (the model-based
    * quality stage of a GPT-3/CCNet-style pipeline): rule filters →
    * probe gate → exact dedup → deterministic sample, one composed
    * plan. The gate sits BEFORE dedup — a gated-out document must not
    * survive as its fingerprint group's min-id and shadow a kept
    * duplicate ([[Curation.curateCorpus]]'s `gate` stage). The oracle
    * replays the probe's full 12-round integer-GD training
    * (`LinearProbeScoredCtes`) plus the funnel CTEs, so this single
    * hash certifies training, calibration, gating and funnel
    * composition together. Probe training rides the shared
    * [[probeFor]] memo — one training feeds trace/eval/filter AND the
    * funnel, as a real pipeline would run it.
    */
  private def curationFunnelProbe(s: SparkSession, dir: String): DataFrame = {
    val (feats, traj) = probeFor(s, dir)
    val gate = LinearProbe.scoreGate(feats, traj.last)
    Curation.curateCorpus(
        tPar(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text",
        minQuality = 0.5, maxDupTokenRatio = 0.9, sampleFraction = 0.5,
        gate = Some(gate))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("id_sum"),
        sum(col("n_tokens")).cast("long").as("token_sum"),
        sum(col("probe_score_micro")).cast("long").as("sum_score_micro"))
  }

  private val minhashPairsMemo = new Memo[DataFrame]("minhash_pairs")

  /** One [[MinHash.dupPairs]] candidate table per (app, sfDir) at the
    * contract grain (n=3, k=8, rowsPerBand=2) — the shared intermediate
    * the whole near-dup family (pairs report, both closure variants,
    * both survivor summaries, edit-distance verify, leakage-safe
    * splits) is defined over; each consumer rebuilt the signature + LSH
    * + verify pipeline. Same shared-training discipline as [[saFor]];
    * the bench resets memos between passes. Pair-grain (bounded by LSH
    * band fan-out), size-adaptive storage.
    */
  private def minhashPairsT(s: SparkSession, dir: String): DataFrame =
    minhashPairsMemo.session(s, dir) {
      Memos.adaptiveCheckpoint(
        MinHash.dupPairs(tPar(s, dir, "documents"), "doc_id", "text"))
    }

  /** One-survivor-per-cluster dedup summary; see
    * [[Dedup.dropNearDupsExact]].
    */
  private def nearDedupSurvivorsExact(s: SparkSession, dir: String): DataFrame =
    Dedup.dropNearDupsExactFromPairs(tPar(s, dir, "documents"), "doc_id",
        minhashPairsT(s, dir))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"))

  /** Per-document token entropy (repetition signal) — tokenize once,
    * compute map-only; see [[TextStats.tokenEntropyOf]].
    */
  private def tokenEntropy(s: SparkSession, dir: String): DataFrame =
    tPar(s, dir, "documents")
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TextStats.nTokensOf(col("toks")).as("n_tokens"),
        TextStats.tokenEntropyOf(col("toks")).as("entropy"))
      .orderBy(col("doc_id"))

  /** Winnowing fingerprints (MOSS) at k=3, w=4 — the local,
    * position-aware dup sketch; see [[TextStats.winnowFingerprints]].
    */
  private def winnowFingerprintsQ(s: SparkSession, dir: String): DataFrame =
    TextStats.winnowFingerprints(tPar(s, dir, "documents"),
        "doc_id", "text", k = 3, w = 4)
      .orderBy(col("doc_id"), col("pos"), col("fp"))

  private val winnowFpMemo = new Memo[DataFrame]("winnow_fingerprints")

  /** One winnow `(__id, fp)` materialization per (app, sfDir) at the
    * contract grain (k=3, w=4) — [[Dedup.winnowFingerprintTable]]'s own
    * scaladoc prescribes exactly this seam ("a pairs + clusters + funnel
    * composition over the same corpus should build THIS once"): the
    * text stage (regex split + hashing per token) is the expensive part
    * and the pairs and clusters queries each rebuilt it. Same
    * shared-training discipline as [[saFor]]; the bench resets memos
    * between passes.
    */
  private def winnowFpTable(s: SparkSession, dir: String): DataFrame =
    winnowFpMemo.session(s, dir) {
      Dedup.winnowFingerprintTable(tPar(s, dir, "documents"), "doc_id",
        "text", k = 3, w = 4)
    }

  /** Candidate pairs from shared winnow fingerprints — the local-overlap
    * complement of [[MinHash.dupPairs]]; see [[Dedup.winnowDupPairs]].
    */
  private def winnowDupPairsQ(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowDupPairsFromFps(winnowFpTable(s, dir),
        minShared = 2, maxDocsPerFp = 100)
      .orderBy(col("id_a"), col("id_b"))

  /** Transitive clusters over the winnow candidate graph; see
    * [[Dedup.winnowDupClusters]].
    */
  private def winnowDupClustersQ(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowDupClustersFromFps(winnowFpTable(s, dir),
        minShared = 2, maxDocsPerFp = 100)
      .orderBy(col("cluster_id"), col("doc_id"))

  /** Aggregate-only linear-probe training ([[Calibration.olsFit2]]):
    * fit subword-piece counts from (chars, punct) byte statistics in
    * ONE moment pass — "how many tokens is this corpus" without running
    * a tokenizer over it. The DuckDB twin re-derives the identical
    * closed-form solve from the same exact integer moments.
    */
  private def tokenCountModel(s: SparkSession, dir: String): DataFrame =
    Calibration.olsFit2(tPar(s, dir, "documents"),
      x1 = length(col("text")).cast("long"),
      x2 = graft.functions.RegexpCount.regexpCount(col("text"),
        "[.,;:!?'\"()\\[\\]{}-]"),
      y = TextStats.nWordPieces(col("text")))

  /** Mutual information between `lang` and `source`
    * ([[graft.ops.Eval.mutualInformation]]) — the leakage/association
    * screen: how much does knowing a document's source tell you about
    * its language (and so how much would source-stratified sampling
    * skew the language mix)?
    */
  private def langSourceMi(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.mutualInformation(tPar(s, dir, "documents"),
      col("lang"), col("source"))

  /** Within-source token-length percentile
    * ([[graft.ops.Normalize.quantileRank]]): "bottom 10%" must mean
    * bottom 10% OF EACH SOURCE — sources have different length norms,
    * and a pooled cut lets a verbose source monopolize the keep set.
    */
  private def lengthPctlBySource(s: SparkSession, dir: String): DataFrame =
    graft.ops.Normalize.quantileRank(
        tPar(s, dir, "documents").select(col("doc_id"), col("source"),
          TextStats.nTokens(col("text")).as("n_tokens")),
        "source", "n_tokens")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("pctl"))
      .orderBy(col("doc_id"))

  /** Top PMI collocations ([[Collocations.pmiBigrams]]) at min-count 5
    * — adjacent pairs the unigram model can't explain, the phrase-
    * mining signal.
    */
  private def collocationsPmi(s: SparkSession, dir: String): DataFrame =
    Collocations.pmiBigrams(tPar(s, dir, "documents"), "text",
      minCount = 5L, k = 50)

  /** Per-class precision/recall/F1 of the heuristic language-ID
    * against the labeled `lang` column ([[graft.ops.Eval.classStats]])
    * — the model-eval loop a pipeline runs before trusting a cheap
    * classifier to gate a corpus. `def`-level classes appearing on only
    * one side (e.g. `und`, never a label) still get a row.
    */
  private def langIdEval(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.classStats(tPar(s, dir, "documents"),
        col("lang"), TextStats.langId(col("text")))
      .orderBy(col("clazz"))

  /** Chance-corrected agreement (Cohen's κ,
    * [[graft.ops.Eval.cohenKappa]]) between the label and the heuristic
    * — raw accuracy flatters a skewed label mix; κ subtracts what the
    * marginals agree on by luck.
    */
  private def langIdKappa(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.cohenKappa(tPar(s, dir, "documents"),
      col("lang"), TextStats.langId(col("text")))

  /** Temperature-flattened sampling allocation at α=0.3 (the XLM-R
    * default) over per-language exact word-piece counts, at a 10M-token
    * mixture budget — see [[Curation.temperatureAllocation]].
    */
  private def temperatureMixLangs(s: SparkSession, dir: String): DataFrame =
    Curation.temperatureAllocation(
        tPar(s, dir, "documents")
          .select(col("lang"), TextStats.nWordPieces(col("text")).as("n_wp")),
        "lang", "n_wp", alpha = 0.3, budgetTokens = 10000000L)
      .orderBy(col("source"))

  /** Corpus-grain Flesch reading ease per language from summed exact
    * moments (words, sentence boundaries, vowel-run syllables) — the
    * length-weighted readability of each language slice, not a mean of
    * per-document scores; see [[TextStats.fleschOf]].
    */
  private def fleschByLang(s: SparkSession, dir: String): DataFrame =
    tPar(s, dir, "documents")
      .select(col("lang"),
        TextStats.nTokens(col("text")).as("__w"),
        TextStats.nSentences(col("text")).as("__s"),
        TextStats.nSyllables(col("text")).as("__y"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__w")).as("n_words"),
        sum(col("__s")).as("n_sentences"),
        sum(col("__y")).as("n_syllables"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        TextStats.fleschOf(col("n_words"), col("n_sentences"),
          col("n_syllables")).as("flesch"))
      .orderBy(col("lang"))

  /** Registered-domain crawl rollup over URLs DERIVED deterministically
    * from document rows (the testdata carries no URL column, so both
    * engines synthesize the same messy URLs — mixed scheme/host case,
    * default and explicit ports, tracking params, unsorted params,
    * fragments, trailing slashes, www vs bare, a co.uk slice — then
    * canonicalize them; see [[graft.ops.Urls]]). The path key folds
    * doc_id mod 50, so canonicalization must UNIFY distinct raw URLs
    * for the dup_ratio to come out right.
    */
  private def urlDomainStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.Urls.domainStats(
      tPar(s, dir, "documents").select(concat(
        when(pmod(col("doc_id"), lit(3)) === 0, lit("HTTP"))
          .when(pmod(col("doc_id"), lit(3)) === 1, lit("https"))
          .otherwise(lit("http")),
        lit("://"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit("WWW.")).otherwise(lit("")),
        col("source"),
        when(pmod(col("doc_id"), lit(4)) === 0, lit(".Example.CO.UK"))
          .otherwise(lit(".example.COM")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          when(pmod(col("doc_id"), lit(3)) === 1, lit(":443")).otherwise(lit(":80")))
          .when(pmod(col("doc_id"), lit(7)) === 1, lit(":8080"))
          .otherwise(lit("")),
        lit("/"), col("lang"), lit("/doc/"), pmod(col("doc_id"), lit(50)),
        when(pmod(col("doc_id"), lit(6)) === 0, lit("/")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("?utm_source=feed&id="), pmod(col("doc_id"), lit(50)),
            lit("&b=2")))
          .otherwise(concat(lit("?b=2&id="), pmod(col("doc_id"), lit(50)))),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("#frag")).otherwise(lit("")))
        .as("url")),
      "url").orderBy(col("domain"))

  /** Maximal cross-document duplicated token spans at w=5 — the
    * substring-grain dedup signal document-grain MinHash misses; see
    * [[SubstringDedup.dupSpans]].
    */
  private def substringDupSpansQ(s: SparkSession, dir: String): DataFrame =
    SubstringDedup.dupSpans(tPar(s, dir, "documents"), "doc_id", "text",
        w = 5, minDocs = 2)
      .orderBy(col("doc_id"), col("span_start"))

  /** Per-document duplicated-token profile (clean docs included) — the
    * curation gating column; see [[SubstringDedup.dupStats]].
    */
  private def substringDupStatsQ(s: SparkSession, dir: String): DataFrame =
    SubstringDedup.dupStats(tPar(s, dir, "documents"), "doc_id", "text",
        w = 5, minDocs = 2)
      .orderBy(col("doc_id"))

  /** Overlap-coefficient (containment) pairs — the partial-copy signal
    * symmetric Jaccard misses; see [[Containment.overlapPairs]].
    */
  private def containmentPairs(s: SparkSession, dir: String): DataFrame =
    Containment.overlapPairs(tPar(s, dir, "documents"), "doc_id", "text",
        n = 3, minOverlap = 0.5, maxDocsPerShingle = 100)
      .orderBy(col("id_a"), col("id_b"))

  /** Cross-source shingle-overlap certification ([[graft.ops.Reagg
    * .pairwiseOverlap]]): HLL inclusion-exclusion estimates of pairwise
    * source overlap, certified against the exact shingle-grain join —
    * per-source estimates within 5%, intersections within
    * max(10% of the union, 8). At 100 TB only the sketch path runs (KB
    * sketches, group-grain pair join); the exact path here is the
    * certification oracle, same discipline as `cms_brand_counts`.
    */
  private def sourceOverlapSketch(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Reagg
    // the same distinct (key, shingle) build containment_pairs uses,
    // keyed by source instead of doc id (checkpointed once; feeds
    // sizes, the exact join, and the sketches)
    val e = Containment.shingleTable(tPar(s, dir, "documents"),
        "source", "text")
      .withColumnRenamed("__id", "source")
    val sz = e.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val ex = e.select(col("shingle"), col("source").as("source_a"))
      .join(e.select(col("shingle"), col("source").as("source_b")),
        Seq("shingle"))
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_inter"))
    val est = Reagg.pairwiseOverlap(
      e.groupBy(col("source")).agg(Reagg.distinctSketch(col("shingle"), 14)
        .as("sk")),
      "source", "sk")
    est
      .join(sz.select(col("source").as("key_a"), col("n").as("n_a")),
        Seq("key_a"))
      .join(sz.select(col("source").as("key_b"), col("n").as("n_b")),
        Seq("key_b"))
      .join(ex, col("key_a") === col("source_a") &&
        col("key_b") === col("source_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .select(col("key_a").as("source_a"), col("key_b").as("source_b"),
        col("n_a"), col("n_b"), col("n_inter"),
        (abs(col("est_a") - col("n_a")).cast("double") <=
          lit(0.05) * col("n_a") &&
          abs(col("est_b") - col("n_b")).cast("double") <=
            lit(0.05) * col("n_b")).as("sizes_ok"),
        (abs(col("est_inter") - col("n_inter")).cast("double") <=
          greatest(lit(0.10) * (col("n_a") + col("n_b") - col("n_inter")),
            lit(8.0))).as("inter_ok"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Deterministic A-ES weighted reservoir: 8 docs per language,
    * inclusion probability ∝ `n_chars`; see
    * [[graft.ops.Sampling.weightedReservoir]].
    */
  private def weightedReservoirDocs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.weightedReservoir(
        tPar(s, dir, "documents").select(col("doc_id"), col("lang"),
          col("n_chars")),
        Seq("lang"), "doc_id", col("n_chars"), k = 8, seed = 7)
      .select(col("lang"), col("sample_rank"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("sample_rank"))

  /** Char-bigram LM quality score: train on the corpus, score every
    * document by mean log-likelihood; see [[LangModel]]. The model
    * table is broadcast (≤ |alphabet|² rows) and per-doc sums are
    * integer-exact nano-units, so the score is partitioning-invariant.
    */
  private def lmQualityScore(s: SparkSession, dir: String): DataFrame = {
    // the corpus-trained model comes from the shared memo (ccnet scores
    // under the same LM — one training aggregate per pass, not two);
    // the score pass recomputes the corpus-grain bigram stream, which
    // is never materialized (see LangModel.bigramTable)
    val bg = LangModel.bigramTable(tPar(s, dir, "documents"), "doc_id",
      "text")
    LangModel.scoreFromBigrams(bg, corpusBigramLm(s, dir))
      .withColumnRenamed("__id", "doc_id")
      .orderBy(col("doc_id"))
  }

  private def dedupExactStats(s: SparkSession, dir: String): DataFrame =
    tPar(s, dir, "documents")
      .select(TextStats.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("n"))
      .agg(
        sum(col("n")).cast("long").as("n_docs"),
        count(lit(1)).as("n_unique"),
        sum(when(col("n") > 1, 1).otherwise(0)).cast("long").as("n_dup_groups"))

  // ----- near-dup detection ---------------------------------------------

  private def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    MinHash.signatures(tPar(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Same signatures via the [[graft.functions.MinHashAgg]]
    * TypedImperativeAggregate over exploded shingles — an independent
    * execution path (partial agg + merge of digest buffers through the
    * shuffle) checked by the same oracle as `minhash_signatures`.
    */
  private def minhashSignaturesAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.MinHashAgg.minhashAgg
    tPar(s, dir, "documents")
      .select(col("doc_id"),
        explode(MinHash.shingles(TextStats.tokens(col("text")))).as("shingle"))
      .groupBy(col("doc_id"))
      .agg(minhashAgg(col("shingle"), 8).as("__sigs"))
      .select(col("doc_id") +: (0 until 8).map(p =>
        element_at(col("__sigs"), p + 1).as(s"sig_$p")): _*)
      .orderBy(col("doc_id"))
  }

  private def minhashDupPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairsT(s, dir)
      .orderBy(col("id_a"), col("id_b"))

  /** Exact near-dup clusters via the opt-in min-label propagation
    * closure, oracle-checked against a recursive-CTE transitive closure.
    * (The library DEFAULT is the alternating closure — exercised by
    * near_dup_clusters_logstar below; this entry keeps the
    * diameter-bound path oracle-covered.)
    */
  private def nearDupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupClustersFromPairs(minhashPairsT(s, dir),
        minEstJaccard = 0.5, alternating = false)
      .orderBy(col("cluster_id"), col("doc_id"))

  /** Same clusters via the DEFAULT alternating large-star/small-star
    * closure — rounds grow with log²(cluster size), not cluster diameter,
    * so deep template chains can't turn the closure into a
    * diameter-length shuffle series. Shares near_dup_clusters'
    * recursive-CTE oracle.
    */
  private def nearDupClustersLogstar(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupClustersFromPairs(minhashPairsT(s, dir),
        minEstJaccard = 0.5)
      .orderBy(col("cluster_id"), col("doc_id"))

  /** Survivors after the single-pass near-dup drop (est Jaccard ≥ 0.5),
    * summarized (count + id sum prove the exact survivor set).
    */
  private def nearDedupSurvivors(s: SparkSession, dir: String): DataFrame =
    Dedup.dropNearDupsFromPairs(tPar(s, dir, "documents"), "doc_id",
        minhashPairsT(s, dir), minEstJaccard = 0.5)
      .agg(count(lit(1)).as("n_survivors"),
        sum(col("doc_id")).cast("long").as("id_sum"))

  private def simhashFingerprints(s: SparkSession, dir: String): DataFrame =
    tPar(s, dir, "documents").select(
        col("doc_id"),
        SimHash.simhash32(TextStats.tokens(col("text"))).as("simhash"))
      .orderBy(col("doc_id"))

  private def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    // Materialize shingle arrays BEFORE the self-join: the shuffle carries
    // each doc's array once, and the pairwise compare reads attributes
    // (inlining the shingle expression into the join output would
    // re-evaluate it per array element).
    val sh = tPar(s, dir, "documents").select(
      col("doc_id"),
      MinHash.shingles(TextStats.tokens(col("text"))).as("sh"))
    val d1 = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val d2 = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    d1.join(d2, col("id_b") === col("id_a") + 1)
      // AQE would coalesce the tiny join output to ~1 partition; spread
      // the O(pairs × shingles) compare back across cores first
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("id_a"), col("id_b"),
        Jaccard.jaccardDistinct(col("sh_a"), col("sh_b")).as("jaccard"))
      .orderBy(col("id_a"))
  }

  /** Top-3 TF-IDF terms for a bounded doc subset (idf from the whole
    * corpus).
    */
  private def tfidfTopTerms(s: SparkSession, dir: String): DataFrame =
    Tfidf.topTerms(tPar(s, dir, "documents"), "doc_id", "text", k = 3)
      .where(col("doc_id") < 50)
      .orderBy(col("doc_id"), col("rank"))

  /** Vocabulary head: top-20 terms by document frequency. */
  private def vocabStats(s: SparkSession, dir: String): DataFrame = {
    val tf = Tfidf.termFrequencies(tPar(s, dir, "documents"), "doc_id", "text")
    Tfidf.vocabulary(tf, "doc_id")
      .select(col("term"), col("df").cast("long").as("df"),
        col("total_tf").cast("long").as("total_tf"))
      .orderBy(col("df").desc, col("term"))
      .limit(20)
  }

  /** Learned BPE merge table ([[Bpe.learnMerges]]): 20 merge rounds
    * over the lowercase-word frequency table of the documents corpus —
    * the op that LEARNS the subword vocabulary the word-piece
    * heuristics ([[TextStats.nWordPieces]]) only approximate. One
    * corpus pass builds the vocab-grain word table; every training
    * round then runs at vocab grain (pair explode+agg, 1-row argmax,
    * map-only merge application). Words capped at 16 chars with
    * passes = 8 ⇒ the iterated-replace greedy is exact, and the
    * unrolled-CTE oracle nests the identical replace count — lockstep
    * by construction.
    */
  /** The BPE word-frequency table: lowercase a-z words ≤ 16 chars
    * (passes = 8 ⇒ the iterated-replace greedy is exact on them).
    */
  private def bpeWords(s: SparkSession, dir: String): DataFrame =
    tPar(s, dir, "documents")
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .where(col("word") =!= "" && length(col("word")) <= 16)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  private def bpeTag(dir: String) = s"bpe:$dir:m20:p8"

  /** DuckDB twin of [[bpeWords]] — identical tokenizer and caps. */
  private val BpeWordsSql =
    """SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
      |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                            x -> x <> '' AND length(x) <= 16)) AS word
      |  FROM documents
      |) GROUP BY 1""".stripMargin

  private def bpeMerges(s: SparkSession, dir: String): DataFrame =
    Bpe.mergesFrame(s, Bpe.learnMergesCached(bpeTag(dir),
        bpeWords(s, dir), "word", "cnt", numMerges = 20, passes = 8))
      .orderBy(col("rank"))

  /** The SAME 20 merges via the batched trainer
    * ([[Bpe.learnMergesBatched]], top-K symbol-disjoint merges per
    * round): the oracle is bpe_merges' sequential-greedy chain
    * verbatim, so the hash certifies the batch selection rules
    * (extended-symbol disjointness, self-pair cut, 2·M barrier)
    * reproduce one-at-a-time greedy on real corpus data — while
    * running ~batchK× fewer Spark rounds, the cure for the sequential
    * trainer's 32k-round cap at production vocabulary sizes.
    */
  private def bpeMergesBatched(s: SparkSession, dir: String): DataFrame =
    Bpe.mergesFrame(s, Bpe.learnMergesBatchedCached(s"bpeb:$dir:m20:p8:k8",
        bpeWords(s, dir), "word", "cnt", numMerges = 20, passes = 8,
        batchK = 8))
      .orderBy(col("rank"))

  /** The SAME 20 merges via the hybrid trainer
    * ([[Bpe.learnMergesLocal]]: distributed corpus pass + bounded
    * vocab-grain collect + in-memory exact greedy — the subword-nmt /
    * HF-tokenizers production shape). The oracle is bpe_merges'
    * sequential chain verbatim, so the hash certifies the in-memory
    * argmax AND the local replica of the `passes`-bounded replace
    * semantics against an independent engine. This is the trainer that
    * removes the one-Spark-round-per-merge cap entirely (measured in
    * BENCH_BPE_SF1.json: 512 merges in ~3.5 s end-to-end vs 140 s
    * distributed, 38.6×), so certifying it is what makes realistic
    * 32k-merge vocabularies practical.
    */
  private def bpeMergesLocal(s: SparkSession, dir: String): DataFrame =
    Bpe.mergesFrame(s, Bpe.learnMergesLocalCached(s"bpel:$dir:m20:p8",
        bpeWords(s, dir), "word", "cnt", numMerges = 20, passes = 8))
      .orderBy(col("rank"))

  /** Corpus tokenization stats under the SAME learned merge table (the
    * memo guarantees one training per JVM): word forms, total subword
    * tokens, distinct subword vocabulary — certifying
    * [[Bpe.applyMerges]] against the twin's final training state.
    */
  private def bpeTokenizeStats(s: SparkSession, dir: String): DataFrame =
    Bpe.tokenizeStats(bpeWords(s, dir), "word", "cnt",
      Bpe.learnMergesCached(bpeTag(dir), bpeWords(s, dir), "word", "cnt",
        numMerges = 20, passes = 8))

  /** Doc-grain tokenization under the SAME learned table (r9): every
    * word occurrence mapped to its subword sequence — merges applied
    * once per DISTINCT form, occurrences mapped by a key-grain join
    * ([[Bpe.tokenizeDocWords]]) — then re-assembled per document in
    * word order. The full subword stream is hashed, so the contract
    * covers the `</w>`-terminated alphabet applied to (here same-corpus)
    * text end to end, not just aggregate token counts.
    */
  private def bpeDocTokens(s: SparkSession, dir: String): DataFrame =
    bpeDocTokensOver(tPar(s, dir, "documents"), s, dir)

  /** [[bpeDocTokens]] restricted to the 1% [[Curation.sampleHash]]
    * document stratum, with the merge table still trained on the FULL
    * corpus. This is the sf100-certifiable form of the contract: the
    * full-stream twin materializes every document's subword stream
    * through the 20-round apply chain — infeasible for single-node
    * DuckDB at 5M docs (the round-10 standing exception) — while the
    * hash-stratified sample keeps the identical end-to-end semantics
    * (full training, real per-doc re-tokenization, byte-hashed streams)
    * at 1/100 the doc grain, deterministically and engine-agnostically
    * keyed so both sides pick the same documents.
    */
  private def bpeDocTokensSample(s: SparkSession, dir: String): DataFrame =
    bpeDocTokensOver(
      tPar(s, dir, "documents")
        .where(Curation.sampleHash(col("doc_id"), 0.01)), s, dir)

  private def bpeDocTokensOver(docs: DataFrame, s: SparkSession,
                               dir: String): DataFrame = {
    val words = docs
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), "[^a-z]+")).as(Seq("pos", "word")))
      .where(col("word") =!= "" && length(col("word")) <= 16)
    val merges = Bpe.learnMergesCached(bpeTag(dir), bpeWords(s, dir),
      "word", "cnt", numMerges = 20, passes = 8)
    Bpe.tokenizeDocWords(words, "word", merges.map(m => (m.lft, m.rgt)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(split(col("syms"), " ")).cast("long")).as("n_subwords"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(pos, syms))), x -> x.syms)"),
          " ").as("subword_stream"))
      .orderBy(col("doc_id"))
  }

  /** Tokenizer-selection eval: per language, the fertility
    * (pieces per word) and compression (chars per piece) of the two
    * trained tokenizer families on the SAME corpus — the comparison a
    * pipeline runs before committing a vocabulary, asked per language
    * because fertility divergence across languages is the standard
    * argument for/against a shared multilingual vocab. Each tokenizer
    * is measured under its OWN word model (BPE's lowercase-alpha forms
    * ≤16 chars, unigram's tokenizer forms ≤32), so the numbers are the
    * ones each family's certified stats queries already pin.
    *
    * Execution shape: both tokenizers run at DISTINCT-FORM grain (the
    * merge chain / Viterbi DP never see occurrence multiplicity), doc
    * occurrences join their form's result key-grain, and the output is
    * |langs| rows. Ratios are exact micro-integers (BIGINT div), so
    * the row hashes cross-engine.
    */
  private def tokenizerFertilityEval(s: SparkSession, dir: String): DataFrame = {
    val docs = tPar(s, dir, "documents")
    val bpeWordsByDoc = docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .where(col("word") =!= "" && length(col("word")) <= 16)
    val merges = Bpe.learnMergesCached(bpeTag(dir), bpeWords(s, dir),
      "word", "cnt", numMerges = 20, passes = 8)
    val bpePerDoc = Bpe.tokenizeDocWords(bpeWordsByDoc, "word",
        merges.map(m => (m.lft, m.rgt)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("bpe_words"),
        sum(size(split(col("syms"), " ")).cast("long")).as("bpe_subwords"),
        sum(length(col("word")).cast("long")).as("bpe_chars"))
    // one unigram-side corpus pass (r12): words, pieces and chars come
    // out of a single occurrence⋈segmentation join instead of
    // docStats + a second wordOccurrences scan for the char sums —
    // same per-doc integers, one tokenize pass fewer
    val occ = UnigramLm.wordOccurrences(docs, "doc_id", "text")
      .localCheckpoint(true)
    val forms = UnigramLm.wordForms(occ)
    val seg = UnigramLm.segmentForms(forms,
      UnigramLm.vocab(UnigramLm.pieceCounts(forms)))
    // materialize the doc-grain result eagerly so the corpus-grain occ
    // checkpoint can release NOW instead of pinning executor memory for
    // the JVM lifetime (r12 ADVICE; doc-grain rows are the
    // safe-to-checkpoint class — they scale with doc count, not corpus
    // bytes)
    val uniPerDoc = occ
      .join(seg.select(col("word"), col("n_pieces")), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("uni_words"),
        sum(col("n_pieces")).as("uni_pieces"),
        sum(length(col("word")).cast("long")).as("uni_chars"))
      .localCheckpoint(true)
    org.apache.spark.sql.graftbridge.CheckpointBridge.release(occ)
    docs.select(col("doc_id"), col("lang"))
      .join(bpePerDoc, Seq("doc_id"), "left")
      .join(uniPerDoc, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("bpe_words"), lit(0L))).as("bpe_words"),
        sum(coalesce(col("bpe_subwords"), lit(0L))).as("bpe_subwords"),
        sum(coalesce(col("bpe_chars"), lit(0L))).as("bpe_chars"),
        sum(coalesce(col("uni_words"), lit(0L))).as("uni_words"),
        sum(coalesce(col("uni_pieces"), lit(0L))).as("uni_pieces"),
        sum(coalesce(col("uni_chars"), lit(0L))).as("uni_chars"))
      .select(col("lang"), col("n_docs"), col("bpe_words"),
        col("bpe_subwords"), col("uni_words"), col("uni_pieces"),
        expr("CASE WHEN bpe_words > 0 THEN (bpe_subwords * 1000000L) div bpe_words ELSE 0L END")
          .as("bpe_fert_micro"),
        expr("CASE WHEN uni_words > 0 THEN (uni_pieces * 1000000L) div uni_words ELSE 0L END")
          .as("uni_fert_micro"),
        expr("CASE WHEN bpe_subwords > 0 THEN (bpe_chars * 1000000L) div bpe_subwords ELSE 0L END")
          .as("bpe_chars_per_tok_micro"),
        expr("CASE WHEN uni_pieces > 0 THEN (uni_chars * 1000000L) div uni_pieces ELSE 0L END")
          .as("uni_chars_per_tok_micro"))
      .orderBy(col("lang"))
  }

  /** Distinct word forms for the keyed SQL apply chain. */
  private val BpeFormsSql =
    """SELECT DISTINCT word FROM (
      |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                            x -> x <> '' AND length(x) <= 16)) AS word
      |  FROM documents)""".stripMargin

  // ----- similarity search ----------------------------------------------

  private def knnCosineBrute(s: SparkSession, dir: String): DataFrame = {
    val emb = tPar(s, dir, "embeddings")
    Similarity.knnBrute(
        emb.where(col("vec_id") < 16), emb, "vec_id", "vec_id", "embedding", k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Diversity-aware retrieval re-rank ([[Similarity.mmrRerank]]):
    * maximal-marginal-relevance selection of 10 from each query's
    * cosine top-20 pool at λ = 0.7 — the post-ANN step that spends a
    * RAG context budget on coverage instead of near-duplicates. Corpus
    * touched once (the broadcast pool build); the 10 selection rounds
    * run at selection grain (|Q|·20 rows). The oracle unrolls the SAME
    * 10 rounds as MATERIALIZED CTEs (DuckDB would otherwise inline the
    * multi-referenced round states multiplicatively), so every pick,
    * tie-break, and 6-rounded score is cross-engine lockstep.
    */
  private def mmrRerankDocs(s: SparkSession, dir: String): DataFrame = {
    val emb = tPar(s, dir, "embeddings")
    Similarity.mmrRerank(emb.where(col("vec_id") < 4), emb,
        "vec_id", "vec_id", "embedding", poolK = 20, selectK = 10,
        lambda = 0.7, mu = 0.3)
      .orderBy(col("query_id"), col("mmr_rank"))
  }

  private def knnCosineBucketed(s: SparkSession, dir: String): DataFrame = {
    val emb = tPar(s, dir, "embeddings")
    Similarity.knnBucketed(
        emb.where(col("vec_id") < 16), emb, "vec_id", "vec_id", "embedding",
        "label", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** ANN via dimension-sign LSH buckets (the no-cluster-id scale path:
    * [[Similarity.signBucket]] partitions the space by the sign bits of
    * the first 4 dimensions).
    */
  private def knnCosineLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = tPar(s, dir, "embeddings")
      .withColumn("bucket", Similarity.signBucket(col("embedding"), 4))
    Similarity.knnBucketed(
        emb.where(col("vec_id") < 16), emb, "vec_id", "vec_id", "embedding",
        "bucket", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Multi-probe variant of [[knnCosineLsh]]: each query also probes the
    * bucket reached by flipping its least-confident sign bit. The oracle
    * replicates the probe selection with a CASE-chain argmin whose
    * tiebreak (lowest index) matches the lexicographic struct sort.
    */
  private def knnCosineMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val emb = tPar(s, dir, "embeddings")
    Similarity.knnMultiProbe(
        emb.where(col("vec_id") < 16), emb, "vec_id", "vec_id", "embedding",
        k = 5, bits = 4, nProbes = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF ANN with a TRAINED coarse quantizer: Lloyd's k-means (init =
    * first k by vec_id, 3 rounds), then probe the 2 nearest centroids
    * per query. The trainer runs through [[Similarity
    * .kMeansCentroidsCached]] so [[ivfOracleEntry]] can emit the EXACT
    * trained floats as literals into the DuckDB twin — the assignment
    * argmax, probe ranking, and top-k are then replicated in SQL and the
    * whole query exact-hash-checks (planted-cluster/recall semantics are
    * additionally pinned in `LlmSpec`).
    */
  private[graft] def ivfTag(dir: String) = s"$dir|ivf-k8-i3"

  private def knnCosineIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = tPar(s, dir, "embeddings")
    val cents = Similarity.kMeansCentroidsCached(ivfTag(dir), emb,
      "vec_id", "embedding", k = 8, iters = 3)
    Similarity.knnIvf(emb.where(col("vec_id") < 16), emb,
        "vec_id", "vec_id", "embedding", cents, k = 5, nProbes = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Calibration curve ([[graft.ops.Eval.calibrationCurve]]) of the
    * stopword-ratio "English-ness" score against the lang='en' label:
    * equal-width micro-score bins (map-only — deliberately NOT ntile's
    * global sort), exact integer counts, observed rate vs mean score
    * per bin. The reliability table every quality/language gate should
    * publish before its threshold is trusted.
    */
  private def calibrationCurveLangid(s: SparkSession, dir: String): DataFrame = {
    val toks = TextStats.tokens(col("text"))
    val hits = size(filter(toks, t =>
      lower(t).isin(TextStats.EnStopwords: _*))).cast("long")
    val n = size(toks).cast("long")
    val hm = hits * lit(1000000L)
    val scoreMicro = when(n > 0L,
      ((hm - pmod(hm, n)) / n).cast("long")).otherwise(0L)
    graft.ops.Eval.calibrationCurve(
        tPar(s, dir, "documents").select(scoreMicro.as("score_micro"),
          (col("lang") === "en").as("label")),
        col("score_micro"), col("label"), nBins = 10)
      .orderBy(col("bin"))
  }

  /** Cross-source duplication matrix at SPAN grain: for every source
    * pair, how many winnow span-fingerprints they share, with the
    * Jaccard of their span sets — the dedup diagnostic that says which
    * feeds copy each other's CONTENT (mirrors, syndication, shared
    * boilerplate) even when no whole document matches byte-for-byte,
    * and therefore which pair a mixing plan double-counts. Exact
    * complement to the HLL `source_overlap_sketch`: fingerprint-grain
    * join (never doc pairs; per-fp fanout ≤ C(|sources|, 2)),
    * source-pair output — |sources|² rows at most.
    */
  private def sourceDupMatrix(s: SparkSession, dir: String): DataFrame = {
    val docs = tPar(s, dir, "documents")
    // three consumers (sizes + both self-join sides) — checkpoint so the
    // winnowing pipeline runs once instead of once per reference
    val fp = Memos.adaptiveCheckpoint(
      TextStats.winnowFingerprints(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .select(col("fp").as("f"), col("source"))
        .distinct())
    val sizes = fp.groupBy(col("source")).agg(count(lit(1)).as("__n"))
    val shared = fp.select(col("f"), col("source").as("source_a"))
      .join(fp.select(col("f").as("__f2"), col("source").as("source_b")),
        col("f") === col("__f2") && col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("source").as("__sa"), col("__n").as("__na")),
        col("source_a") === col("__sa"))
      .join(sizes.select(col("source").as("__sb"), col("__n").as("__nb")),
        col("source_b") === col("__sb"))
      .select(col("source_a"), col("source_b"), col("shared"),
        col("__na").as("n_a"), col("__nb").as("n_b"),
        expr("(shared * 1000000L) div (__na + __nb - shared)")
          .as("jaccard_micro"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Largest-remainder sampling quotas ([[Curation.quotaAllocate]]):
    * 100k-doc budget split across sources by character mass — floored
    * proportional shares topped up by remainder rank so the quotas
    * sum to the budget exactly.
    */
  private def quotaAllocSources(s: SparkSession, dir: String): DataFrame =
    Curation.quotaAllocate(tPar(s, dir, "documents")
        .select(col("source"), col("n_chars")),
        "source", "n_chars", budget = 100000L)
      .orderBy(col("source"))

  /** Top-p curation cut ([[Curation.nucleusSelect]]): per source, the
    * best-half-by-character-mass prefix of documents (score desc,
    * crossing element included) — the quality-budgeted selection a
    * mixing plan executes. Exact long comparisons; group-grain window.
    */
  private def nucleusDocsBySource(s: SparkSession, dir: String): DataFrame =
    Curation.nucleusSelect(tPar(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars")),
        "source", "doc_id", "n_chars", pMicro = 500000L)
      .orderBy(col("source"), col("rank"))

  /** SimHash near-dup pairs ([[SimHash.nearPairs]]): 4×8-bit banded
    * candidates (pigeonhole for Hamming ≤ 3) with the saturated-bucket
    * cap, verified by exact popcount — the constant-space near-dup
    * join completing the simhash family from fingerprints to pairs.
    */
  private def simhashNearPairs(s: SparkSession, dir: String): DataFrame =
    SimHash.nearPairs(tPar(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, maxBucket = 200)
      .orderBy(col("id_a"), col("id_b"))

  /** Hashing-trick features ([[FeatureHash.hashedFeatures]]): signed
    * 64-bucket bag-of-words per document (md5 bucket + sign, no
    * vocabulary anywhere) for a bounded doc slice — the vocabulary-free
    * featurizer a hashed linear quality model consumes.
    */
  private def featureHashDocs(s: SparkSession, dir: String): DataFrame =
    FeatureHash.hashedFeatures(
        tPar(s, dir, "documents").where(col("doc_id") < 200),
        "doc_id", "text", dims = 64)
      .orderBy(col("doc_id"), col("bucket"))

  /** Cluster-quality scorecard for the SAME trained IVF quantizer
    * ([[Similarity.silhouetteSimplified]] over
    * [[Similarity.kMeansCentroidsCached]]'s centroids): per-cluster
    * simplified silhouette, map-only at corpus scale, per-row scores
    * micro-rounded before the exact integer sum. The twin replays the
    * centroid ranking from the trained literals.
    */
  private def silhouetteEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val emb = tPar(s, dir, "embeddings")
    val cents = Similarity.kMeansCentroidsCached(ivfTag(dir), emb,
      "vec_id", "embedding", k = 8, iters = 3)
    Similarity.silhouetteSimplified(emb, "vec_id", "embedding", cents)
      .orderBy(col("bucket"))
  }

  /** Per-label embedding compactness ([[Separability.labelScatter]]):
    * the n-scaled within-class scatter n·Σ‖e‖² − ‖Σe‖² over the shared
    * integer quantization grid — exact BIGINTs, no centroid division,
    * no pairwise work.
    */
  private def labelScatterEmbeddings(s: SparkSession, dir: String): DataFrame =
    Separability.labelScatter(tPar(s, dir, "embeddings"), "label",
      "embedding")

  /** Positional phrase search ([[Retrieval.phraseMatch]]) for the
    * 3-gram "value table part": term-pruned positional postings chained
    * by two (doc, aligned-pos) equi-joins. The twin scans each token
    * array directly — same answer, the shape a single-node engine would
    * use; the postings form is the one that survives 100 TB.
    */
  private def phraseMatchDocs(s: SparkSession, dir: String): DataFrame =
    Retrieval.phraseMatch(tPar(s, dir, "documents"), "doc_id", "text",
        Seq("value", "table", "part"))
      .orderBy(col("doc_id"))

  /** Top principal direction of the embedding corpus
    * ([[graft.ops.Pca.topComponentFixedPoint]]): scatter matrix in
    * exact integer units, 5 power iterations with integer
    * renormalization, deterministic sign orientation — the whole
    * dimensionality-reduction training loop exact-hash-checks against
    * an unrolled SQL twin, the same fixed-point discipline as the
    * PageRank query.
    */
  private def pcaTopComponent(s: SparkSession, dir: String): DataFrame =
    graft.ops.Pca.topComponentFixedPoint(
      tPar(s, dir, "embeddings"), "vec_id", "embedding", iters = 5)

  /** Johnson–Lindenstrauss sign projection 64→32
    * ([[Similarity.jlSignRows]] / [[Similarity.projectSigned]]): every
    * pair among the first 32 vectors gets its squared distance in the
    * original and the projected space, and the JL ratio
    * ‖R(a−b)‖² / (outDims·‖a−b‖²) — concentrated around 1 — is
    * certified inside [0.15, 3.0] by `within_bound` (computed here,
    * literal TRUE in the twin: the hash match IS the envelope proof,
    * the sketch-query pattern; for a χ²₃₂-style ratio the per-pair
    * escape odds are ~1e-9, far beyond the eval slice). The projection
    * is map-only; only the bounded eval slice pairs.
    */
  private def jlProjectionPairs(s: SparkSession, dir: String): DataFrame = {
    val signs = Similarity.jlSignRows(64, 32)
    def dist2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b,
          (x, y) => (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, x) => acc + x)
    val emb = tPar(s, dir, "embeddings").where(col("vec_id") < 32)
      .select(col("vec_id"), col("embedding"),
        Similarity.projectSigned(col("embedding"), signs).as("__pv"))
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("__ea"),
      col("__pv").as("__pa"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("__eb"),
      col("__pv").as("__pb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("__do", dist2(col("__ea"), col("__eb")))
      .withColumn("__dp", dist2(col("__pa"), col("__pb")))
      .withColumn("dist2_orig", round(col("__do"), 6))
      .withColumn("dist2_proj", round(col("__dp"), 6))
      .withColumn("jl_ratio",
        when(col("__do") > 0, round(col("__dp") / (lit(32.0) * col("__do")), 6))
          .otherwise(lit(1.0)))
      .withColumn("within_bound",
        col("jl_ratio") >= 0.15 && col("jl_ratio") <= 3.0)
      .select(col("id_a"), col("id_b"), col("dist2_orig"), col("dist2_proj"),
        col("jl_ratio"), col("within_bound"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Product-quantization ANN ([[Similarity.knnPqAdc]]): 4 subspaces ×
    * 8 sub-centroids trained by the deterministic Lloyd's, corpus
    * encoded to 4 codes/vector, candidates ranked by the ADC
    * approximation, exact cosine re-ranked on the survivors. The twin
    * embeds the trained codebooks as literals (same memo discipline as
    * IVF) and replicates encode + ADC + re-rank in SQL — the whole
    * compressed-index path exact-hash-checks.
    */
  private[graft] def pqTag(dir: String) = s"$dir|pq-m4-k8-i2"

  private def knnCosinePq(s: SparkSession, dir: String): DataFrame = {
    val emb = tPar(s, dir, "embeddings")
    val books = Similarity.pqCodebooksCached(pqTag(dir), emb, "vec_id",
      "embedding", dims = 64, m = 4, k = 8, iters = 2)
    Similarity.knnPqAdc(emb.where(col("vec_id") < 16), emb, "vec_id",
        "vec_id", "embedding", books, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** [[knnCosinePq]] with the exact-cosine refine step over an ADC
    * shortlist 4× the output size; see [[Similarity.knnPqRefined]].
    */
  private def knnCosinePqRefined(s: SparkSession, dir: String): DataFrame = {
    val emb = tPar(s, dir, "embeddings")
    val books = Similarity.pqCodebooksCached(pqTag(dir), emb, "vec_id",
      "embedding", dims = 64, m = 4, k = 8, iters = 2)
    Similarity.knnPqRefined(emb.where(col("vec_id") < 16), emb, "vec_id",
        "vec_id", "embedding", books, k = 5, refine = 4)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-PQ composed index ([[Similarity.knnIvfPq]]): the SAME trained
    * coarse quantizer as `knn_cosine_ivf` routes each query to its 2
    * nearest of 8 buckets, the SAME trained codebooks as
    * `knn_cosine_pq` score the probed candidates by ADC over 4 stored
    * codes, and exact cosine refines the ADC top-20 down to 5 — one
    * training each, three certified consumers, and the candidate scan
    * reads codes for ~2/8 of the corpus instead of floats for all of
    * it. The twin embeds both literal sets and replays route + encode +
    * ADC + refine statement for statement.
    */
  private def knnCosineIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = tPar(s, dir, "embeddings")
    val cents = Similarity.kMeansCentroidsCached(ivfTag(dir), emb,
      "vec_id", "embedding", k = 8, iters = 3)
    val books = Similarity.pqCodebooksCached(pqTag(dir), emb, "vec_id",
      "embedding", dims = 64, m = 4, k = 8, iters = 2)
    Similarity.knnIvfPq(emb.where(col("vec_id") < 16), emb, "vec_id",
        "vec_id", "embedding", cents, books, k = 5, nProbes = 2, refine = 4)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Rank-biased overlap@10 ([[graft.ops.Eval.rbo]], p = 0.9) between
    * the exact cosine ranking and the label-bucketed ANN ranking, per
    * query — the top-weighted agreement score an index rollout gates
    * on ("how much of what the exact ranking puts first does the index
    * still surface first?"). Contributions sum as exact nanos, so the
    * per-query score is order-independent and twin-expressible.
    */
  private def annRboEval(s: SparkSession, dir: String): DataFrame = {
    val emb = tPar(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < 16)
    val brute = Similarity.knnBrute(q, emb, "vec_id", "vec_id",
      "embedding", k = 10)
    val bucketed = Similarity.knnBucketed(q, emb, "vec_id", "vec_id",
      "embedding", "label", k = 10)
    graft.ops.Eval.rbo(brute, bucketed, "query_id", "neighbor_id",
        "rank", p = 0.9, k = 10)
      .orderBy(col("query_id"))
  }

  /** Sampled slice (vec_id % 8 = 0) so the within-bucket pair count stays
    * bounded at bench scale; threshold low enough to emit real pairs on
    * random data.
    */
  private def embeddingNearDups(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDups(
        tPar(s, dir, "embeddings").where(col("vec_id") % 8 === 0),
        "vec_id", "embedding", "label", threshold = 0.3)
      .orderBy(col("id_a"), col("id_b"))

  // ----- curation (PII / contamination / sampling / repetition) ----------

  /** The documents table carries no real PII, so the query grafts a
    * deterministic contact tail (email + phone + IP derived from doc_id)
    * onto every text and proves the scrubber removes it: placeholder
    * counts per rule plus an md5 of the scrubbed text, exact on both
    * engines.
    */
  private def piiScrubStats(s: SparkSession, dir: String): DataFrame = {
    val raw = tPar(s, dir, "documents").select(
      col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail.example.com"),
        lit(" or call 555-"), lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
        lit("-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" from 10.0."), pmod(col("doc_id"), lit(256)), lit(".7")).as("raw"))
    val scrubbed = raw.select(col("doc_id"),
      Curation.scrubPii(col("raw")).as("scrubbed"))
    scrubbed.select(
        col("doc_id"),
        Curation.redactionCount(col("scrubbed"), "<EMAIL>").as("n_emails"),
        Curation.redactionCount(col("scrubbed"), "<PHONE>").as("n_phones"),
        Curation.redactionCount(col("scrubbed"), "<IP>").as("n_ips"),
        Curation.redactionCount(col("scrubbed"), "<LONGNUM>").as("n_longnums"),
        md5(col("scrubbed")).as("fp_scrubbed"))
      .orderBy(col("doc_id"))
  }

  /** Train/test contamination sweep: every 50th document plays the
    * benchmark set; corpus docs sharing ≥3 distinct 3-gram shingles with a
    * benchmark doc are flagged. Shingle-grain equi-join — the scale path.
    */
  private def benchmarkContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = tPar(s, dir, "documents")
    Curation.contamination(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0),
        "doc_id", "text", minShared = 3)
      .select(col("corpus_id"), col("bench_id"),
        col("n_shared_shingles").cast("long").as("n_shared_shingles"))
      .orderBy(col("corpus_id"), col("bench_id"))
  }

  /** Per-language stratum fractions for the deterministic sampler demo. */
  private val SampleFractions: Map[String, Double] = Map(
    "en" -> 0.5, "de" -> 0.25, "fr" -> 0.1, "es" -> 0.05, "zh" -> 1.0)

  /** Deterministic stratified sample (integer-hash keep decision, no RNG)
    * aggregated to per-stratum counts — same rows kept on every engine,
    * so the oracle is exact, not statistical.
    */
  private def stratifiedSampleStats(s: SparkSession, dir: String): DataFrame =
    Curation.stratifiedSample(
        tPar(s, dir, "documents"), "doc_id", "lang", SampleFractions)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("doc_id")).cast("long").as("id_sum"))
      .orderBy(col("lang"))

  /** Source mixture weights for the deterministic data-mixing demo. */
  private val MixWeights: Map[String, Double] = Map(
    "src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.25, "src3" -> 0.5)

  /** Deterministic weighted source mixing, aggregated per source (counts
    * and id sums prove the exact replicated/sampled row multiset).
    */
  private def weightedMixStats(s: SparkSession, dir: String): DataFrame =
    Curation.weightedMix(
        tPar(s, dir, "documents"), "doc_id", "source", MixWeights)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("doc_id")).cast("long").as("id_sum"))
      .orderBy(col("source"))

  /** Sliding-window document chunking (64-token chunks, stride 48) for a
    * bounded doc subset; chunk text itself is hash-compared.
    */
  private def docChunks(s: SparkSession, dir: String): DataFrame =
    Curation.chunkTokens(
        tPar(s, dir, "documents").where(col("doc_id") < 100)
          .select(col("doc_id"), TextStats.tokens(col("text")).as("toks")),
        "toks", size = 64, stride = 48)
      .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
        col("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Concat-and-chunk packing plan at a 512-token budget. Global window
    * here (demo corpus); production passes `shardCol` to pack per shard.
    */
  private def packingPlan(s: SparkSession, dir: String): DataFrame = {
    val toks = tPar(s, dir, "documents")
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    Curation.concatChunkPlan(toks, "doc_id", "n_tokens", budget = 512)
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        col("chunk_id"), col("offset_in_chunk"))
      .orderBy(col("doc_id"))
  }

  /** Globally contiguous packing offsets via the sharded two-stage form
    * (per-shard windows + broadcast shard bases); the oracle computes ONE
    * global window over the same (shard, doc_id) order — equal hashes
    * prove the decomposition exact.
    */
  private def packingPlanGlobal(s: SparkSession, dir: String): DataFrame = {
    val toks = tPar(s, dir, "documents")
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"), pmod(col("doc_id"), lit(8L)).as("shard"),
        size(col("toks")).cast("long").as("n_tokens"))
    Curation.concatChunkPlanGlobal(toks, "doc_id", "n_tokens",
        budget = 512, shardCol = "shard")
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        col("start_offset"), col("chunk_id"), col("offset_in_chunk"))
      .orderBy(col("doc_id"))
  }

  /** The whole curation funnel (quality/repetition filter → exact dedup →
    * 50% deterministic sample) aggregated per predicted language. Only
    * order-independent aggregates (counts, id sums, min/max) so the
    * result is exact — an accumulated double sum would be
    * summation-order-dependent across engines.
    */
  private def curatedCorpusStats(s: SparkSession, dir: String): DataFrame =
    Curation.curateCorpus(
        tPar(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text",
        minQuality = 0.5, maxDupTokenRatio = 0.9, sampleFraction = 0.5)
      .groupBy(col("lang_pred"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("id_sum"),
        round(min(col("quality_score")), 6).as("min_quality"),
        round(max(col("quality_score")), 6).as("max_quality"))
      .orderBy(col("lang_pred"))

  /** Within-document repetition: token- and shingle-level duplicate
    * ratios. Arrays materialize as columns once (HOF re-evaluation trap);
    * the ratios read attributes.
    */
  private def repetitionStats(s: SparkSession, dir: String): DataFrame = {
    val arrs = tPar(s, dir, "documents")
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        Curation.shinglesAll(col("toks")).as("sh"))
    arrs.select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        round(Curation.dupRatioOf(col("toks")), 6).as("dup_token_ratio"),
        round(Curation.dupRatioOf(col("sh")), 6).as("dup_shingle_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style n-gram repetition: character mass of the single most
    * frequent 2-/3-gram and of all duplicated 5-grams, per document
    * ([[Repetition.signals]] — one explode pass serves every n).
    */
  private def ngramRepetition(s: SparkSession, dir: String): DataFrame =
    Repetition.signals(tPar(s, dir, "documents"), "doc_id", "text",
        topNs = Seq(2, 3), dupNs = Seq(2, 5))
      .orderBy(col("doc_id"))

  // ----- multimodal ------------------------------------------------------

  private def multimodalFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeFeatures(
        Multimodal.mediaFromDocuments(tPar(s, dir, "documents")))
      .orderBy(col("media_id"))

  /** Aspect-fit resize targets (into 224×224, integer math) for the image
    * subset of the decoded metadata.
    */
  private def resizePlan(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizePlan(
        Multimodal.decodeFeatures(
          Multimodal.mediaFromDocuments(tPar(s, dir, "documents"))),
        maxW = 224, maxH = 224)
      .orderBy(col("media_id"))

  /** Even-stride frame sampling plan (≤8 frames per clip) over the
    * decoded metadata — which frames a downstream decoder should extract.
    */
  private def frameSamplePlan(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameSamplePlan(
        Multimodal.decodeFeatures(
          Multimodal.mediaFromDocuments(tPar(s, dir, "documents"))),
        maxFrames = 8)
      .orderBy(col("media_id"), col("frame_idx"))

  /** STFT-shaped audio windows (2048 wide, hop 1024) over the stub
    * decoder's sample counts; see [[Multimodal.audioWindowPlan]].
    */
  private def audioWindowPlanQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioWindowPlan(
        Multimodal.decodeFeatures(
          Multimodal.mediaFromDocuments(tPar(s, dir, "documents"))),
        winSamples = 2048, hopSamples = 1024)
      .orderBy(col("media_id"), col("win_idx"))

  /** Byte-exact image-header contract (r9): the first L header bytes of
    * every image-like payload as hex ALONGSIDE the codegen'd parse of
    * those same bytes. The DuckDB twin CONSTRUCTS the identical header
    * hex from the fixture formulas and re-derives every field by hex
    * slicing + bit arithmetic, so a hash match proves (a) the builder's
    * bytes are what the formulas say, byte for byte, and (b)
    * [[graft.functions.MediaHeaderSniff]]'s byte-walk extracts exactly
    * the spec fields from them. L covers the parsed fields and stops
    * before the first CRC (PNG 28 = signature..filter byte, JPEG 30 =
    * SOI..SOF0 component count, GIF 13 = header + logical screen
    * descriptor).
    */
  private def imageHeaderStats(s: SparkSession, dir: String): DataFrame = {
    val m = graft.functions.MediaHeaderSniff.sniff(col("payload"))
    Multimodal.mediaFromDocuments(tPar(s, dir, "documents"))
      .select(col("media_id"), col("payload"), m.as("m"))
      .select(col("media_id"),
        col("m.format").as("format"),
        col("m.width").as("width"), col("m.height").as("height"),
        col("m.bit_depth").as("bit_depth"), col("m.channels").as("channels"),
        col("payload"))
      .where(col("format").isin("png", "jpeg", "gif"))
      .withColumn("header_hex",
        hex(col("payload").substr(lit(1),
          when(col("format") === "png", lit(28))
            .when(col("format") === "jpeg", lit(30))
            .otherwise(lit(13)))))
      .drop("payload")
      .orderBy(col("media_id"))
  }

  /** Byte-exact MP4/ISO-BMFF contract (the video container the
    * PNG/JPEG/GIF/WAV family doesn't cover): every document builds a
    * real minimal MP4 ([[graft.functions.Mp4FixturePayload]] —
    * ftyp + moov(mvhd + tkhd-only traks) + mdat, valid box sizes), and
    * [[graft.functions.MediaHeaderSniff]]'s box walk parses back the
    * ftyp brand, mvhd duration·1000/timescale, trak count, and the
    * first video tkhd's 16.16 dimensions. The emitted `header_hex` is
    * the payload's first 240 bytes (ftyp + moov header + mvhd + first
    * trak); the DuckDB twin CONSTRUCTS that identical hex from the
    * fixture formulas and re-derives every parsed field by hex slicing
    * + integer arithmetic — a hash match certifies builder bytes AND
    * parser fields, never echoed formulas.
    */
  private def videoHeaderStats(s: SparkSession, dir: String): DataFrame = {
    val m = graft.functions.MediaHeaderSniff.sniff(col("payload"))
    tPar(s, dir, "documents")
      .select(col("doc_id").cast("long").as("media_id"),
        coalesce(octet_length(col("text")), lit(0)).cast("long").as("n"))
      .select(col("media_id"),
        graft.functions.Mp4FixturePayload
          .payload(col("media_id"), col("n")).as("payload"))
      .select(col("media_id"), col("payload"), m.as("m"))
      .select(col("media_id"),
        col("m.format").as("format"), col("m.brand").as("brand"),
        col("m.duration_ms").as("duration_ms"),
        col("m.n_tracks").as("n_tracks"),
        col("m.width").as("width"), col("m.height").as("height"),
        hex(col("payload").substr(lit(1), lit(240))).as("header_hex"))
      .orderBy(col("media_id"))
  }

  /** Domain-cap curation: at most 10 docs per source, kept in
    * deterministic hash order via the bounded-heap top-k (the oracle is
    * the `row_number` window form — equality proves the heap path).
    */
  private def sourceCapStats(s: SparkSession, dir: String): DataFrame =
    Curation.sourceCap(t(s, dir, "documents"), "doc_id", "source", cap = 10)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("source"))

  /** LSH candidates verified by exact prefix edit distance — the
    * confirmation stage sketches can't provide. The oracle reruns the
    * same candidate generation and DuckDB's own `levenshtein`.
    */
  private def editSimPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = tPar(s, dir, "documents")
    val cands = minhashPairsT(s, dir)
      .where(col("est_jaccard") >= 0.5)
    Dedup.editDistancePairs(docs, "doc_id", "text", cands, prefixLen = 200)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Cross-document boilerplate stripping over deterministic 8-token
    * "lines" (the corpus text is single-line, so the query materializes
    * a line structure both engines can rebuild bit-identically): lines
    * appearing in ≥ 2 distinct docs drop, texts reassemble in order.
    */
  private def boilerplateStripStats(s: SparkSession, dir: String): DataFrame = {
    val docs = tPar(s, dir, "documents")
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 1)
    val lined = docs.select(col("doc_id"),
      array_join(
        transform(sequence(lit(0), floor((size(col("toks")) - 1) / 8).cast("int")),
          i => array_join(slice(col("toks"), i * 8 + 1, lit(8)), " ")),
        "\n").as("text"))
    Boilerplate.stripBoilerplate(lined, "doc_id", "text", minDocs = 2)
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        md5(col("text")).as("kept_md5"))
      .orderBy(col("doc_id"))
  }

  /** SemDeDup over the embeddings: k-means clusters (the SAME cached
    * training as the IVF query — one Lloyd run serves both), within-
    * cluster cosine pairs at ≥ 0.3, one min-id survivor per connected
    * component. The oracle replays assignment + pairing + recursive
    * closure over the trained centroids as literals.
    */
  private def semanticDedupStats(s: SparkSession, dir: String): DataFrame = {
    val emb = tPar(s, dir, "embeddings")
    val cents = Similarity.kMeansCentroidsCached(ivfTag(dir),
      tPar(s, dir, "embeddings"), "vec_id", "embedding", k = 8, iters = 3)
    Dedup.semanticDedupSurvivors(emb, "vec_id", "embedding", cents,
        threshold = 0.3)
      .agg(count(lit(1)).as("n_docs"), sum(col("vec_id")).as("id_sum"))
  }

  /** (name, weight) for the canonical 80/10/10 corpus split — shared by
    * the Spark query and its oracle so the cut points agree by
    * construction.
    */
  private val SplitWeights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Deterministic train/val/test assignment ([[Curation.datasetSplit]]),
    * summarized per split. The oracle replays the same (id, seed) hash
    * arithmetic, so a hash match certifies every document landed in the
    * same split on both engines — the reproducibility property itself.
    */
  private def datasetSplitStats(s: SparkSession, dir: String): DataFrame =
    tPar(s, dir, "documents")
      .groupBy(Curation.datasetSplit(col("doc_id"), SplitWeights).as("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("n_chars_total"))
      .orderBy(col("split"))

  /** EXACT shingle-set similarity join via PPJoin prefix filtering
    * ([[SetSim.prefixFilterPairs]]): every pair at Jaccard ≥ 0.6, found
    * from rare-prefix candidates only. The ORACLE brute-forces all
    * pairs — the Spark side never does — so the hash match is an
    * exactness proof of the pruning at gate scale.
    */
  private def setsimPrefixPairs(s: SparkSession, dir: String): DataFrame =
    SetSim.prefixFilterPairs(tPar(s, dir, "documents"), "doc_id", "text",
        threshold = 0.6)
      .orderBy(col("id_a"), col("id_b"))

  /** Blocked sorted-neighborhood pairs ([[SetSim
    * .sortedNeighborhoodPairs]]): block on `lang`, collate by `n_chars`
    * (near-dups have near-equal lengths), compare within 10 positions.
    * Deliberately approximate — the spec measures recall vs brute
    * force; the oracle certifies the window semantics exactly.
    */
  private def setsimSnmPairs(s: SparkSession, dir: String): DataFrame =
    SetSim.sortedNeighborhoodPairs(tPar(s, dir, "documents"), "doc_id",
        "text", "lang", col("n_chars"), window = 10, threshold = 0.4)
      .orderBy(col("id_a"), col("id_b"))

  /** Sparse TF-IDF cosine pairs ([[Tfidf.sparseCosinePairs]]) over the
    * df≤50 word-3-gram vocabulary — similarity search with no
    * embeddings, candidates from the inverted index. N-gram grain, not
    * unigram: this corpus's 31-term unigram vocabulary is universal per
    * doc (df ≥ 250 at sf0.1 — a unigram tf-idf weighs nothing), while
    * n-gram frequencies keep discriminating at every scale. Integer
    * micro-unit weights make the norms and dots exact cross-engine; the
    * oracle replays the same grid.
    */
  private def sparseCosinePairsQ(s: SparkSession, dir: String): DataFrame =
    Tfidf.sparseCosinePairs(tPar(s, dir, "documents"), "doc_id", "text",
        maxDf = 50L, threshold = 0.3, ngram = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** Zipf-law fit ([[Tfidf.zipfFit]]) over the top-20 unigram
    * vocabulary — corpus-shape diagnostic; integer micro-unit logs make
    * the regression moments exact, so the slope hash-matches the
    * DuckDB replay bit-for-bit.
    */
  private def zipfFitQ(s: SparkSession, dir: String): DataFrame =
    Tfidf.zipfFit(tPar(s, dir, "documents"), "doc_id", "text", topK = 20)
      .select(col("corpus"), col("n"),
        round(col("slope"), 6).as("slope"),
        round(col("intercept"), 6).as("intercept"))

  /** Query-term list shared by the BM25 query and its oracle. */
  private val Bm25Query = Seq("customer", "merge", "vector", "stream")

  /** Top-15 documents for a 4-term query under BM25
    * ([[graft.llm.Retrieval]]): exact-integer micro-unit score sums,
    * ties on doc_id.
    */
  private def bm25TopDocs(s: SparkSession, dir: String): DataFrame =
    Retrieval.bm25TopDocs(tPar(s, dir, "documents"), "doc_id", "text",
      Bm25Query, k = 15)

  /** Segment-grain CCNet dedup ([[graft.llm.SegmentDedup]]): 16-token
    * non-overlapping segments, corpus-wide first-occurrence keep, one
    * row per EDITED document (n_segs, n_removed, surviving-segment
    * digest). The digest is order-sensitive, so the hash certifies the
    * engines kept the same segments in the same positions.
    */
  private def segmentDedupDocs(s: SparkSession, dir: String): DataFrame =
    SegmentDedup.docStats(tPar(s, dir, "documents"), "doc_id", "text",
        w = 16)
      .orderBy(col("doc_id"))

  /** Hybrid retrieval: dense cosine top-20 ([[Similarity.knnBrute]])
    * fused with lexical document-as-query BM25 top-20
    * ([[Retrieval.bm25DocQueries]]) by reciprocal-rank fusion
    * ([[Retrieval.rrfFuse]], kRrf = 60), top-10 per query. Queries are
    * ids < 8 on both sides — vec_id and doc_id are the same id space
    * by fixture construction, which is exactly the hybrid-retrieval
    * setup (one corpus, a dense and a lexical index over it).
    */
  private def hybridRrfDocs(s: SparkSession, dir: String): DataFrame = {
    val dense = Similarity.knnBrute(
        tPar(s, dir, "embeddings").where(col("vec_id") < 8),
        tPar(s, dir, "embeddings"), "vec_id", "vec_id", "embedding",
        k = 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    val lex = Retrieval.bm25DocQueries(tPar(s, dir, "documents"),
        "doc_id", "text", col("doc_id") < 8, k = 20)
      .select(col("query_id"), col("doc_id"), col("rank"))
    Retrieval.rrfFuse(dense, lex, "doc_id", k = 10)
  }

  /** Monroe-style log-odds characteristic terms ([[graft.llm.LogOdds]])
    * of the English slice vs the rest, informative Dirichlet prior
    * alpha0 = 100.
    */
  private def logOddsTerms(s: SparkSession, dir: String): DataFrame =
    LogOdds.characteristicTerms(tPar(s, dir, "documents"), "doc_id",
      "text", col("lang") === "en", alpha0 = 100.0, topK = 20)

  // Fellegi–Sunter field models shared by the linkage query and its
  // oracle (m = agreement rate among matches, u = among non-matches)
  private val LinkSourceMU = (0.9, 0.3)
  private val LinkLenMU = (0.95, 0.2)
  private val LinkTextMU = (0.98, 0.02)
  private val LinkUpper = 4.0
  private val LinkLower = -4.0

  /** End-to-end entity-resolution composition: sorted-neighborhood
    * candidates (UNGATED — disagreeing pairs are signal here) scored by
    * the Fellegi–Sunter model ([[graft.ops.Linkage]]) over three
    * fields (source agreement, length within 5%, shingle-Jaccard ≥
    * 0.5) and classified into match / possible / non_match. Integer
    * micro-ln weights make every score an exact sum; the oracle embeds
    * the identical weight literals via `Linkage.weightsMicro`.
    */
  private def linkageSnmScores(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Linkage
    val docs = tPar(s, dir, "documents")
    val cand = SetSim.sortedNeighborhoodPairs(docs, "doc_id", "text",
      "lang", col("n_chars"), window = 10, threshold = 0.0)
    val attrs = docs.select(col("doc_id"), col("source"), col("n_chars"))
    val withAttrs = cand
      .join(attrs.select(col("doc_id").as("id_a"), col("source").as("src_a"),
        col("n_chars").as("len_a")), Seq("id_a"))
      .join(attrs.select(col("doc_id").as("id_b"), col("source").as("src_b"),
        col("n_chars").as("len_b")), Seq("id_b"))
    val fields = Seq(
      Linkage.FieldModel("source", col("src_a") === col("src_b"),
        LinkSourceMU._1, LinkSourceMU._2),
      Linkage.FieldModel("length",
        abs(col("len_a") - col("len_b")) * 20 <=
          greatest(col("len_a"), col("len_b")),
        LinkLenMU._1, LinkLenMU._2),
      Linkage.FieldModel("text", col("jaccard") >= 0.5,
        LinkTextMU._1, LinkTextMU._2))
    Linkage.classifyPairs(withAttrs, fields, upper = LinkUpper,
        lower = LinkLower)
      .groupBy(col("verdict"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"))
      .orderBy(col("verdict"))
  }

  // DSIR contract constants shared with the oracle twins
  private val DsirDims = 256
  private val DsirTarget = "src0"
  private val DsirK = 100

  /** Shared DSIR weight table ([[graft.llm.Dsir]]): hashed unigram+
    * bigram features in [[DsirDims]] buckets, target model fit on the
    * `source = src0` slice, raw model on the full pool; every document
    * keeps a row (no-feature docs score 0). Feeds both DSIR queries.
    */
  /** [[dsirWeightsTrain]] memoized per (app, sfDir): the weight table is
    * the shared intermediate BOTH dsir queries are defined over (the
    * LPA-labels pattern — one training feeds its consumer family; the
    * bench resets memos between passes so every pass pays it once). The
    * frame is doc-grain, so the checkpoint scales with document count,
    * not corpus bytes — [[Memos.adaptiveCheckpoint]] picks the storage
    * level.
    */
  private def dsirWeights(s: SparkSession, dir: String): DataFrame =
    dsirWeightsMemo.session(s, dir) {
      Memos.adaptiveCheckpoint(dsirWeightsTrain(s, dir))
    }

  private def dsirWeightsTrain(s: SparkSession, dir: String): DataFrame = {
    val docs = tPar(s, dir, "documents")
    val feats = Dsir.hashedNgramCounts(docs, "doc_id", "text", DsirDims)
      .localCheckpoint(true) // featurization pays once: raw model + scoring
    // the target model re-featurizes the FILTERED slice (map-only scan)
    // rather than shuffling the corpus-wide feature table against a
    // target-id list — at 100 TB a second map pass over the slice is
    // cheaper than one doc-grain shuffle of everything
    val tModel = Dsir.bucketModel(
      Dsir.hashedNgramCounts(docs.where(col("source") === DsirTarget),
        "doc_id", "text", DsirDims), DsirDims)
    val rModel = Dsir.bucketModel(feats, DsirDims)
    val w = Dsir.importanceWeights(feats, "doc_id", tModel, rModel)
    docs.select(col("doc_id"), col("source"))
      .join(w, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("logw_nano"), lit(0L)).as("logw_nano"))
  }

  /** Per-document DSIR log importance weights (exact nano-unit BIGINTs
    * — see [[graft.llm.Dsir.importanceWeights]]).
    */
  private def dsirImportanceWeights(s: SparkSession,
                                    dir: String): DataFrame =
    dsirWeights(s, dir).orderBy(col("doc_id"))

  /** DSIR Gumbel-top-k resample: [[DsirK]] documents drawn without
    * replacement with probability ∝ importance weight, via the
    * hash-deterministic Gumbel key ([[graft.llm.Dsir.gumbelTopK]]).
    */
  private def dsirGumbelSample(s: SparkSession, dir: String): DataFrame = {
    val w = dsirWeights(s, dir)
    Dsir.gumbelTopK(w, "doc_id", DsirK)
      .join(tPar(s, dir, "documents").select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .select(col("sample_rank"), col("doc_id"), col("source"),
        col("key_nano"))
      .orderBy(col("sample_rank"))
  }

  /** CCNet perplexity partition ([[graft.llm.LangModel.tertileByGrid]]):
    * score every document with the corpus char-bigram LM, floor the
    * mean log-likelihood onto an exact integer milli-nat grid, and cut
    * each language into head/middle/tail tertiles from the grid's
    * cumulative counts — cutoff-then-map-only, never a per-language
    * document sort. Output at (lang, bucket) grain.
    */
  private def ccnetPplBuckets(s: SparkSession, dir: String): DataFrame = {
    val docs = tPar(s, dir, "documents")
    val bg = LangModel.bigramTable(docs, "doc_id", "text")
    // model from the shared corpus-LM memo (see corpusBigramLm)
    val sums = LangModel.scoreSumsFromBigrams(bg, corpusBigramLm(s, dir))
    // floor(mean_lp · 1000) as exact long arithmetic: a floordiv of
    // lp_sum by n_bigrams·1e6 — |lp_sum| stays ≪ 2^53 for any document
    // under ~4e5 bigrams, so the double steps are exact
    val b = col("n_bigrams") * lit(1000000L)
    val mMilli = ((col("lp_sum") - pmod(col("lp_sum"), b)) / b)
      .cast("long")
    // DOC-grain (one small row per document — scales with doc count,
    // not corpus bytes), so unlike the bigram stream it is safe to
    // checkpoint; the tertile machinery consumes it on three branches
    // (grid, totals, bucket join) that would otherwise re-run the
    // whole score pass each
    val scored = sums
      .select(col("__id").as("doc_id"), col("n_bigrams"),
        mMilli.as("m_milli"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .localCheckpoint(true)
    LangModel.tertileByGrid(scored, "lang", "m_milli")
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("m_milli")).as("min_milli"),
        max(col("m_milli")).as("max_milli"),
        sum(col("n_bigrams")).as("n_bigrams"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** Stupid Backoff held-out scoring ([[graft.llm.StupidBackoff]]):
    * train the raw-count trigram model on the `pmod(doc_id,5) != 0`
    * slice, score the held-out 20% per document — position count,
    * per-level hit counts (how often the trigram/bigram/unigram level
    * fired), and the exact BIGINT nano-unit log-score sum.
    */
  private def sboHeldoutScores(s: SparkSession, dir: String): DataFrame =
    StupidBackoff.heldoutDocScores(tPar(s, dir, "documents"), "doc_id",
        "text")
      .orderBy(col("doc_id"))

  // NB classifier contract: the language classes, sorted — shared by
  // the Spark query and the generated oracle twin
  private val NbLangs = Seq("de", "en", "es", "fr", "zh")

  /** Cross-language LM transfer matrix — the domain-similarity signal
    * behind data-mixing decisions (score corpus A under corpus B's LM;
    * low cross-entropy = transferable): one char-bigram model per
    * language from the 80% train split ([[graft.llm.LangModel]]
    * smoothing per model), every held-out document scored under ALL
    * five models in one pass. The five models pivot WIDE at bigram
    * grain (≤ 5·|alphabet|² rows, broadcast); per-model OOV defaults
    * are 5 bounded driver-collected literals; per-document sums are
    * BIGINT nano-units. Output long form at (actual_lang, model_lang)
    * grain: 25 rows of exact integers.
    */
  private def langXentMatrix(s: SparkSession, dir: String): DataFrame = {
    val docs = tPar(s, dir, "documents")
    val isHeld = pmod(col("doc_id"), lit(5L)) === 0
    val bg = docs.select(col("doc_id"), col("lang"),
      explode(LangModel.charBigrams(col("text"))).as("bigram"))
    val train = bg.where(!isHeld)
    // per-lang counts, totals and add-one lp — all at model grain.
    // Checkpointed (small): read by totals, the model join AND the
    // driver-side totals.collect() below.
    val counts = Memos.adaptiveCheckpoint(
      train.groupBy(col("lang"), col("bigram"))
        .agg(count(lit(1)).as("cnt")))
    val totals = counts.groupBy(col("lang"))
      .agg(sum(col("cnt")).as("__t"), count(lit(1)).as("__v"))
    val model = counts.join(totals, Seq("lang"))
      .select(col("lang"), col("bigram"),
        round(log((col("cnt").cast("double") + 1.0) /
          (col("__t").cast("double") + col("__v").cast("double"))) *
          lit(1e9)).cast("long").as("lp_nano"))
    // bounded collect: 5 rows -> per-model OOV literals on the same
    // HALF_UP grid as engine round() (LangModel.unseenLpNano)
    val tv = totals.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def oovNano(l: String): Long = {
      val (t, v) = tv(l)
      BigDecimal(math.log(1.0 / (t.toDouble + v.toDouble)) * 1e9)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    // pivot the 5 models wide at bigram grain; score held-out bigrams
    // with one equi-join
    val wideCols = NbLangs.map(l =>
      max(when(col("lang") === l, col("lp_nano"))).as(s"lp_$l"))
    val wide = model.groupBy(col("bigram"))
      .agg(wideCols.head, wideCols.tail: _*)
    val sumCols = NbLangs.map(l =>
      sum(coalesce(col(s"lp_$l"), lit(oovNano(l)))).as(s"s_$l"))
    val aggCols = count(lit(1)).as("nb") +: sumCols
    val perDoc = bg.where(isHeld)
      .join(wide, Seq("bigram"), "left")
      .groupBy(col("doc_id"), col("lang"))
      .agg(aggCols.head, aggCols.tail: _*)
    // long form: one row per (actual, model)
    val stacked = perDoc.select(col("lang").as("actual_lang"), col("nb"),
      expr(NbLangs.map(l => s"'$l', s_$l")
        .mkString(s"stack(${NbLangs.size}, ", ", ", ")"))
        .as(Seq("model_lang", "lp")))
    stacked.groupBy(col("actual_lang"), col("model_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nb")).as("n_bigrams"),
        sum(col("lp")).as("lp_nano_sum"))
      .orderBy(col("actual_lang"), col("model_lang"))
  }

  /** Trained language-ID: multinomial Naive Bayes
    * ([[graft.llm.NaiveBayes]]) on the 80% train split over `lang`,
    * confusion matrix on the held-out 20% — the statistical
    * counterpart of the stopword-heuristic `lang_id_*` family, and
    * exact BIGINT end to end.
    */
  private def nbLangConfusion(s: SparkSession, dir: String): DataFrame =
    NaiveBayes.confusion(tPar(s, dir, "documents"), "doc_id", "text",
      "lang", NbLangs)

  // hard-negative band, shared with the twin: above random cosine
  // noise, below the near-duplicate zone
  private val HardNegLo = 0.15
  private val HardNegHi = 0.45

  /** Leakage-safe dataset splits: assign near-dup CLUSTERS to
    * train/val/test, not documents — a doc-hash split puts two
    * near-duplicates on opposite sides of the train/test fence and the
    * eval silently measures memorization (the C4/Pile dedup-then-split
    * discipline). Both strategies computed side by side with the same
    * certified split function ([[graft.llm.Curation.datasetSplit]]) —
    * on `doc_id` (naive) and on the closure's `group_id` (singletons =
    * their own group) — and the leak is MEASURED: a group is leaky
    * under a strategy if its documents span >1 split. Cluster-hash
    * rows must show zero by construction; the doc-hash rows show the
    * damage the naive split would do.
    */
  private def leakageSafeSplits(s: SparkSession, dir: String): DataFrame = {
    val docs = tPar(s, dir, "documents")
    val clusters = Dedup.nearDupClustersFromPairs(minhashPairsT(s, dir),
      minEstJaccard = 0.5, alternating = true)
    val grouped = docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("group_id"))
    val both = grouped.select(col("doc_id"), col("group_id"),
      Curation.datasetSplit(col("doc_id"), SplitWeights).as("naive"),
      Curation.datasetSplit(col("group_id"), SplitWeights).as("grouped"))
    val stacked = both.select(col("doc_id"), col("group_id"),
      expr("stack(2, 'doc_hash', naive, 'cluster_hash', grouped)")
        .as(Seq("strategy", "split")))
    val gs = stacked.groupBy(col("strategy"), col("group_id"))
      .agg(countDistinct(col("split")).as("__nsplits"))
    stacked.join(gs, Seq("strategy", "group_id"))
      .groupBy(col("strategy"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("group_id")).as("n_groups"),
        countDistinct(when(col("__nsplits") > 1, col("group_id")))
          .as("n_leaky_groups"))
      .orderBy(col("strategy"), col("split"))
  }

  /** Hard-negative mining ([[graft.llm.Similarity.hardNegatives]]):
    * per query, the top-10 corpus vectors in the [0.15, 0.45] cosine
    * band with same-fingerprint (near-identical content) candidates
    * excluded — the contrastive-training negative pool.
    */
  private def hardNegativePool(s: SparkSession, dir: String): DataFrame = {
    val fp = tPar(s, dir, "documents")
      .select(col("doc_id").as("vec_id"),
        TextStats.fingerprint(col("text")).as("fp"))
    val emb = tPar(s, dir, "embeddings")
    Similarity.hardNegatives(emb.where(col("vec_id") < 16), emb, fp,
        "vec_id", "vec_id", "embedding", "fp", k = 10,
        lo = HardNegLo, hi = HardNegHi)
      .orderBy(col("query_id"), col("rank"))
  }

  /** N-gram novelty — the memorization-risk scan (Lee et al. '22's
    * "novel n-grams" metric): for each held-out document, how many of
    * its 8-gram occurrences already appear ANYWHERE in the train
    * split. Shape: distinct train gram hashes (fingerprint grain,
    * [[graft.llm.SubstringDedup.shingleHashes]]) left-joined onto the
    * held-out gram stream — one fp-grain equi-join, then a doc-grain
    * count. Exact BIGINTs; the novelty ratio is derivable as
    * `1 − n_seen/n_grams`.
    */
  private def noveltyNgramStats(s: SparkSession, dir: String): DataFrame = {
    val docs = tPar(s, dir, "documents")
    val isHeld = pmod(col("doc_id"), lit(5L)) === 0
    val train = SubstringDedup
      .shingleHashes(docs.where(!isHeld), "doc_id", "text", w = 8)
      .select(col("h")).distinct()
    val held = SubstringDedup
      .shingleHashes(docs.where(isHeld), "doc_id", "text", w = 8)
    val per = held
      .join(train.withColumn("__seen", lit(1L)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__seen"), lit(0L))).as("n_seen"))
    docs.where(isHeld).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"))
      .orderBy(col("doc_id"))
  }

  /** Unigram-LM (SentencePiece-style) Viterbi tokenization
    * ([[graft.llm.UnigramLm]]): frequency-estimated piece vocabulary,
    * maximum-likelihood segmentation per distinct word form, per-doc
    * piece counts and exact likelihood sums.
    */
  private def unigramTokenizeStats(s: SparkSession,
                                   dir: String): DataFrame =
    UnigramLm.docStats(tPar(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Rounds of the unigram hard-EM training contract (both engines). */
  private val UnigramTrainRounds = 2

  private val unigramVocabMemo = new Memo[DataFrame]("unigram_vocab")

  /** One [[graft.llm.UnigramLm.trainVocab]] run per (session, dir):
    * the trained-vocab dump and the trained-tokenization stats must
    * read the SAME trained frame (trainVocab checkpoints per round, so
    * the memo hands back materialized blocks; keyed and evicted like
    * the other session memos).
    */
  private def unigramTrained(s: SparkSession, dir: String): DataFrame =
    unigramVocabMemo.session(s, dir) {
      UnigramLm.trainVocab(
        UnigramLm.wordForms(UnigramLm.wordOccurrences(
          tPar(s, dir, "documents"), "doc_id", "text")),
        rounds = UnigramTrainRounds)
    }

  /** Target multi-piece vocab size of the SIZED training contract. */
  private val UnigramTargetMulti = 16

  private val unigramSizedMemo =
    new Memo[(DataFrame, Int)]("unigram_vocab_sized")

  /** One [[graft.llm.UnigramLm.trainVocabToSize]] run per (session,
    * dir): the sized-vocab query and its oracle-entry generator must
    * read the SAME derived round count.
    */
  private def unigramTrainedSized(s: SparkSession,
                                  dir: String): (DataFrame, Int) =
    unigramSizedMemo.session(s, dir) {
      UnigramLm.trainVocabToSize(
        UnigramLm.wordForms(UnigramLm.wordOccurrences(
          tPar(s, dir, "documents"), "doc_id", "text")),
        targetMulti = UnigramTargetMulti)
    }

  /** Unigram training under the TARGET-VOCAB stopping rule
    * ([[graft.llm.UnigramLm.trainVocabToSize]]): prune until ≤
    * [[UnigramTargetMulti]] multi-char pieces survive, round count
    * derived from the data — SentencePiece's actual contract (train to
    * a vocab size), completing the arc the fixed-round form started
    * the way `learnMergesLocal` completed BPE. `n_rounds` rides on
    * every row so the derived count is inside the hash; the twin
    * unrolls exactly that many rounds and `error()`s unless BOTH sides
    * of the stopping rule hold (round R lands ≤ target AND round R−1
    * was still above it), so an off-by-one in the derivation fails
    * loudly on the oracle side rather than silently certifying.
    */
  private def unigramTrainVocabSized(s: SparkSession,
                                     dir: String): DataFrame = {
    val (v, rounds) = unigramTrainedSized(s, dir)
    v.select(col("piece"), col("cnt"), col("lp_nano"),
        lit(rounds.toLong).as("n_rounds"))
      .orderBy(col("piece"))
  }

  /** The unigram hard-EM TRAINING loop ([[graft.llm.UnigramLm
    * .trainVocab]]): seed from substring counts, then fixed rounds of
    * Viterbi E-step piece usage → shrink-prune → milli-nat-grid
    * re-estimation. The emitted frame IS the trained model (piece,
    * usage count, log-prob) — the twin unrolls the identical rounds
    * with the same recursive-CTE DP the inference family certifies,
    * plus a backpointer walk.
    */
  private def unigramTrainVocab(s: SparkSession, dir: String): DataFrame =
    unigramTrained(s, dir)
      .select(col("piece"), col("cnt"), col("lp_nano"))
      .orderBy(col("piece"))

  /** Per-document tokenization under the TRAINED vocabulary — proof
    * the trained model segments, not just dumps: same DP, same packed
    * tie-breaks, model supplied by [[unigramTrained]] instead of the
    * seed frequencies.
    */
  private def unigramTrainDocStats(s: SparkSession, dir: String): DataFrame =
    UnigramLm.docStatsWith(tPar(s, dir, "documents"), "doc_id", "text",
        _ => unigramTrained(s, dir).select(col("piece"), col("lp_nano")))
      .orderBy(col("doc_id"))

  /** SQ8 scalar-quantization top-k ([[Similarity.knnSq8]]) — the fifth
    * ANN index variant; codes and scores are pure BIGINT on the 1e4
    * grid, so the oracle needs no trained literals at all.
    */
  private def knnCosineSq8(s: SparkSession, dir: String): DataFrame = {
    val emb = tPar(s, dir, "embeddings")
    Similarity.knnSq8(emb.where(col("vec_id") < 16), emb,
        "vec_id", "vec_id", "embedding", dims = 64, k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The Lee et al. exact-substring EDIT
    * ([[SubstringDedup.firstOccurrenceRebuild]]): later occurrences of
    * repeated 5-gram spans removed, first kept, documents rebuilt —
    * the md5 column pins every byte of the rebuilt corpus.
    */
  private def substringDedupRebuild(s: SparkSession, dir: String): DataFrame =
    SubstringDedup.firstOccurrenceRebuild(tPar(s, dir, "documents"),
        "doc_id", "text", w = 5)
      .orderBy(col("doc_id"))

  /** Content-defined chunking dedup profile ([[CdcChunks.dupStats]]):
    * rolling-hash boundaries (k=3, modulus=8), corpus-wide chunk
    * multiplicity — the shift-robust storage-dedup signal next to the
    * fixed-segment CCNet path.
    */
  private def cdcChunkStats(s: SparkSession, dir: String): DataFrame =
    CdcChunks.dupStats(tPar(s, dir, "documents"), "doc_id", "text",
        k = 3, modulus = 8, minCount = 2)
      .orderBy(col("doc_id"))

  // ----- suffix array (exact substring structure) -------------------------

  private val saMemo = new Memo[SuffixArrayResult]("suffix_array")

  /** One prefix-doubling build per (app, sfDir) — the three suffix
    * queries read the same checkpointed rank structure (keyed like
    * [[SparkEntry]]'s tradePairs memo: applicationId + startTime so a
    * restarted session can never read a dead session's plans).
    */
  private def saFor(s: SparkSession, dir: String): SuffixArrayResult =
    saMemo.session(s, dir) {
      SuffixArray.build(tPar(s, dir, "documents"), "doc_id", "text")
    }

  private val dsirWeightsMemo = new Memo[DataFrame]("dsir_weights")

  private val bigramLmMemo = new Memo[DataFrame]("bigram_lm")

  /** The corpus char-bigram LM, trained once per (app, sfDir) — the
    * same shared-training discipline as [[saFor]]/[[SparkEntry]]'s LPA
    * labels: `lm_quality_score` and `ccnet_ppl_buckets` score under the
    * IDENTICAL model, and each retrained it from its own corpus pass
    * (one full bigram-stream aggregate apiece). The model is
    * model-grain (≤ |alphabet|² rows) so the checkpoint is bounded at
    * any corpus size; the SCORING passes still recompute the
    * corpus-grain bigram stream per query (see
    * [[graft.llm.LangModel.bigramTable]] — materializing it is the
    * measured sf100 OOM).
    */
  private def corpusBigramLm(s: SparkSession, dir: String): DataFrame =
    bigramLmMemo.session(s, dir) {
      LangModel.trainFromBigrams(
        LangModel.bigramTable(tPar(s, dir, "documents"), "doc_id", "text"))
        .localCheckpoint(true)
    }

  private val saLcpMemo = new Memo[DataFrame]("suffix_adjacent_lcp")

  /** The adjacent-LCP lifting (≈2·levels joins) feeds both the LCP
    * spectrum and the dup-position queries — computed once per (app,
    * sfDir); [[SuffixArray.adjacentLcp]] checkpoints its result, so the
    * memo hands back materialized blocks.
    */
  private def saLcpFor(s: SparkSession, dir: String): DataFrame =
    saLcpMemo.session(s, dir) {
      SuffixArray.adjacentLcp(saFor(s, dir))
    }

  /** The full suffix-rank permutation at token grain — certifying the
    * entire distributed structure position-by-position against a twin
    * that sorts materialized (LCP-bounded) suffix keys.
    */
  private def suffixRankDocs(s: SparkSession, dir: String): DataFrame = {
    val res = saFor(s, dir)
    res.seq.where(col("is_tok"))
      .join(res.sa, Seq("g"))
      .select(col("doc_id"), col("pos"), col("r").as("sa_rank"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Corpus LCP spectrum + the longest repeated substring (length,
    * multiplicity, location, text) from [[SuffixArray.adjacentLcp]]'s
    * binary lifting — every cross-join below broadcasts a 1-row
    * aggregate.
    */
  private def suffixLcpStats(s: SparkSession, dir: String): DataFrame = {
    val res = saFor(s, dir)
    val lcp = saLcpFor(s, dir)
    val agg1 = lcp.agg(
      count(lit(1)).as("n_pairs"),
      max(col("lcp")).as("lrs_len"),
      sum(when(col("lcp") >= 5, 1L).otherwise(0L)).as("pairs_ge_5"),
      sum(when(col("lcp") >= 10, 1L).otherwise(0L)).as("pairs_ge_10"),
      sum(when(col("lcp") >= 25, 1L).otherwise(0L)).as("pairs_ge_25"),
      sum(col("lcp")).as("sum_lcp"))
    val achievers = lcp.crossJoin(broadcast(agg1.select(col("lrs_len"))))
      .where(col("lcp") === col("lrs_len"))
    val lrsCount = achievers.agg(count(lit(1)).as("lrs_count"))
    // deterministic witness: the first achiever in suffix order
    val winner = achievers
      .agg(min(struct(col("rank_hi"), col("g_lo"))).as("__w"))
      .select(col("__w.g_lo").as("g"))
    val winPos = broadcast(winner).join(res.seq, Seq("g"))
      .select(col("doc_id").as("lrs_doc_id"), col("pos").as("lrs_pos"))
    val docToks = t(s, dir, "documents")
      .select(col("doc_id").as("lrs_doc_id"),
        TextStats.tokens(col("text")).as("__toks"))
    // the trailing 1-row agg is load-bearing for plan auditing: it makes
    // the cross-join build side PROVABLY bounded (an aggregate node)
    // rather than a 1-row-by-construction join the static sweep cannot
    // see through
    val txt = broadcast(winPos).join(docToks, Seq("lrs_doc_id"))
      .crossJoin(broadcast(agg1.select(col("lrs_len").as("__ll"))))
      .select(col("lrs_doc_id"), col("lrs_pos"),
        array_join(slice(col("__toks"), col("lrs_pos").cast("int"),
          col("__ll").cast("int")), " ").as("lrs_text"))
      .agg(min(col("lrs_doc_id")).as("lrs_doc_id"),
        min(col("lrs_pos")).as("lrs_pos"),
        min(col("lrs_text")).as("lrs_text"))
    agg1.crossJoin(broadcast(lrsCount)).crossJoin(broadcast(txt))
      .select(col("n_pairs"), col("lrs_len"), col("lrs_count"),
        col("pairs_ge_5"), col("pairs_ge_10"), col("pairs_ge_25"),
        col("sum_lcp"), col("lrs_doc_id"), col("lrs_pos"), col("lrs_text"))
  }

  /** 1%-stratum keep bound for the sampled LCP certification (buckets
    * run 0..999999; rank keyed, seed distinct from the corpus
    * samplers so the strata are decorrelated).
    */
  private val SuffixSampleBucket = 10000L
  private val SuffixSampleSeed = 777L

  /** The sampled CERTIFIABLE form of the adjacent-LCP structure (the
    * `bpe_doc_tokens_sample` pattern): a deterministic rank-keyed 1%
    * stratum of adjacent suffix pairs, each row pinning both
    * endpoints' (doc, pos) and the exact LCP from the binary-lifting
    * structure ([[SuffixArray.adjacentLcp]]). The twin recomputes
    * every sampled pair's LCP INDEPENDENTLY — direct bounded symbol
    * comparison over materialized per-document sort keys — so the
    * stratum cross-checks lifting vs direct comparison pair by pair.
    * Exists because the full-scan `suffix_lcp_stats` twin's pair frame
    * (27M pairs × ~1.3 KB keys) overruns a single-node 80 GB DuckDB at
    * sf10 — an oracle envelope, not an engine bound; the stratum keeps
    * the certification corpus-grain-honest at every rung (~1% of pairs
    * at any scale) while the pair frame stays 100× smaller.
    */
  private def suffixLcpSample(s: SparkSession, dir: String): DataFrame = {
    val res = saFor(s, dir)
    val lcp = saLcpFor(s, dir)
    val lo = res.seq.select(col("g").as("g_lo"),
      col("doc_id").as("lo_doc_id"), col("pos").as("lo_pos"))
    val hi = res.seq.select(col("g").as("g_hi"),
      col("doc_id").as("hi_doc_id"), col("pos").as("hi_pos"))
    lcp.where(Curation.sampleBucket(col("rank_hi"), SuffixSampleSeed)
        < lit(SuffixSampleBucket))
      .join(lo, Seq("g_lo")).join(hi, Seq("g_hi"))
      .select(col("rank_hi").as("sa_rank"),
        col("lo_doc_id"), col("lo_pos"),
        col("hi_doc_id"), col("hi_pos"), col("lcp"))
      .orderBy(col("sa_rank"))
  }

  /** Repeat FAMILIES at threshold L=10 — the any-length grouping the
    * suffix structure makes cheap: suffixes sharing a >= L prefix are
    * CONTIGUOUS in rank order, so families are connected components of
    * the path graph whose edges are rank-adjacent pairs with
    * `lcp >= L` ([[graft.ops.ConnectedComponents.components]] reused
    * verbatim — the component label is the family's min rank). Per
    * family: occurrence count, the longest prefix shared by ALL
    * members (= min adjacent LCP over the run), and the first witness
    * occurrence in corpus order with its text. Edge count is the
    * conn-pair count, decades below corpus size — CC runs on the
    * sparse linked set only.
    */
  private def suffixRepeatFamilies(s: SparkSession, dir: String): DataFrame = {
    val L = 10
    val res = saFor(s, dir)
    val conn = saLcpFor(s, dir).where(col("lcp") >= L).localCheckpoint(true)
    // alternating (log-star) closure, NOT plain min-label: runs are
    // PATHS, so plain propagation needs diameter rounds and a
    // 100-copy boilerplate run blows any fixed budget; pointer
    // jumping closes the longest sf1 runs in a handful of rounds
    val fam = graft.ops.ConnectedComponents.componentsAlternating(
      conn.select((col("rank_hi") - 1L).as("src"), col("rank_hi").as("dst")),
      "src", "dst")
    val shared = conn
      .join(fam.select(col("id").as("rank_hi"), col("component")), Seq("rank_hi"))
      .groupBy(col("component")).agg(min(col("lcp")).as("shared_len"))
    val wit = fam.join(res.sa.select(col("r").as("id"), col("g")), Seq("id"))
      .join(res.seq.select(col("g"), col("doc_id"), col("pos")), Seq("g"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(struct(col("doc_id"), col("pos"))).as("__w"))
      .select(col("component"), col("n_occurrences"),
        col("__w.doc_id").as("witness_doc_id"), col("__w.pos").as("witness_pos"))
    val docToks = t(s, dir, "documents")
      .select(col("doc_id").as("witness_doc_id"),
        TextStats.tokens(col("text")).as("__toks"))
    wit.join(shared, Seq("component"))
      .join(docToks, Seq("witness_doc_id"))
      .select(col("component").as("family_rank"), col("n_occurrences"),
        col("shared_len"), col("witness_doc_id"), col("witness_pos"),
        array_join(slice(col("__toks"), col("witness_pos").cast("int"),
          col("shared_len").cast("int")), " ").as("family_text"))
      .orderBy(col("family_rank"))
  }

  /** Per-document duplicated 5-gram positions derived from the suffix
    * array ([[SuffixArray.dupPositions]]) — the twin runs the INDEPENDENT
    * shingle-count algorithm, so the hash certifies two different exact
    * algorithms agreeing across two engines.
    */
  private def suffixDupPositions(s: SparkSession, dir: String): DataFrame = {
    val res = saFor(s, dir)
    val dup = SuffixArray.dupPositionsFrom(res, saLcpFor(s, dir), "doc_id", w = 5)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_w_pos"))
    t(s, dir, "documents")
      .select(col("doc_id"), TextStats.nTokens(col("text")).as("n_tokens"))
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_w_pos"), lit(0L)).as("dup_w_pos"))
      .orderBy(col("doc_id"))
  }

  // ----- trained linear probe ---------------------------------------------

  /** Full integer-GD training run of the English-vs-rest linear probe
    * ([[graft.llm.LinearProbe]]): the (step, bucket, w_micro)
    * trajectory, every round bit-certified against the unrolled twin.
    */
  private def linearProbeTrace(s: SparkSession, dir: String): DataFrame =
    LinearProbe.traceFrame(s, probeFor(s, dir)._2)

  /** Held-fold confusion of the trained probe under the LDA-style
    * floor-midpoint threshold calibrated on train scores.
    */
  private def linearProbeEval(s: SparkSession, dir: String): DataFrame = {
    val (feats, traj) = probeFor(s, dir)
    LinearProbe.evalFrame(feats, traj.last)
  }

  /** The probe as a quality GATE: keep/drop funnel at (lang, kept)
    * grain over the whole corpus under the trained threshold.
    */
  private def linearProbeFilterStats(s: SparkSession,
                                     dir: String): DataFrame = {
    val (feats, traj) = probeFor(s, dir)
    LinearProbe.filterStats(tPar(s, dir, "documents"), feats, traj.last)
  }

  private val probeMemo =
    new Memo[(DataFrame, Seq[Array[Long]])]("linear_probe")

  /** One probe training per (app, sfDir) — the trace, confusion and
    * gate queries all read the same checkpointed feature frame and
    * trajectory ([[Memo.session]]: bench-honest, evicting).
    * Checkpoint (not persist): the memo outlives a consumer query, and
    * the standing post-query `clearCache()` would drop persisted
    * blocks but leaves checkpointed RDD blocks alone (the saMemo
    * discipline). [[Memos.bigCheckpoint]] (serialized level), not bare
    * `localCheckpoint(true)`: the feature frame is corpus-grain (up to
    * ~65 rows/doc — ~325M rows at sf100 docs), exactly the
    * deserialized-cache blow-up the sf100full rung diagnosed.
    */
  private def probeFor(s: SparkSession,
                       dir: String): (DataFrame, Seq[Array[Long]]) =
    probeMemo.session(s, dir) {
      val feats = Memos.bigCheckpoint(
        LinearProbe.featureRows(tPar(s, dir, "documents")))
      (feats, LinearProbe.train(feats))
    }

  // ----- contract maps ---------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_stats" -> (textStats _),
    "lang_id_pred" -> (langIdPred _),
    "dedup_exact_stats" -> (dedupExactStats _),
    "minhash_signatures" -> (minhashSignatures _),
    "minhash_signatures_agg" -> (minhashSignaturesAgg _),
    "minhash_dup_pairs" -> (minhashDupPairs _),
    "near_dedup_survivors" -> (nearDedupSurvivors _),
    "near_dup_clusters" -> (nearDupClusters _),
    "near_dup_clusters_logstar" -> (nearDupClustersLogstar _),
    "simhash_fingerprints" -> (simhashFingerprints _),
    "ngram_jaccard_pairs" -> (ngramJaccardPairs _),
    "tfidf_top_terms" -> (tfidfTopTerms _),
    "vocab_stats" -> (vocabStats _),
    "bpe_merges" -> (bpeMerges _),
    "bpe_merges_batched" -> (bpeMergesBatched _),
    "bpe_merges_local" -> (bpeMergesLocal _),
    "bpe_doc_tokens" -> (bpeDocTokens _),
    "bpe_doc_tokens_sample" -> (bpeDocTokensSample _),
    "bpe_tokenize_stats" -> (bpeTokenizeStats _),
    "knn_cosine_brute" -> (knnCosineBrute _),
    "mmr_rerank_docs" -> (mmrRerankDocs _),
    "knn_cosine_bucketed" -> (knnCosineBucketed _),
    "knn_cosine_lsh" -> (knnCosineLsh _),
    "knn_cosine_multiprobe" -> (knnCosineMultiprobe _),
    "knn_cosine_ivf" -> (knnCosineIvf _),
    "silhouette_embeddings" -> (silhouetteEmbeddings _),
    "feature_hash_docs" -> (featureHashDocs _),
    "simhash_near_pairs" -> (simhashNearPairs _),
    "calibration_curve_langid" -> (calibrationCurveLangid _),
    "nucleus_docs_by_source" -> (nucleusDocsBySource _),
    "quota_alloc_sources" -> (quotaAllocSources _),
    "source_dup_matrix" -> (sourceDupMatrix _),
    "knn_cosine_pq" -> (knnCosinePq _),
    "knn_cosine_pq_refined" -> (knnCosinePqRefined _),
    "ann_rbo_eval" -> (annRboEval _),
    "jl_projection_pairs" -> (jlProjectionPairs _),
    "pca_top_component" -> (pcaTopComponent _),
    "phrase_match_docs" -> (phraseMatchDocs _),
    "label_scatter_embeddings" -> (labelScatterEmbeddings _),
    "embedding_near_dups" -> (embeddingNearDups _),
    "multimodal_features" -> (multimodalFeatures _),
    "image_header_stats" -> (imageHeaderStats _),
    "video_header_stats" -> (videoHeaderStats _),
    "frame_sample_plan" -> (frameSamplePlan _),
    "resize_plan" -> (resizePlan _),
    "pii_scrub_stats" -> (piiScrubStats _),
    "benchmark_contamination" -> (benchmarkContamination _),
    "stratified_sample_stats" -> (stratifiedSampleStats _),
    "repetition_stats" -> (repetitionStats _),
    "ngram_repetition" -> (ngramRepetition _),
    "weighted_mix_stats" -> (weightedMixStats _),
    "packing_plan" -> (packingPlan _),
    "packing_plan_global" -> (packingPlanGlobal _),
    "curated_corpus_stats" -> (curatedCorpusStats _),
    "doc_chunks" -> (docChunks _),
    "winnow_fingerprints" -> (winnowFingerprintsQ _),
    "winnow_dup_pairs" -> (winnowDupPairsQ _),
    "winnow_dup_clusters" -> (winnowDupClustersQ _),
    "substring_dup_spans" -> (substringDupSpansQ _),
    "substring_dup_stats" -> (substringDupStatsQ _),
    "token_count_model" -> (tokenCountModel _),
    "temperature_mix_langs" -> (temperatureMixLangs _),
    "lang_id_eval" -> (langIdEval _),
    "lang_id_kappa" -> (langIdKappa _),
    "collocations_pmi" -> (collocationsPmi _),
    "lang_source_mi" -> (langSourceMi _),
    "length_pctl_by_source" -> (lengthPctlBySource _),
    "flesch_by_lang" -> (fleschByLang _),
    "url_domain_stats" -> (urlDomainStats _),
    "containment_pairs" -> (containmentPairs _),
    "lm_quality_score" -> (lmQualityScore _),
    "source_overlap_sketch" -> (sourceOverlapSketch _),
    "weighted_reservoir_docs" -> (weightedReservoirDocs _),
    "topk_docs_per_lang" -> (topkDocsPerLang _),
    "token_entropy" -> (tokenEntropy _),
    "near_dedup_survivors_exact" -> (nearDedupSurvivorsExact _),
    "audio_window_plan" -> (audioWindowPlanQ _),
    "curation_funnel_near" -> (curationFunnelNear _),
    "curation_funnel_probe" -> (curationFunnelProbe _),
    "source_cap_stats" -> (sourceCapStats _),
    "edit_sim_pairs" -> (editSimPairs _),
    "boilerplate_strip_stats" -> (boilerplateStripStats _),
    "semantic_dedup_stats" -> (semanticDedupStats _),
    "dataset_split_stats" -> (datasetSplitStats _),
    "setsim_prefix_pairs" -> (setsimPrefixPairs _),
    "setsim_snm_pairs" -> (setsimSnmPairs _),
    "sparse_cosine_pairs" -> (sparseCosinePairsQ _),
    "zipf_fit" -> (zipfFitQ _),
    "linkage_snm_scores" -> (linkageSnmScores _),
    "bm25_top_docs" -> (bm25TopDocs _),
    "log_odds_terms" -> (logOddsTerms _),
    "segment_dedup_docs" -> (segmentDedupDocs _),
    "hybrid_rrf_docs" -> (hybridRrfDocs _),
    "dsir_importance_weights" -> (dsirImportanceWeights _),
    "dsir_gumbel_sample" -> (dsirGumbelSample _),
    "sbo_heldout_scores" -> (sboHeldoutScores _),
    "ccnet_ppl_buckets" -> (ccnetPplBuckets _),
    "nb_lang_confusion" -> (nbLangConfusion _),
    "lang_xent_matrix" -> (langXentMatrix _),
    "unigram_tokenize_stats" -> (unigramTokenizeStats _),
    "unigram_train_vocab" -> (unigramTrainVocab _),
    "unigram_train_vocab_sized" -> (unigramTrainVocabSized _),
    "unigram_train_doc_stats" -> (unigramTrainDocStats _),
    "hard_negative_pool" -> (hardNegativePool _),
    "leakage_safe_splits" -> (leakageSafeSplits _),
    "novelty_ngram_stats" -> (noveltyNgramStats _),
    "suffix_rank_docs" -> (suffixRankDocs _),
    "suffix_lcp_stats" -> (suffixLcpStats _),
    "suffix_lcp_sample" -> (suffixLcpSample _),
    "suffix_dup_positions" -> (suffixDupPositions _),
    "cdc_chunk_stats" -> (cdcChunkStats _),
    "substring_dedup_rebuild" -> (substringDedupRebuild _),
    "knn_cosine_sq8" -> (knnCosineSq8 _),
    "suffix_repeat_families" -> (suffixRepeatFamilies _),
    "knn_cosine_ivfpq" -> (knnCosineIvfPq _),
    "tokenizer_fertility_eval" -> (tokenizerFertilityEval _),
    "linear_probe_trace" -> (linearProbeTrace _),
    "linear_probe_eval" -> (linearProbeEval _),
    "linear_probe_filter_stats" -> (linearProbeFilterStats _),
  )

  // DuckDB fragments shared by several oracles. The whitespace class is
  // interpolated from TextStats.WsRegex — ONE definition across engines
  // (Java \s and RE2 \s disagree on U+000B).
  private val Ws = TextStats.WsRegex
  private val Toks =
    s"""list_filter(regexp_split_to_array(trim(text), '$Ws'), x -> x <> '')"""

  /** Shared DSIR weight CTE chain (ends at `w(doc_id, n_feats,
    * logw_nano)`): md5-hashed unigram+bigram buckets, 256-row add-one
    * models on the `src0` target slice and the full pool, Δlp joined at
    * bucket grain — the SQL mirror of [[LlmQueries.dsirWeights]]. Used
    * by both DSIR oracles; keep in lockstep with [[graft.llm.Dsir]].
    */
  private lazy val DsirWeightCtes: String =
    s"""WITH base AS (
       |  SELECT doc_id, $Toks AS toks FROM documents
       |), ng AS (
       |  SELECT doc_id, unnest(toks) AS g FROM base
       |  UNION ALL
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i + 1])) AS g
       |  FROM base WHERE len(toks) >= 2
       |), f AS (
       |  SELECT doc_id,
       |         ((('0x' || substr(md5(g), 1, 8))::BIGINT % $DsirDims) + $DsirDims) % $DsirDims AS bucket,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM ng GROUP BY 1, 2
       |), spine AS (
       |  SELECT range AS bucket FROM range(0, $DsirDims)
       |), tcounts AS (
       |  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS c FROM f
       |  JOIN (SELECT doc_id FROM documents WHERE source = '$DsirTarget') t USING (doc_id)
       |  GROUP BY 1
       |), tmodel AS (
       |  SELECT s.bucket,
       |         CAST(round(ln((CAST(coalesce(tc.c, 0) AS DOUBLE) + 1.0) /
       |           ((SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) FROM tcounts) + ${DsirDims.toDouble})) * 1000000000.0) AS BIGINT) AS lp
       |  FROM spine s LEFT JOIN tcounts tc USING (bucket)
       |), rcounts AS (
       |  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS c FROM f GROUP BY 1
       |), rmodel AS (
       |  SELECT s.bucket,
       |         CAST(round(ln((CAST(coalesce(rc.c, 0) AS DOUBLE) + 1.0) /
       |           ((SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) FROM rcounts) + ${DsirDims.toDouble})) * 1000000000.0) AS BIGINT) AS lp
       |  FROM spine s LEFT JOIN rcounts rc USING (bucket)
       |), dlp AS (
       |  SELECT t.bucket, t.lp - r.lp AS dlp
       |  FROM tmodel t JOIN rmodel r USING (bucket)
       |), w AS (
       |  SELECT f.doc_id, CAST(sum(f.cnt) AS BIGINT) AS n_feats,
       |         CAST(sum(f.cnt * d.dlp) AS BIGINT) AS logw_nano
       |  FROM f JOIN dlp d USING (bucket) GROUP BY 1
       |)""".stripMargin

  /** Integer floor division `floorDiv(a, m)` in engine-portable SQL:
    * DuckDB's `%` truncates like the JVM's, so
    * `(a - ((a % m + m) % m)) // m` floors exactly like
    * `Math.floorDiv` (the numerator is exactly divisible, so `//`'s
    * own rounding never engages). Operands are re-parenthesized —
    * callers may pass compound expressions.
    */
  private def fdivSql(a: String, m: String): String =
    s"((($a) - ((($a) % ($m) + ($m)) % ($m))) // ($m))"

  /** Shared CTE chain of the linear-probe twins ([[graft.llm
    * .LinearProbe]]): hashed features + bias bucket, labels/folds, and
    * `Rounds` unrolled integer-GD rounds ending at CTE `w<Rounds>`.
    * Every constant (grid, clips, round count, positive class) is
    * interpolated from the Scala object so the two engines can never
    * drift. The feature/label CTEs and every per-round weight state
    * are MATERIALIZED — `w(k-1)` is referenced by both `s_k` and
    * `w_k` (and the trace select), so an inlining planner would
    * otherwise expand the chain 2^Rounds-fold.
    */
  private lazy val LinearProbeCtes: String = {
    import graft.llm.LinearProbe.{Dims, Rounds, LrInv, WMax, RClamp,
      LabelScale, PosLang}
    val rounds = (1 to Rounds).map { k =>
      val p = k - 1
      s"""s$k AS (
         |  SELECT doc_id, max(y) AS y,
         |         CAST(sum(value * w) AS BIGINT) AS s
         |  FROM tf JOIN w$p USING (bucket) GROUP BY 1
         |), r$k AS (
         |  SELECT doc_id,
         |         GREATEST(-$RClamp, LEAST($RClamp, s - y * $LabelScale)) AS r
         |  FROM s$k
         |), g$k AS (
         |  SELECT f.bucket, CAST(sum(r.r * f.value) AS BIGINT) AS g
         |  FROM r$k r JOIN tf f USING (doc_id) GROUP BY 1
         |), w$k AS MATERIALIZED (
         |  SELECT w.bucket,
         |         GREATEST(-$WMax, LEAST($WMax,
         |           w.w - ${fdivSql("COALESCE(g.g, 0)", s"$LrInv * nt.n")})) AS w
         |  FROM w$p w LEFT JOIN g$k g USING (bucket) CROSS JOIN nt
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH fh AS MATERIALIZED (
       |${FeatureHash.hashedFeaturesSql(Toks, Dims)}
       |), feats AS MATERIALIZED (
       |  SELECT doc_id, bucket, value FROM fh
       |  UNION ALL
       |  SELECT doc_id, CAST($Dims AS BIGINT) AS bucket,
       |         CAST(1 AS BIGINT) AS value
       |  FROM documents
       |), lab AS MATERIALIZED (
       |  SELECT doc_id,
       |         CASE WHEN lang = '$PosLang' THEN CAST(1 AS BIGINT)
       |              ELSE CAST(0 AS BIGINT) END AS y,
       |         CAST(((doc_id % 5) + 5) % 5 AS BIGINT) AS fold
       |  FROM documents
       |), tf AS MATERIALIZED (
       |  SELECT f.doc_id, f.bucket, f.value, l.y
       |  FROM feats f JOIN lab l USING (doc_id) WHERE l.fold <> 0
       |), nt AS (
       |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tf
       |), w0 AS MATERIALIZED (
       |  SELECT CAST(range AS BIGINT) AS bucket, CAST(0 AS BIGINT) AS w
       |  FROM range(0, ${Dims + 1})
       |),
       |$rounds""".stripMargin
  }

  /** Twin of `linear_probe_trace`: the full weight trajectory. */
  private lazy val LinearProbeTraceSql: String = {
    val steps = (0 to graft.llm.LinearProbe.Rounds).map { k =>
      s"SELECT CAST($k AS BIGINT) AS step, bucket, w AS w_micro FROM w$k"
    }.mkString("\nUNION ALL\n")
    s"$LinearProbeCtes\n$steps\nORDER BY step, bucket"
  }

  /** [[LinearProbeCtes]] extended with the scored/calibrated CTEs:
    * `pd` (every doc scored under the final weights, MATERIALIZED —
    * both the calibration and the final select read it) and `th`
    * (the floor-midpoint threshold from the train folds). `calok`
    * raises via `error()` when a class is absent from the train split
    * — parity with [[graft.llm.LinearProbe]]'s `require`, which fails
    * fast on the same degenerate corpus; without it the NULL class sum
    * would flow into a NULL threshold and a silently all-drop gate.
    */
  private lazy val LinearProbeScoredCtes: String = {
    val r = graft.llm.LinearProbe.Rounds
    s"""$LinearProbeCtes,
       |pd AS MATERIALIZED (
       |  SELECT l.doc_id, l.y, l.fold,
       |         CAST(sum(f.value * w.w) AS BIGINT) AS s
       |  FROM lab l JOIN feats f USING (doc_id) JOIN w$r w USING (bucket)
       |  GROUP BY 1, 2, 3
       |), cal AS (
       |  SELECT CAST(sum(CASE WHEN y = 1 THEN s END) AS BIGINT) AS s1,
       |         CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |         CAST(sum(CASE WHEN y = 0 THEN s END) AS BIGINT) AS s0,
       |         CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
       |  FROM pd WHERE fold <> 0
       |), calok AS (
       |  SELECT CASE WHEN n1 > 0 AND n0 > 0 THEN s1
       |              ELSE error('threshold calibration needs both classes in the train split') END AS s1,
       |         n1, s0, n0 FROM cal
       |), th AS (
       |  SELECT ${fdivSql("mu0 + mu1", "2")} AS thresh
       |  FROM (SELECT ${fdivSql("s1", "n1")} AS mu1,
       |               ${fdivSql("s0", "n0")} AS mu0 FROM calok)
       |)""".stripMargin
  }

  /** Twin of `linear_probe_eval`: the held-fold confusion under the
    * calibrated threshold.
    */
  private lazy val LinearProbeEvalSql: String =
    s"""$LinearProbeScoredCtes
       |SELECT y AS label,
       |       CASE WHEN s >= thresh THEN CAST(1 AS BIGINT)
       |            ELSE CAST(0 AS BIGINT) END AS pred,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(s) AS BIGINT) AS sum_score_micro
       |FROM pd CROSS JOIN th WHERE fold = 0
       |GROUP BY 1, 2""".stripMargin

  /** Twin of `linear_probe_filter_stats`: the whole-corpus keep/drop
    * funnel at (lang, kept) grain under the same calibrated gate.
    */
  private lazy val LinearProbeFilterSql: String =
    s"""$LinearProbeScoredCtes
       |SELECT d.lang,
       |       CASE WHEN pd.s >= th.thresh THEN CAST(1 AS BIGINT)
       |            ELSE CAST(0 AS BIGINT) END AS kept,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(pd.s) AS BIGINT) AS sum_score_micro
       |FROM documents d JOIN pd USING (doc_id) CROSS JOIN th
       |GROUP BY 1, 2""".stripMargin

  /** Generated DuckDB twin of `nb_lang_confusion`: the conditional-
    * aggregate wide layout, add-one smoothing, nano roundings and
    * first-class-wins argmax cascade of [[graft.llm.NaiveBayes]],
    * interpolated from the same [[NbLangs]] list so the class set and
    * order can never drift between engines.
    */
  private lazy val NbConfusionSql: String = {
    val cs = NbLangs
    val n = cs.indices
    val cnt = n.map(i =>
      s"CAST(sum(CASE WHEN lang = '${cs(i)}' THEN 1 ELSE 0 END) AS BIGINT) AS c_$i")
      .mkString(",\n         ")
    val ntot = n.map(i =>
      s"CAST(sum(CASE WHEN lang = '${cs(i)}' THEN 1 ELSE 0 END) AS BIGINT) AS n_$i")
      .mkString(",\n         ")
    val lp = n.map(i =>
      s"CAST(round(ln((CAST(c_$i AS DOUBLE) + 1.0) / (CAST(n_$i AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000000.0) AS BIGINT) AS lp_$i")
      .mkString(",\n         ")
    val oov = n.map(i =>
      s"CAST(round(ln(1.0 / (CAST(n_$i AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000000.0) AS BIGINT) AS oov_$i")
      .mkString(",\n         ")
    val dcnt = n.map(i =>
      s"CAST(sum(CASE WHEN lang = '${cs(i)}' THEN 1 ELSE 0 END) AS BIGINT) AS d_$i")
      .mkString(",\n         ")
    val prior = n.map(i =>
      s"CAST(round(ln((CAST(d_$i AS DOUBLE) + 1.0) / (CAST(docs AS DOUBLE) + ${cs.size}.0)) * 1000000000.0) AS BIGINT) AS prior_$i")
      .mkString(",\n         ")
    val ssum = n.map(i =>
      s"CAST(sum(coalesce(lp_$i, oov_$i)) AS BIGINT) AS s_$i")
      .mkString(",\n         ")
    val score = n.map(i =>
      s"coalesce(s_$i, 0) + prior_$i AS t_$i").mkString(",\n         ")
    val cascade = n.init.map { i =>
      val ge = n.drop(i + 1).map(j => s"t_$i >= t_$j").mkString(" AND ")
      s"WHEN $ge THEN '${cs(i)}'"
    }.mkString("\n              ")
    s"""WITH base AS (
       |  SELECT doc_id, lang, $Toks AS toks FROM documents
       |), tk AS (
       |  SELECT doc_id, lang, unnest(toks) AS token FROM base
       |), tr AS (
       |  SELECT * FROM tk WHERE ((doc_id % 5) + 5) % 5 <> 0
       |), ho AS (
       |  SELECT * FROM tk WHERE ((doc_id % 5) + 5) % 5 = 0
       |), tot AS (
       |  SELECT $ntot,
       |         CAST(count(DISTINCT token) AS BIGINT) AS v
       |  FROM tr
       |), cnts AS (
       |  SELECT token,
       |         $cnt
       |  FROM tr GROUP BY 1
       |), model AS (
       |  SELECT token,
       |         $lp
       |  FROM cnts CROSS JOIN tot
       |), oovs AS (
       |  SELECT $oov
       |  FROM tot
       |), pri AS (
       |  SELECT $prior
       |  FROM (SELECT CAST(count(*) AS BIGINT) AS docs,
       |         $dcnt
       |        FROM documents WHERE ((doc_id % 5) + 5) % 5 <> 0)
       |), sums AS (
       |  SELECT ho.doc_id,
       |         $ssum
       |  FROM ho LEFT JOIN model USING (token) CROSS JOIN oovs
       |  GROUP BY 1
       |), scored AS (
       |  SELECT d.doc_id, d.lang AS actual,
       |         $score
       |  FROM (SELECT doc_id, lang FROM documents WHERE ((doc_id % 5) + 5) % 5 = 0) d
       |  LEFT JOIN sums USING (doc_id) CROSS JOIN pri
       |), pred AS (
       |  SELECT actual,
       |         CASE $cascade
       |              ELSE '${cs.last}' END AS pred
       |  FROM scored
       |)
       |SELECT actual, pred, CAST(count(*) AS BIGINT) AS n_docs
       |FROM pred GROUP BY 1, 2 ORDER BY actual, pred""".stripMargin
  }

  /** DuckDB twin of `unigram_tokenize_stats`: the same piece
    * vocabulary, the same packed-BIGINT Viterbi DP — as a recursive
    * CTE advancing every word one position per iteration, the packed
    * comparison via `greatest` over the four candidate splits (NULLs
    * skipped on both engines). Keep the packing arithmetic in lockstep
    * with [[graft.llm.UnigramLm]].
    */
  /** The CTE chain of [[UnigramSql]] up to `docstats(doc_id, n_words,
    * n_pieces, lp_nano_sum)`, exposed so composite twins (the
    * tokenizer-comparison eval) can share the inference DP without
    * duplicating the packing arithmetic. Callers prepend
    * `WITH RECURSIVE`.
    */
  private lazy val UnigramDocstatsCtes: String = {
    def cand(k: Int): String = {
      val prev = s"dp.st[dp.i + 2 - $k]"
      val r = s"((($prev % 512) + 512) % 512)"
      s"""CASE WHEN dp.i + 1 >= $k AND c$k.lp IS NOT NULL THEN
         |  (CAST(($prev - $r) / 512 AS BIGINT) + c$k.lp) * 512
         |  + (CAST(($r - ($r % 8)) / 8 AS BIGINT) - 1) * 8 + $k
         |END""".stripMargin
    }
    val joins = (1 to 4).map(k =>
      s"LEFT JOIN cand c$k ON c$k.word = dp.word AND c$k.i = dp.i + 1 AND c$k.j = $k")
      .mkString("\n  ")
    s"""base AS (
       |  SELECT doc_id, $Toks AS toks FROM documents
       |), wocc AS (
       |  SELECT doc_id, w AS word FROM (SELECT doc_id, unnest(toks) AS w FROM base)
       |  WHERE length(w) BETWEEN 1 AND 32
       |), forms AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS n_occ FROM wocc GROUP BY 1
       |), pcraw AS (
       |  SELECT n_occ,
       |         unnest(flatten(list_transform(range(1, length(word) + 1),
       |           i -> list_transform(range(1, least(4, i) + 1),
       |             j -> word[i - j + 1:i])))) AS piece
       |  FROM forms
       |), pc AS (
       |  SELECT piece, CAST(sum(n_occ) AS BIGINT) AS cnt FROM pcraw GROUP BY 1
       |), kept AS (
       |  SELECT piece, cnt FROM pc WHERE cnt >= 3 OR length(piece) = 1
       |), tot AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS t FROM kept
       |), vocab AS (
       |  SELECT piece,
       |         CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000000.0) AS BIGINT) AS lp
       |  FROM kept CROSS JOIN tot
       |), candraw AS (
       |  SELECT word,
       |         unnest(flatten(list_transform(range(1, length(word) + 1),
       |           i -> list_transform(range(1, least(4, i) + 1),
       |             j -> {'i': i, 'j': j, 'piece': word[i - j + 1:i]})))) AS c
       |  FROM forms
       |), cand AS (
       |  SELECT r.word, CAST(r.c.i AS INTEGER) AS i, CAST(r.c.j AS INTEGER) AS j, v.lp
       |  FROM candraw r JOIN vocab v ON v.piece = r.c.piece
       |), dp AS (
       |  SELECT word, CAST(length(word) AS INTEGER) AS n, 0 AS i,
       |         [CAST(504 AS BIGINT)] AS st
       |  FROM forms
       |  UNION ALL
       |  SELECT dp.word, dp.n, dp.i + 1,
       |         list_append(dp.st, greatest(
       |           ${(1 to 4).map(cand).mkString(",\n           ")}))
       |  FROM dp
       |  $joins
       |  WHERE dp.i < dp.n
       |), wres AS (
       |  SELECT word,
       |         CAST((st[n + 1] - (((st[n + 1] % 512) + 512) % 512)) / 512 AS BIGINT) AS score_nano,
       |         63 - CAST(((((st[n + 1] % 512) + 512) % 512) - ((((st[n + 1] % 512) + 512) % 512) % 8)) / 8 AS BIGINT) AS n_pieces
       |  FROM dp WHERE i = n
       |), docstats AS (
       |  SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
       |         CAST(sum(score_nano) AS BIGINT) AS lp_nano_sum
       |  FROM wocc w JOIN wres USING (word) GROUP BY 1
       |)""".stripMargin
  }

  private lazy val UnigramSql: String =
    s"""WITH RECURSIVE $UnigramDocstatsCtes
       |SELECT d.doc_id,
       |       CAST(coalesce(s.n_words, 0) AS BIGINT) AS n_words,
       |       CAST(coalesce(s.n_pieces, 0) AS BIGINT) AS n_pieces,
       |       CAST(coalesce(s.lp_nano_sum, 0) AS BIGINT) AS lp_nano_sum
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN docstats s USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Shared CTE prefix of the unigram twins (corpus → forms →
    * substring counts → seed vocab `v0(piece, cnt, lp)` → the
    * candidate table every DP round joins). MATERIALIZED where
    * multi-referenced — the rounds would otherwise re-inline the
    * corpus scan per reference (the DuckDB CTE-inlining hazard).
    */
  private lazy val UnigramSharedCtes: String =
    s"""base AS (
       |  SELECT doc_id, $Toks AS toks FROM documents
       |), wocc AS MATERIALIZED (
       |  SELECT doc_id, w AS word FROM (SELECT doc_id, unnest(toks) AS w FROM base)
       |  WHERE length(w) BETWEEN 1 AND 32
       |), forms AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS n_occ FROM wocc GROUP BY 1
       |), pcraw AS (
       |  SELECT n_occ,
       |         unnest(flatten(list_transform(range(1, length(word) + 1),
       |           i -> list_transform(range(1, least(4, i) + 1),
       |             j -> word[i - j + 1:i])))) AS piece
       |  FROM forms
       |), pc AS (
       |  SELECT piece, CAST(sum(n_occ) AS BIGINT) AS cnt FROM pcraw GROUP BY 1
       |), kept0 AS (
       |  SELECT piece, cnt FROM pc WHERE cnt >= 3 OR length(piece) = 1
       |), tot0 AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS t FROM kept0
       |), v0 AS MATERIALIZED (
       |  SELECT piece, cnt,
       |         CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000000.0) AS BIGINT) AS lp
       |  FROM kept0 CROSS JOIN tot0
       |), candraw AS MATERIALIZED (
       |  SELECT word,
       |         unnest(flatten(list_transform(range(1, length(word) + 1),
       |           i -> list_transform(range(1, least(4, i) + 1),
       |             j -> {'i': i, 'j': j, 'piece': word[i - j + 1:i]})))) AS c
       |  FROM forms
       |)""".stripMargin

  /** One packed-DP round under vocabulary CTE `$v`, ending in
    * `dpres$r(word, n, st)` — the same recursive CTE as
    * [[UnigramSql]], parameterized so the trainer can unroll it per
    * EM round.
    */
  private def unigramDpCtes(r: String, v: String): String = {
    def cand(k: Int): String = {
      val prev = s"dp.st[dp.i + 2 - $k]"
      val rr = s"((($prev % 512) + 512) % 512)"
      s"""CASE WHEN dp.i + 1 >= $k AND c$k.lp IS NOT NULL THEN
         |  (CAST(($prev - $rr) / 512 AS BIGINT) + c$k.lp) * 512
         |  + (CAST(($rr - ($rr % 8)) / 8 AS BIGINT) - 1) * 8 + $k
         |END""".stripMargin
    }
    val joins = (1 to 4).map(k =>
      s"LEFT JOIN cand$r c$k ON c$k.word = dp.word AND c$k.i = dp.i + 1 AND c$k.j = $k")
      .mkString("\n  ")
    s"""cand$r AS (
       |  SELECT w.word, CAST(w.c.i AS INTEGER) AS i, CAST(w.c.j AS INTEGER) AS j, v.lp
       |  FROM candraw w JOIN $v v ON v.piece = w.c.piece
       |), dp$r AS (
       |  SELECT word, CAST(length(word) AS INTEGER) AS n, 0 AS i,
       |         [CAST(504 AS BIGINT)] AS st
       |  FROM forms
       |  UNION ALL
       |  SELECT dp.word, dp.n, dp.i + 1,
       |         list_append(dp.st, greatest(
       |           ${(1 to 4).map(cand).mkString(",\n           ")}))
       |  FROM dp$r dp
       |  $joins
       |  WHERE dp.i < dp.n
       |), dpres$r AS MATERIALIZED (
       |  SELECT word, n, st FROM dp$r WHERE i = n
       |)""".stripMargin
  }

  /** One hard-EM round `r` (input vocab `v{r-1}`, output
    * `v$r(piece, cnt, lp)`): DP under the current model, backpointer
    * walk (low 3 bits of each packed state = the best candidate's
    * piece length), occurrence-weighted usage counts, the
    * `capSql`-ranked prune over used multi-char pieces (singles
    * always kept, usage floored at 1), milli-nat re-estimation.
    * `capSql` is an expression over `nm` (the used-multi count):
    * ceil-3/4 shrink for the fixed-round contract (default),
    * floor-3/4-with-target-floor for the sized contract.
    */
  private def unigramEmRoundCtes(
      r: Int, capSql: String = "(nm * 3 + 3) // 4"): String = {
    val j = "CAST((((st[pos + 1] % 512) + 512) % 512) % 8 AS INTEGER)"
    s"""${unigramDpCtes(r.toString, s"v${r - 1}")},
       |bt$r AS (
       |  SELECT word, st, CAST(n AS INTEGER) AS pos, CAST(NULL AS VARCHAR) AS piece
       |  FROM dpres$r
       |  UNION ALL
       |  SELECT word, st, pos - $j, word[pos - $j + 1 : pos]
       |  FROM bt$r WHERE pos > 0
       |), use$r AS (
       |  SELECT b.piece, CAST(sum(f.n_occ) AS BIGINT) AS u
       |  FROM bt$r b JOIN forms f USING (word)
       |  WHERE b.piece IS NOT NULL
       |  GROUP BY 1
       |), scored$r AS (
       |  SELECT v.piece, CAST(coalesce(u.u, 0) AS BIGINT) AS u
       |  FROM v${r - 1} v LEFT JOIN use$r u USING (piece)
       |), keptm$r AS (
       |  SELECT piece, u,
       |         row_number() OVER (ORDER BY u DESC, piece) AS rk,
       |         count(*) OVER () AS nm
       |  FROM scored$r WHERE length(piece) > 1 AND u >= 1
       |), kept$r AS (
       |  SELECT piece, greatest(u, 1) AS cnt FROM scored$r WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, u AS cnt FROM keptm$r WHERE rk <= $capSql
       |), tot$r AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS t FROM kept$r
       |), v$r AS MATERIALIZED (
       |  SELECT piece, CAST(cnt AS BIGINT) AS cnt,
       |         CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000000.0) AS BIGINT) AS lp
       |  FROM kept$r CROSS JOIN tot$r
       |)""".stripMargin
  }

  /** Twin of `unigram_train_vocab`: the full unrolled training. */
  private lazy val UnigramTrainVocabSql: String = {
    val rounds = (1 to 2).map(unigramEmRoundCtes(_)).mkString(",\n")
    s"""WITH RECURSIVE $UnigramSharedCtes,
       |$rounds
       |SELECT piece, cnt, lp AS lp_nano FROM v2 ORDER BY piece""".stripMargin
  }

  /** Twin of `unigram_train_doc_stats`: train (same unrolled rounds),
    * then one more scoring DP under the trained vocab and the
    * [[UnigramSql]] doc-stats tail.
    */
  private lazy val UnigramTrainDocStatsSql: String = {
    val rounds = (1 to 2).map(unigramEmRoundCtes(_)).mkString(",\n")
    s"""WITH RECURSIVE $UnigramSharedCtes,
       |$rounds,
       |${unigramDpCtes("f", "v2")},
       |wres AS (
       |  SELECT word,
       |         CAST((st[n + 1] - (((st[n + 1] % 512) + 512) % 512)) / 512 AS BIGINT) AS score_nano,
       |         63 - CAST(((((st[n + 1] % 512) + 512) % 512) - ((((st[n + 1] % 512) + 512) % 512) % 8)) / 8 AS BIGINT) AS n_pieces
       |  FROM dpresf
       |), docstats AS (
       |  SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
       |         CAST(sum(score_nano) AS BIGINT) AS lp_nano_sum
       |  FROM wocc w JOIN wres USING (word) GROUP BY 1
       |)
       |SELECT d.doc_id,
       |       CAST(coalesce(s.n_words, 0) AS BIGINT) AS n_words,
       |       CAST(coalesce(s.n_pieces, 0) AS BIGINT) AS n_pieces,
       |       CAST(coalesce(s.lp_nano_sum, 0) AS BIGINT) AS lp_nano_sum
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN docstats s USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Generated DuckDB twin of `lang_xent_matrix`: the same per-lang
    * add-one models, nano roundings, wide pivot + OOV coalesce and
    * (actual, model) aggregation, classes interpolated from
    * [[NbLangs]].
    */
  private lazy val LangXentSql: String = {
    val cs = NbLangs
    val wide = cs.map(l =>
      s"max(CASE WHEN lang = '$l' THEN lp END) AS lp_$l")
      .mkString(",\n         ")
    val ow = cs.map(l =>
      s"max(CASE WHEN lang = '$l' THEN lp0 END) AS o_$l")
      .mkString(",\n         ")
    val ssum = cs.map(l =>
      s"CAST(sum(coalesce(lp_$l, o_$l)) AS BIGINT) AS s_$l")
      .mkString(",\n         ")
    val longSel = cs.map(l =>
      s"SELECT lang AS actual_lang, '$l' AS model_lang, nb, s_$l AS lp FROM perdoc")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH norm AS (
       |  SELECT doc_id, lang, trim(regexp_replace(lower(text), '$Ws', ' ', 'g')) AS s
       |  FROM documents
       |), bgall AS (
       |  SELECT doc_id, lang,
       |         unnest(list_transform(range(1, length(s)), i -> s[i:i+1])) AS bigram
       |  FROM norm WHERE length(s) >= 2
       |), tr AS (
       |  SELECT * FROM bgall WHERE ((doc_id % 5) + 5) % 5 <> 0
       |), ho AS (
       |  SELECT * FROM bgall WHERE ((doc_id % 5) + 5) % 5 = 0
       |), counts AS (
       |  SELECT lang, bigram, CAST(count(*) AS BIGINT) AS cnt FROM tr GROUP BY 1, 2
       |), tot AS (
       |  SELECT lang, CAST(sum(cnt) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v
       |  FROM counts GROUP BY 1
       |), model AS (
       |  SELECT c.lang, c.bigram,
       |         CAST(round(ln((CAST(cnt AS DOUBLE) + 1.0) / (CAST(t AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000000.0) AS BIGINT) AS lp
       |  FROM counts c JOIN tot USING (lang)
       |), oov AS (
       |  SELECT lang,
       |         CAST(round(ln(1.0 / (CAST(t AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000000.0) AS BIGINT) AS lp0
       |  FROM tot
       |), wide AS (
       |  SELECT bigram,
       |         $wide
       |  FROM model GROUP BY 1
       |), o AS (
       |  SELECT $ow
       |  FROM oov
       |), perdoc AS (
       |  SELECT ho.doc_id, ho.lang, CAST(count(*) AS BIGINT) AS nb,
       |         $ssum
       |  FROM ho LEFT JOIN wide USING (bigram) CROSS JOIN o
       |  GROUP BY 1, 2
       |), longf AS (
       |  $longSel
       |)
       |SELECT actual_lang, model_lang, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(nb) AS BIGINT) AS n_bigrams,
       |       CAST(sum(lp) AS BIGINT) AS lp_nano_sum
       |FROM longf GROUP BY 1, 2 ORDER BY actual_lang, model_lang""".stripMargin
  }

  /** Shared language-ID prediction CTEs (`base`, `h`, `pred`): the
    * stopword-hit argmax exactly as [[TextStats.langId]] computes it.
    * `pred` exposes `doc_id, lang, p`.
    */
  private lazy val LangPredCtes: String = {
    val hits = TextStats.LangStopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(toks, t -> list_contains($lst, lower(t)))) AS hits_$lang"
    }.mkString(",\n         ")
    val langs = TextStats.LangStopwords.keys.toSeq.sorted
    val best = s"greatest(${langs.map(l => s"hits_$l").mkString(", ")})"
    val cases = langs.map(l =>
      s"WHEN hits_$l > 0 AND hits_$l = $best THEN '$l'").mkString("\n         ")
    s"""base AS (
       |  SELECT doc_id, lang, $Toks AS toks FROM documents
       |), h AS (
       |  SELECT doc_id, lang,
       |         $hits
       |  FROM base
       |), pred AS (
       |  SELECT doc_id, lang,
       |         CASE $cases ELSE 'und' END AS p
       |  FROM h
       |)""".stripMargin
  }
  private def toksOf(c: String) =
    s"""list_filter(regexp_split_to_array(trim($c), '$Ws'), x -> x <> '')"""
  private val Fingerprint =
    s"""md5(trim(regexp_replace(lower(text), '$Ws', ' ', 'g')))"""

  /** DuckDB twin of [[graft.llm.Multimodal.mediaFromDocuments]] →
    * [[graft.llm.Multimodal.decodeFeatures]]: the fixture builder's
    * dimension/size formulas computed directly (the Spark side builds
    * real PNG/JPEG/GIF/WAV bytes from these formulas and then PARSES
    * the headers back, so a hash match certifies the round trip).
    * Ends in `feat` with the [[graft.llm.Multimodal.featureSchema]]
    * columns. `strlen` is DuckDB's byte length ≙ Spark octet_length.
    */
  private val MediaFeatureCtes: String =
    """m AS (
      |  SELECT doc_id AS media_id,
      |         CAST(doc_id % 4 AS INTEGER) AS kind,
      |         CAST(doc_id AS BIGINT) AS d,
      |         CAST(strlen(text) AS BIGINT) AS n
      |  FROM documents
      |), feat AS (
      |  SELECT media_id,
      |         CASE WHEN kind IN (0, 1) THEN 'image'
      |              WHEN kind = 2 THEN 'video' ELSE 'audio' END AS media_type,
      |         CAST(CASE kind WHEN 0 THEN 57 + (8 + n % 32)
      |                        WHEN 1 THEN 59
      |                        WHEN 2 THEN 14 + 17 * (1 + d % 12)
      |                        ELSE 44 + (64 + n % 4096) * (1 + d % 2) * 2
      |              END AS BIGINT) AS n_bytes,
      |         CASE kind WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
      |                   WHEN 2 THEN 'gif' ELSE 'wav' END AS format,
      |         CAST(CASE kind WHEN 0 THEN 1 + d % 512
      |                        WHEN 1 THEN 16 + d % 1000
      |                        WHEN 2 THEN 1 + d % 256 END AS INTEGER) AS width,
      |         CAST(CASE kind WHEN 0 THEN 1 + n % 512
      |                        WHEN 1 THEN 16 + n % 1000
      |                        WHEN 2 THEN 1 + n % 256 END AS INTEGER) AS height,
      |         CAST(CASE kind WHEN 0 THEN 1 WHEN 1 THEN 1
      |                        WHEN 2 THEN 1 + d % 12
      |                        ELSE 64 + n % 4096 END AS INTEGER) AS n_frames,
      |         CAST(CASE WHEN kind = 0 THEN 3 -- PNG truecolor (color type 2)
      |                   WHEN kind = 1 THEN 3 -- JPEG 3-component SOF0
      |                   WHEN kind = 3 THEN 1 + d % 2 END AS INTEGER) AS channels,
      |         CAST(CASE WHEN kind = 3
      |              THEN ([8000,16000,44100])[CAST(d % 3 AS INTEGER) + 1]
      |              END AS INTEGER) AS sample_rate
      |  FROM m
      |)""".stripMargin

  /** Substring-dedup (w=5, minDocs=2) shared CTEs ending in
    * `isl(doc_id, pos, island)` — the DuckDB twin of
    * [[SubstringDedup.dupSpans]]'s duplicated-position islands, reused
    * by the span and per-doc-stats oracles.
    */
  private val SubstringDupCtes: String =
    s"""toks AS (
       |  SELECT doc_id, $Toks AS t FROM documents
       |), grams AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |         ('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15))::BIGINT AS h
       |  FROM toks, unnest(range(1, len(t) - 3)) AS u(i)
       |  WHERE len(t) >= 5
       |), dup AS (
       |  SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) >= 2
       |), dpos AS (
       |  SELECT g.doc_id, g.pos,
       |         lag(g.pos) OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS prev
       |  FROM grams g JOIN dup USING (h)
       |), isl AS (
       |  SELECT doc_id, pos,
       |         sum(CASE WHEN prev IS NULL OR pos - prev > 5 THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM dpos
       |)""".stripMargin

  /** Suffix-array shared CTEs ending in `sar(doc_id, pos, is_tok, rem,
    * sk, r)` — the DuckDB twin of [[graft.llm.SuffixArray.build]]:
    * the same corpus sequence (per-doc tokens + one unique sentinel,
    * vocabulary ranks by binary token order, sentinels below all
    * tokens), each suffix ranked by SORTING a materialized fixed-width
    * hex key. The key is PER-DOCUMENT — the suffix's own tokens plus
    * the doc's sentinel code — which is exact because unique sentinels
    * resolve every pairwise comparison within `min(rem)+1` symbols:
    * equal tokens run out at someone's sentinel, and sentinels are
    * mutually distinct and below all tokens. (An earlier corpus-scalar
    * formulation was quadratic: 3M `substr`s each copying a 15 MB
    * `string_agg` scalar.) 5 hex digits per symbol holds any key below
    * 2^20 (docs + vocab); keys are ≤ 5·(maxDocLen+1) chars.
    */
  private val SuffixCtes: String =
    s"""sadocs AS MATERIALIZED (
       |  SELECT doc_id, $Toks AS toks,
       |         row_number() OVER (ORDER BY doc_id) AS dseq
       |  FROM documents
       |), dcount AS (SELECT count(*) AS d FROM sadocs),
       |pt AS (
       |  SELECT doc_id, dseq, len(toks) AS n_tok,
       |         CAST(i AS BIGINT) AS pos, toks[i] AS tok
       |  FROM sadocs, unnest(range(1, len(toks) + 1)) AS u(i)
       |), savocab AS MATERIALIZED (
       |  SELECT tok, row_number() OVER (ORDER BY tok) AS vr
       |  FROM (SELECT DISTINCT tok FROM pt)
       |), wguard AS (
       |  -- %05x holds symbol codes up to 2^20-1; past that printf
       |  -- silently widens to 6 chars and every substr stride below is
       |  -- wrong. FAIL instead of corrupting (round-10 ADVICE).
       |  SELECT CASE WHEN (SELECT d FROM dcount) +
       |                   coalesce((SELECT max(vr) FROM savocab), 0)
       |                   >= 1048576
       |              THEN error('suffix oracle: docs+vocab >= 2^20 overflows the %05x fixed-width key')
       |              ELSE 1 END AS ok
       |), dstr AS MATERIALIZED (
       |  SELECT s.doc_id, s.dseq, len(s.toks) AS n_tok,
       |         coalesce(tc.c, '') ||
       |           printf('%05x', s.dseq * (SELECT ok FROM wguard)) AS dc
       |  FROM sadocs s LEFT JOIN (
       |    SELECT pt.doc_id,
       |           string_agg(printf('%05x', (SELECT d FROM dcount) + v.vr),
       |                      '' ORDER BY pt.pos) AS c
       |    FROM pt JOIN savocab v USING (tok) GROUP BY pt.doc_id) tc
       |    USING (doc_id)
       |), sar AS MATERIALIZED (
       |  SELECT doc_id, pos, is_tok, rem, sk, rank() OVER (ORDER BY sk) AS r
       |  FROM (
       |    SELECT doc_id, CAST(i AS BIGINT) AS pos, TRUE AS is_tok,
       |           n_tok - i + 1 AS rem, substr(dc, (i - 1) * 5 + 1) AS sk
       |    FROM dstr, unnest(range(1, n_tok + 1)) AS u(i)
       |    UNION ALL
       |    SELECT doc_id, n_tok + 1 AS pos, FALSE, 0 AS rem,
       |           substr(dc, n_tok * 5 + 1) AS sk
       |    FROM dstr)
       |)""".stripMargin

  /** Symbol budget of the LCP twin's fixed block ladder: documents may
    * carry at most this many symbols (tokens + sentinel). The fixture
    * corpora cap at 100 tokens/doc at every rung (sf10/sf100 are
    * key-offset copies of sf0.1 text); the ladder guard `error()`s
    * rather than mis-scanning if a future fixture exceeds it.
    */
  private val LcpMaxSymbols = 128

  /** Adjacent-pair LCP CTEs on top of [[SuffixCtes]], ending in
    * `lc(lo_doc_id, lo_pos, rank_hi, lcp)`: rank-adjacent suffixes
    * compared over their bounded per-document sort keys, scanning at
    * most `least(rem_lo, rem_hi)` symbols (the sentinel caps every
    * LCP).
    *
    * ROW-PRESERVING by construction: the first differing 8-symbol
    * block and the differing symbol within it are found by FIXED CASE
    * ladders ([[LcpMaxSymbols]]/8 block compares + 8 symbol compares
    * per pair), not an unnest — the earlier block/symbol explode
    * carried O(pairs × blocks) rows and OOM'd an 80 GB DuckDB at the
    * 27M-pair decade (round-10 standing exception). One row per
    * adjacent pair flows end to end; the substr length caps keep every
    * compare inside `bnd`, so sentinel bytes past the shorter suffix
    * never leak in.
    */
  private val SuffixLcpCtes: String = suffixLcpCtes("TRUE")

  /** [[SuffixLcpCtes]] with the adjacent-pair relation restricted by
    * `pairFilter` (over aliases `a` = rank r, `b` = rank r+1): the
    * sampled certifiable form's hook. The filter lands INSIDE `pr`, so
    * a rank-keyed stratum cuts the pair frame — the part whose 27M ×
    * ~1.3 KB sort-key rows are what overran the 80 GB single-node
    * oracle at sf10 — before anything materializes; `sar` itself is
    * the certified-feasible piece (the `suffix_rank_docs` twin sorts
    * it in ~199 s at sf10). Carries BOTH endpoints so the sampled
    * query can pin (doc, pos) on each side.
    */
  private def suffixLcpCtes(pairFilter: String): String = {
    val blkCase = (1 to LcpMaxSymbols / 8).map { b =>
      val off = (b - 1) * 40 + 1
      val ln = s"CAST(least(8, bnd - ${(b - 1) * 8}) * 5 AS BIGINT)"
      s"WHEN bnd > ${(b - 1) * 8} AND substr(sk_lo, $off, $ln) <> substr(sk_hi, $off, $ln) THEN $b"
    }.mkString("\n    ")
    val fineCase = (1 to 8).map { o =>
      val t = s"((mbv - 1) * 8 + $o)"
      s"WHEN $t <= bnd AND substr(sk_lo, ($t - 1) * 5 + 1, 5) <> substr(sk_hi, ($t - 1) * 5 + 1, 5) THEN $t"
    }.mkString("\n    ")
    s"""pr AS (
       |  SELECT a.doc_id AS lo_doc_id, a.pos AS lo_pos, b.r AS rank_hi,
       |         b.doc_id AS hi_doc_id, b.pos AS hi_pos,
       |         least(a.rem, b.rem) AS bnd, a.sk AS sk_lo, b.sk AS sk_hi
       |  FROM sar a JOIN sar b ON b.r = a.r + 1
       |  WHERE $pairFilter
       |), lguard AS (
       |  SELECT CASE WHEN (SELECT max(bnd) FROM pr) > $LcpMaxSymbols
       |              THEN error('suffix LCP twin: a doc exceeds $LcpMaxSymbols symbols - widen LcpMaxSymbols')
       |              ELSE 0 END AS pad
       |), mbt AS (
       |  SELECT rank_hi, lo_doc_id, lo_pos, hi_doc_id, hi_pos, bnd,
       |         sk_lo, sk_hi,
       |    CASE $blkCase END AS mbv
       |  FROM pr
       |), ft AS (
       |  SELECT rank_hi, lo_doc_id, lo_pos, hi_doc_id, hi_pos, bnd,
       |    CASE WHEN mbv IS NULL THEN NULL
       |    $fineCase END AS fdiff
       |  FROM mbt
       |), lc AS (
       |  SELECT lo_doc_id, lo_pos, hi_doc_id, hi_pos, rank_hi,
       |         coalesce(fdiff, bnd + 1) - 1 + (SELECT pad FROM lguard) AS lcp
       |  FROM ft
       |)""".stripMargin
  }

  /** Winnowing (k=3, w=4) as shared CTEs ending in `wfp(doc_id, pos,
    * fp)` — the DuckDB twin of [[TextStats.winnowFingerprints]], reused
    * by the fingerprint and candidate-pair oracles.
    */
  private val WinnowCtes: String =
    s"""toks AS (
       |  SELECT doc_id, $Toks AS t FROM documents
       |), grams AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, array_to_string(t[i:i+2], ' ') AS gram
       |  FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
       |  WHERE len(t) >= 3
       |), hashed AS (
       |  SELECT doc_id, pos, ('0x' || substr(md5(gram), 1, 10))::BIGINT * 1048576 + pos AS combined
       |  FROM grams
       |), win AS (
       |  SELECT doc_id, pos,
       |         min(combined) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
       |         count(*) OVER (PARTITION BY doc_id) AS ng
       |  FROM hashed
       |), wfp AS (
       |  SELECT DISTINCT doc_id, CAST(sel % 1048576 AS BIGINT) AS pos,
       |         CAST(sel // 1048576 AS BIGINT) AS fp
       |  FROM win WHERE pos <= ng - 3
       |)""".stripMargin
  private val Shingles =
    """CASE WHEN len(toks) >= 3
      | THEN list_distinct(list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')))
      | ELSE [array_to_string(toks, ' ')] END""".stripMargin
  private val EnSw = TextStats.EnStopwords.map(w => s"'$w'").mkString("[", ",", "]")

  /** dot product in double with left-to-right accumulation (mirrors
    * Similarity.dot's fold order exactly).
    */
  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private def cosineSql(a: String, b: String) =
    s"""CASE WHEN sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}) > 0
       | THEN ${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))
       | ELSE 0.0 END""".stripMargin

  /** Spark's `round(x, 6)` on doubles rounds the SHORTEST DECIMAL REPR
    * of the value (`BigDecimal.valueOf` → `Double.toString`) with
    * HALF_UP — NOT the binary value. DuckDB's `round()` rounds the
    * binary value, so a raw double just below a repr boundary (e.g.
    * 0.26003949999999997, repr "0.2600395") rounds to 0.260039 in
    * DuckDB but 0.260040 in Spark. VARCHAR→DECIMAL reproduces the repr
    * semantics: DuckDB prints shortest round-trip reprs too, and its
    * DECIMAL round is HALF_UP (away from zero), matching Java. Same
    * quirk the semantic-dedup second oracle replicates in python
    * (tools/check_semdedup.py). Operand domain must fit DECIMAL(30,18)
    * (|x| < 1e12 — similarity scores are in [-1, 1]).
    */
  private def sround6(e: String) =
    s"CAST(round(CAST(CAST(($e) AS VARCHAR) AS DECIMAL(30,18)), 6) AS DOUBLE)"

  /** Unrolled MMR selection twin: the pool build, then `selectK`
    * selection rounds, each one a MATERIALIZED pick CTE (per-query
    * argmax of the 6-rounded score, neighbor_id tiebreak) + a
    * MATERIALIZED remaining-candidates CTE with the running max
    * pairwise similarity — the same per-round states
    * [[Similarity.mmrRerank]] checkpoints. λ and μ are printed
    * literals CAST to DOUBLE on both engines (`1.0 - 0.7` would be
    * decimal-exact 0.3 in DuckDB but 0.30000000000000004 in the JVM),
    * and every 6-round is the repr-faithful [[sround6]].
    */
  private def mmrSql(poolK: Int, selectK: Int, lambda: Double,
                     mu: Double): String = {
    val score = sround6(s"CAST($lambda AS DOUBLE)*rel - " +
      s"CAST($mu AS DOUBLE)*maxsim")
    val rounds = (1 to selectK).map { t =>
      val pick =
        s"""p$t AS MATERIALIZED (
           |  SELECT query_id, $t AS mmr_rank, neighbor_id, score, emb
           |  FROM (SELECT query_id, neighbor_id, emb, $score AS score,
           |               row_number() OVER (PARTITION BY query_id
           |                 ORDER BY $score DESC, neighbor_id) AS rn
           |        FROM c${t - 1})
           |  WHERE rn = 1
           |)""".stripMargin
      val next =
        if (t == selectK) ""
        else
          s""",
             |c$t AS MATERIALIZED (
             |  SELECT c.query_id, c.neighbor_id, c.rel, c.emb,
             |         greatest(c.maxsim, ${sround6(cosineSql("c.emb", "p.emb"))}) AS maxsim
             |  FROM c${t - 1} c JOIN p$t p USING (query_id)
             |  WHERE c.neighbor_id <> p.neighbor_id
             |)""".stripMargin
      pick + next
    }.mkString(",\n")
    val unions = (1 to selectK)
      .map(t => s"SELECT query_id, mmr_rank, neighbor_id, score FROM p$t")
      .mkString("\n  UNION ALL ")
    s"""WITH q AS MATERIALIZED (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 4),
       |pool AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, rel, emb FROM (
       |    SELECT query_id, neighbor_id, rel, emb,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY rel DESC, neighbor_id) AS rn
       |    FROM (SELECT q.query_id, e.vec_id AS neighbor_id,
       |                 ${sround6(cosineSql("q.qe", "e.embedding"))} AS rel,
       |                 e.embedding AS emb
       |          FROM embeddings e, q WHERE e.vec_id <> q.query_id)
       |  ) WHERE rn <= $poolK
       |),
       |c0 AS MATERIALIZED (SELECT query_id, neighbor_id, rel, emb, 0.0 AS maxsim FROM pool),
       |$rounds
       |SELECT query_id, CAST(mmr_rank AS INTEGER) AS mmr_rank, neighbor_id, score
       |FROM ($unions)
       |ORDER BY query_id, mmr_rank""".stripMargin
  }

  /** 32-bit simhash as generated SQL (bit j from md5 hex nibble j). */
  private val SimhashSql: String = {
    val bits = (0 until 32).map { j =>
      s"(CASE WHEN 2*len(list_filter(hs, h -> substr(h, ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f'))) - len(hs) > 0 THEN ${1L << j} ELSE 0 END)"
    }
    bits.mkString("CAST(", " + ", " AS BIGINT)")
  }

  private val SigExprs = (0 until 8).map { p =>
    s"list_min(list_transform(shingles, x -> md5('$p' || ':' || x))) AS sig_$p"
  }.mkString(",\n       ")

  /** DuckDB twin of the PII construction + scrub chain (regex subset is
    * shared Java-regex/RE2; DuckDB needs the 'g' flag to replace all).
    */
  private val ScrubbedSql: String = {
    // single line: this fragment nests inside stripMargin oracle strings,
    // where an embedded "\n ||" would lose a pipe to margin stripping
    val raw = Seq(
      "text", "' contact user'", "CAST(doc_id AS VARCHAR)",
      "'@mail.example.com'", "' or call 555-'",
      "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')", "'-'",
      "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')", "' from 10.0.'",
      "CAST(doc_id % 256 AS VARCHAR)", "'.7'").mkString(" || ")
    Curation.PiiRules.foldLeft(s"($raw)") { case (acc, (pat, tok)) =>
      val sqlPat = pat.replace("'", "''")
      s"regexp_replace($acc, '$sqlPat', '$tok', 'g')"
    }
  }
  private def redactionsSql(token: String): String =
    s"CAST((length(scrubbed) - length(regexp_replace(scrubbed, '$token', '', 'g'))) / ${token.length} AS BIGINT)"

  private val StratifiedKeepSql: String = {
    val cases = SampleFractions.toSeq.sortBy(_._1).map { case (lang, f) =>
      s"WHEN '$lang' THEN ${Curation.sampleBucketSql("doc_id", 12345L)} < ${(f * 1e6).toLong}"
    }.mkString("\n         ")
    s"CASE lang $cases ELSE FALSE END"
  }

  /** ALL shingles, repeats preserved (the $Shingles fragment without
    * list_distinct) — mirror of [[Curation.shinglesAll]].
    */
  private val ShinglesAll =
    """CASE WHEN len(toks) >= 3
      | THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))
      | ELSE [array_to_string(toks, ' ')] END""".stripMargin

  private def dupRatioSql(c: String) =
    s"""round(CASE WHEN len($c) > 0
       | THEN CAST(1 AS DOUBLE) - CAST(len(list_distinct($c)) AS DOUBLE) / CAST(len($c) AS DOUBLE)
       | ELSE 0.0 END, 6)""".stripMargin

  /** Shared by near_dup_clusters / near_dup_clusters_logstar /
    * near_dedup_survivors_exact / the funnel composite: the
    * recursive-CTE transitive closure over the LSH candidate graph of
    * `src` (a relation providing (doc_id, text)), ending at
    * `reach(id, r)`. CTE names are `nb`-prefixed so the chain composes
    * with other CTE blocks (e.g. the curation funnel).
    */
  /** MinHash LSH candidate pairs (est. Jaccard ≥ 0.5) of `src` as shared
    * CTEs ending in `npairs(id_a, id_b)` — the DuckDB twin of
    * [[MinHash.dupPairs]] + threshold, reused by the closure chain and
    * the edit-distance verification oracle.
    */
  private def minhashPairCtes(src: String): String = {
    val matchSum = (0 until 8).map(p =>
      s"(CASE WHEN sa.sig_$p = sb.sig_$p THEN 1 ELSE 0 END)").mkString(" + ")
    s"""nbase AS (
       |  SELECT doc_id, $Toks AS toks FROM $src
       |), nsh AS (
       |  SELECT doc_id, $Shingles AS shingles FROM nbase
       |), nsigs AS MATERIALIZED (
       |  SELECT doc_id,
       |       $SigExprs
       |  FROM nsh
       |), nbands AS MATERIALIZED (
       |  SELECT doc_id, u.b AS band_idx,
       |         CASE u.b WHEN 0 THEN sig_0 || '|' || sig_1
       |                  WHEN 1 THEN sig_2 || '|' || sig_3
       |                  WHEN 2 THEN sig_4 || '|' || sig_5
       |                  ELSE sig_6 || '|' || sig_7 END AS band_val
       |  FROM nsigs, (SELECT unnest([0,1,2,3]) AS b) u
       |), ncand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM nbands a JOIN nbands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id
       |), npairs AS MATERIALIZED (
       |  SELECT c.id_a, c.id_b
       |  FROM ncand c JOIN nsigs sa ON c.id_a = sa.doc_id
       |               JOIN nsigs sb ON c.id_b = sb.doc_id
       |  WHERE ($matchSum) / 8.0 >= 0.5
       |)""".stripMargin
  }

  private def nearDupClosureCtes(src: String): String = {
    s"""${minhashPairCtes(src)}, nedges AS MATERIALIZED (
       |  SELECT id_a AS a, id_b AS b FROM npairs
       |  UNION SELECT id_b, id_a FROM npairs
       |), reach AS (
       |  SELECT a AS id, a AS r FROM (SELECT DISTINCT a FROM nedges)
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN nedges e ON reach.r = e.a
       |)""".stripMargin
  }

  /** The curation funnel's scoring front half as shared CTEs ending at
    * `fscored` (every document with `n_tokens`, ratio attributes,
    * `quality_score`, `lang_pred`, `fingerprint`) — shared by the
    * rule-only funnel ([[FunnelCtes]]) and the trained-gate funnel
    * (`curation_funnel_probe`), which diverge only in what sits
    * between the rule filter and the dedup QUALIFY.
    */
  private val FunnelScoredCtes: String = {
    val hits = TextStats.LangStopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(toks, t -> list_contains($lst, lower(t)))) AS hits_$lang"
    }.mkString(",\n         ")
    val langs = TextStats.LangStopwords.keys.toSeq.sorted
    val best = s"greatest(${langs.map(l => s"hits_$l").mkString(", ")})"
    val langCases = langs.map(l =>
      s"WHEN hits_$l > 0 AND hits_$l = $best THEN '$l'").mkString(" ")
    s"""fbase AS (
       |  SELECT doc_id, text, $Toks AS toks FROM documents
       |), fstats AS (
       |  SELECT doc_id, text, toks,
       |         CAST(len(toks) AS BIGINT) AS n_tokens,
       |         CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}-]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct_ratio,
       |         CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains($EnSw, lower(t)))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS stopword_ratio,
       |         CASE WHEN len(toks) > 0 THEN CAST(1 AS DOUBLE) - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS dup_token_ratio,
       |         $Fingerprint AS fingerprint,
       |         $hits
       |  FROM fbase
       |), fscored AS (
       |  SELECT *,
       |         least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.5
       |           + (CASE WHEN punct_ratio < 0.2 THEN 1.0 ELSE 0.5 END) * 0.25
       |           + (CASE WHEN stopword_ratio > 0.05 THEN 1.0 ELSE 0.5 END) * 0.25 AS quality_score,
       |         CASE $langCases ELSE 'und' END AS lang_pred
       |  FROM fstats
       |)""".stripMargin
  }

  /** The full rule-only curation funnel ending at `sampled` —
    * the DuckDB twin of [[Curation.curateCorpus]] at minQuality 0.5,
    * maxDupTokenRatio 0.9, sampleFraction 0.5, seed 12345.
    */
  private val FunnelCtes: String =
    s"""$FunnelScoredCtes, fdeduped AS (
       |  SELECT * FROM fscored
       |  WHERE quality_score >= 0.5 AND dup_token_ratio <= 0.9
       |  QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
       |), sampled AS (
       |  SELECT * FROM fdeduped
       |  WHERE ${Curation.sampleBucketSql("doc_id", 12345L)} < 500000
       |)""".stripMargin

  /** Round budget for [[minLabelRoundsSql]]. The GUARANTEED coverage is
    * one hop per round (the neighbor-min step alone): after r rounds
    * every node within BFS distance r of its component's min id carries
    * the min. The pointer-jump step accelerates that geometrically on
    * id-aligned chains (a monotone-id path closes in O(log d) rounds)
    * but gives NO general guarantee: when intermediate labels don't
    * point toward the min — ids shuffled along the path, or the tangled
    * dup blobs a 10-copy corpus produces — the jump degrades to ~1.4
    * hops/round (`ScaleStressSpec`'s permuted-path case is the
    * deterministic counterexample; the sf1 winnow giant component of
    * 21,200 docs, eccentricity 19 from its min, was the live one: 10
    * rounds left 1,140 labels unconverged). 24 rounds therefore certify
    * any component of eccentricity ≤ 24 unconditionally — the sf1 bound
    * plus a 26% margin. An insufficient budget fails LOUD (label ≠
    * component min ⇒ hash mismatch at the gate), never silently.
    */
  private[graft] val MinLabelRounds = 24

  /** Bounded-round min-label twin of
    * [[graft.ops.ConnectedComponents.componentsAlternating]]'s result
    * (labels = component MIN id): `lab0..labN` CTEs over a symmetric
    * edge relation `edgesCte(a, b)`; per round, every node takes the
    * min label over itself + neighbors (`nm_i`), then jumps through its
    * own label's label (`lab_i`) — linear in edges per round, all
    * MATERIALIZED (DuckDB would otherwise inline the chain
    * multiplicatively). Mirrored 1:1 by `ScaleStressSpec`'s in-memory
    * model, which certifies the round budget.
    */
  private[graft] def minLabelRoundsSql(edgesCte: String, rounds: Int): String = {
    val chain = (1 to rounds).map { i =>
      s"""nm$i AS MATERIALIZED (
         |  SELECT v.id, least(v.l, min(u.l)) AS l
         |  FROM lab${i - 1} v JOIN $edgesCte e ON v.id = e.a
         |                     JOIN lab${i - 1} u ON e.b = u.id
         |  GROUP BY v.id, v.l
         |),
         |lab$i AS MATERIALIZED (
         |  SELECT n.id, least(n.l, coalesce(n2.l, n.l)) AS l
         |  FROM nm$i n LEFT JOIN nm$i n2 ON n.l = n2.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""lab0 AS MATERIALIZED (
       |  SELECT a AS id, a AS l FROM (SELECT DISTINCT a FROM $edgesCte)
       |),
       |$chain""".stripMargin
  }

  private val NearDupClustersSql: String =
    s"""WITH RECURSIVE ${nearDupClosureCtes("documents")}
       |SELECT id AS doc_id, min(r) AS cluster_id
       |FROM reach GROUP BY 1
       |ORDER BY cluster_id, doc_id""".stripMargin

  /** Min-survivor dedup from the same closure: survivors = every doc
    * except cluster members above their cluster minimum.
    */
  private val NearDupSurvivorsExactSql: String =
    s"""WITH RECURSIVE ${nearDupClosureCtes("documents")},
       |cl AS (SELECT id, min(r) AS m FROM reach GROUP BY 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM cl WHERE m <> id)""".stripMargin

  def oracleSql: Map[String, String] = staticOracleSql ++ trainedOracleEntries

  /** The IVF oracle is DATA-DERIVED: it embeds the trained quantizer's
    * centroids as float literals (model parameters, like the multiprobe
    * oracle embeds its bit-flip constants) and replicates the map-only
    * assignment argmax, the per-query probe ranking, and the top-k
    * window in SQL. Centroids come from [[graft.llm.Similarity
    * .kMeansCentroidsCached]] — the SAME array instance the query
    * trained — because distributed float averaging is only reproducible
    * up to partial-sum merge order, so re-training for the oracle would
    * not be a contract. The data dir comes from `graft.oracle.sfDir`
    * (set by [[graft.Verify]] before dumping, and by ContractSpec); with
    * no dir and no active session to train on demand, the entry is
    * omitted and the driver records the weaker rows-only check.
    */
  private def trainedOracleEntries: Map[String, String] = {
    val centsOpt = sys.props.get("graft.oracle.sfDir").flatMap { dir =>
      Similarity.trainedCentroids(ivfTag(dir)).orElse {
        org.apache.spark.sql.SparkSession.getActiveSession.map { s =>
          Similarity.kMeansCentroidsCached(ivfTag(dir),
            tPar(s, dir, "embeddings"), "vec_id", "embedding",
            k = 8, iters = 3)
        }
      }
    }
    // float literals go through a STRING cast: DuckDB parses a bare
    // numeric `x::FLOAT` via decimal and can land 1 ulp off the nearest
    // float32, while CAST('x' AS FLOAT) round-trips Scala's shortest
    // repr exactly (caught by knn_cosine_pq at sf0.01: one ADC term
    // differed 4e-10 and crossed a 6-decimal rounding boundary)
    def fLit(x: Float): String = s"'$x'::FLOAT"
    val centRowsOpt = centsOpt.map { cents =>
      cents.zipWithIndex.map { case (c, i) =>
        c.map(fLit).mkString(s"    ($i, list_value(", ", ", "))")
      }.mkString(",\n")
    }
    val ivfEntries = centRowsOpt.toSeq.flatMap { rows =>
      Seq(ivfEntry(rows), semanticDedupEntry(rows), silhouetteEntry(rows))
    }.toMap
    val booksOpt = sys.props.get("graft.oracle.sfDir").flatMap { dir =>
      Similarity.trainedCodebooks(pqTag(dir), m = 4).orElse {
        org.apache.spark.sql.SparkSession.getActiveSession.map { s =>
          Similarity.pqCodebooksCached(pqTag(dir),
            tPar(s, dir, "embeddings"), "vec_id", "embedding",
            dims = 64, m = 4, k = 8, iters = 2)
        }
      }
    }
    val bookRowsOpt = booksOpt.map { books =>
      books.zipWithIndex.flatMap { case (cb, s) =>
        cb.zipWithIndex.map { case (c, i) =>
          c.map(fLit).mkString(s"    ($s, $i, list_value(", ", ", "))")
        }
      }.mkString(",\n")
    }
    val pqEntries = bookRowsOpt.toSeq.flatMap { rows =>
      Seq(pqEntry(rows), pqRefinedEntry(rows))
    }.toMap
    // the composed index needs BOTH trained artifacts
    val ivfpqEntries = (for {
      centRows <- centRowsOpt; bookRows <- bookRowsOpt
    } yield ivfpqEntry(centRows, bookRows)).toMap
    // the sized unigram twin's round count is data-derived, like the
    // centroids: reuse the round count the query's own training run
    // produced (peek the memo; train via the active session otherwise)
    val sizedRoundsOpt = sys.props.get("graft.oracle.sfDir").flatMap { dir =>
      unigramSizedMemo.peek(dir).map(_._2).orElse {
        org.apache.spark.sql.SparkSession.getActiveSession
          .map(s => unigramTrainedSized(s, dir)._2)
      }
    }
    val sizedEntries = sizedRoundsOpt.map(unigramSizedEntry).toMap
    ivfEntries ++ pqEntries ++ ivfpqEntries ++ sizedEntries
  }

  /** Twin of `unigram_train_vocab_sized`: `rounds` unrolled EM rounds
    * under the target-floored floor-3/4 prune cap, with the derived
    * round count CERTIFIED, not trusted — the final select `error()`s
    * unless round `rounds` lands ≤ [[UnigramTargetMulti]] multi pieces
    * AND round `rounds−1` was still above it (minimality), so a wrong
    * Spark-side derivation can never silently pass the gate.
    */
  private def unigramSizedEntry(rounds: Int): (String, String) = {
    val t = UnigramTargetMulti
    val cap = s"greatest($t, (nm * 3) // 4)"
    val roundCtes =
      (1 to rounds).map(unigramEmRoundCtes(_, cap)).mkString(",\n")
    val prevGuard =
      if (rounds == 0) "TRUE"
      else s"(SELECT count(*) FROM v${rounds - 1} WHERE length(piece) > 1) > $t"
    val ctes =
      if (rounds == 0) s"WITH RECURSIVE $UnigramSharedCtes"
      else s"WITH RECURSIVE $UnigramSharedCtes,\n$roundCtes"
    "unigram_train_vocab_sized" ->
      s"""$ctes
         |SELECT piece, cnt, lp AS lp_nano,
         |       CASE WHEN (SELECT count(*) FROM v$rounds WHERE length(piece) > 1) <= $t
         |             AND $prevGuard
         |            THEN CAST($rounds AS BIGINT)
         |            ELSE CAST(error('derived round count $rounds violates the <= $t stopping rule') AS BIGINT)
         |       END AS n_rounds
         |FROM v$rounds ORDER BY piece""".stripMargin
  }

  /** PQ twin: codebooks as (subspace, code, centroid) literals; encode =
    * per-subspace argmax over the sliced vector; ADC terms pivot to one
    * column per subspace so the 4-term sums fold left-to-right exactly
    * like the Spark expression; exact re-rank replicated on survivors.
    */
  private def pqEntry(rows: String): (String, String) =
    "knn_cosine_pq" ->
      s"""WITH ${pqCtes(rows)}
         |SELECT r.query_id, r.rank, r.neighbor_id, r.approx_sim,
         |       round(${cosineSql("q.qe", "e.embedding")}, 6) AS true_sim
         |FROM r JOIN q ON q.query_id = r.query_id
         |JOIN e ON e.vec_id = r.neighbor_id
         |WHERE r.rank <= 5
         |ORDER BY r.query_id, r.rank""".stripMargin

  /** Refined-PQ twin: the SAME codebook/encode/ADC chain shortlists the
    * ADC top-20 (k=5 · refine=4), exact cosine is computed on that
    * shortlist only, and the final rank re-orders by (true_sim desc,
    * neighbor_id) — replicating [[Similarity.knnPqRefined]]'s window
    * statement for statement.
    */
  private def pqRefinedEntry(rows: String): (String, String) =
    "knn_cosine_pq_refined" ->
      s"""WITH ${pqCtes(rows)},
         |cand AS (
         |  SELECT r.query_id, r.neighbor_id, r.approx_sim,
         |         round(${cosineSql("q.qe", "e.embedding")}, 6) AS true_sim
         |  FROM r JOIN q ON q.query_id = r.query_id
         |  JOIN e ON e.vec_id = r.neighbor_id
         |  WHERE r.rank <= 20
         |)
         |SELECT query_id, rank, neighbor_id, approx_sim, true_sim FROM (
         |  SELECT query_id,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY true_sim DESC, neighbor_id) AS INTEGER) AS rank,
         |         neighbor_id, approx_sim, true_sim
         |  FROM cand)
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin

  /** IVF-PQ twin ([[Similarity.knnIvfPq]]): BOTH trained artifacts as
    * literals — coarse centroids route (assignment argmax + per-query
    * top-2 probe, [[ivfEntry]]'s chain) and PQ codes score (encode +
    * pivoted ADC sums, [[pqCtes]]'s chain) — but the ADC join starts
    * from the PROBED candidate set instead of the full cross product,
    * then the exact-cosine refine re-orders the ADC top-20 and keeps 5,
    * statement-for-statement the Spark plan.
    */
  private def ivfpqEntry(centRows: String, cbRows: String): (String, String) = {
    val sub = 16
    def slAt(v: String, sRef: String) =
      s"$v[$sRef * $sub + 1 : $sRef * $sub + $sub]"
    "knn_cosine_ivfpq" ->
      s"""WITH cents AS (
         |  SELECT * FROM (VALUES
         |$centRows
         |  ) AS t(ci, cv)
         |), cb AS (
         |  SELECT * FROM (VALUES
         |$cbRows
         |  ) AS t(s, ci, cv)
         |), e AS (SELECT vec_id, embedding FROM embeddings),
         |scored AS (
         |  SELECT e.vec_id, c.ci,
         |         ${cosineSql("e.embedding", "c.cv")} AS s
         |  FROM e CROSS JOIN cents c
         |), assign AS (
         |  SELECT vec_id, ci AS bucket FROM (
         |    SELECT vec_id, ci,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn
         |    FROM scored) WHERE rn = 1
         |), enc AS (
         |  SELECT vec_id, s, ci AS code FROM (
         |    SELECT e.vec_id, cb.s, cb.ci,
         |           row_number() OVER (PARTITION BY e.vec_id, cb.s
         |             ORDER BY ${cosineSql(slAt("e.embedding", "cb.s"), "cb.cv")} DESC, cb.ci) AS rn
         |    FROM e CROSS JOIN cb) WHERE rn = 1
         |), q AS (
         |  SELECT vec_id AS query_id, embedding AS qe,
         |         ${dotSql("embedding", "embedding")} AS qn2
         |  FROM embeddings WHERE vec_id < 16
         |), qprobe AS (
         |  SELECT vec_id AS query_id, ci AS probe FROM (
         |    SELECT vec_id, ci,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn
         |    FROM scored WHERE vec_id < 16) WHERE rn <= 2
         |), cand AS (
         |  SELECT qp.query_id, a.vec_id AS neighbor_id
         |  FROM assign a JOIN qprobe qp ON a.bucket = qp.probe
         |  WHERE a.vec_id <> qp.query_id
         |), adc AS (
         |  SELECT cd.query_id, cd.neighbor_id, enc.s, q.qn2,
         |         ${dotSql(slAt("q.qe", "enc.s"), "cb.cv")} AS d,
         |         ${dotSql("cb.cv", "cb.cv")} AS c2
         |  FROM cand cd
         |  JOIN q ON q.query_id = cd.query_id
         |  JOIN enc ON enc.vec_id = cd.neighbor_id
         |  JOIN cb ON cb.s = enc.s AND cb.ci = enc.code
         |), p AS (
         |  SELECT query_id, neighbor_id, max(qn2) AS qn2,
         |         max(CASE WHEN s = 0 THEN d END) AS d0,
         |         max(CASE WHEN s = 1 THEN d END) AS d1,
         |         max(CASE WHEN s = 2 THEN d END) AS d2,
         |         max(CASE WHEN s = 3 THEN d END) AS d3,
         |         max(CASE WHEN s = 0 THEN c2 END) AS e0,
         |         max(CASE WHEN s = 1 THEN c2 END) AS e1,
         |         max(CASE WHEN s = 2 THEN c2 END) AS e2,
         |         max(CASE WHEN s = 3 THEN c2 END) AS e3
         |  FROM adc GROUP BY 1, 2
         |), sims AS (
         |  SELECT query_id, neighbor_id,
         |         round(CASE WHEN sqrt(qn2) * sqrt(e0 + e1 + e2 + e3) > 0
         |               THEN (d0 + d1 + d2 + d3) / (sqrt(qn2) * sqrt(e0 + e1 + e2 + e3))
         |               ELSE 0.0 END, 6) AS approx_sim
         |  FROM p
         |), r AS (
         |  SELECT query_id,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY approx_sim DESC, neighbor_id) AS INTEGER) AS rank,
         |         neighbor_id, approx_sim
         |  FROM sims
         |), short AS (
         |  SELECT r.query_id, r.neighbor_id, r.approx_sim,
         |         round(${cosineSql("q.qe", "e.embedding")}, 6) AS true_sim
         |  FROM r JOIN q ON q.query_id = r.query_id
         |  JOIN e ON e.vec_id = r.neighbor_id
         |  WHERE r.rank <= 20
         |)
         |SELECT query_id, rank, neighbor_id, approx_sim, true_sim FROM (
         |  SELECT query_id,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY true_sim DESC, neighbor_id) AS INTEGER) AS rank,
         |         neighbor_id, approx_sim, true_sim
         |  FROM short)
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
  }

  /** The shared PQ chain (codebook literals → per-subspace encode →
    * ADC terms → pivoted exact-order sums → `r(query_id, rank,
    * neighbor_id, approx_sim)`), ending ready for a final SELECT that
    * joins `q`/`e` back for exact re-rank columns.
    */
  private def pqCtes(rows: String): String = {
    val sub = 16
    def slAt(v: String, sRef: String) =
      s"$v[$sRef * $sub + 1 : $sRef * $sub + $sub]"
    s"""cb AS (
         |  SELECT * FROM (VALUES
         |$rows
         |  ) AS t(s, ci, cv)
         |), e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qe,
         |             ${dotSql("embedding", "embedding")} AS qn2
         |      FROM embeddings WHERE vec_id < 16),
         |enc AS (
         |  SELECT vec_id, s, ci AS code FROM (
         |    SELECT e.vec_id, cb.s, cb.ci,
         |           row_number() OVER (PARTITION BY e.vec_id, cb.s
         |             ORDER BY ${cosineSql(slAt("e.embedding", "cb.s"), "cb.cv")} DESC, cb.ci) AS rn
         |    FROM e CROSS JOIN cb) WHERE rn = 1
         |), adc AS (
         |  SELECT q.query_id, enc.vec_id AS neighbor_id, enc.s, q.qn2,
         |         ${dotSql(slAt("q.qe", "enc.s"), "cb.cv")} AS d,
         |         ${dotSql("cb.cv", "cb.cv")} AS c2
         |  FROM q CROSS JOIN enc
         |  JOIN cb ON cb.s = enc.s AND cb.ci = enc.code
         |  WHERE enc.vec_id <> q.query_id
         |), p AS (
         |  SELECT query_id, neighbor_id, max(qn2) AS qn2,
         |         max(CASE WHEN s = 0 THEN d END) AS d0,
         |         max(CASE WHEN s = 1 THEN d END) AS d1,
         |         max(CASE WHEN s = 2 THEN d END) AS d2,
         |         max(CASE WHEN s = 3 THEN d END) AS d3,
         |         max(CASE WHEN s = 0 THEN c2 END) AS e0,
         |         max(CASE WHEN s = 1 THEN c2 END) AS e1,
         |         max(CASE WHEN s = 2 THEN c2 END) AS e2,
         |         max(CASE WHEN s = 3 THEN c2 END) AS e3
         |  FROM adc GROUP BY 1, 2
         |), sims AS (
         |  SELECT query_id, neighbor_id,
         |         round(CASE WHEN sqrt(qn2) * sqrt(e0 + e1 + e2 + e3) > 0
         |               THEN (d0 + d1 + d2 + d3) / (sqrt(qn2) * sqrt(e0 + e1 + e2 + e3))
         |               ELSE 0.0 END, 6) AS approx_sim
         |  FROM p
         |), r AS (
         |  SELECT query_id,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY approx_sim DESC, neighbor_id) AS INTEGER) AS rank,
         |         neighbor_id, approx_sim
         |  FROM sims
         |)""".stripMargin
  }

  /** SemDeDup twin over the same trained centroids: assignment argmax,
    * within-cluster pairs at rounded cosine ≥ 0.3, recursive-CTE
    * closure, min-id survivors. (The Spark side's hot-cluster
    * sub-salting only engages above 10k rows per cluster — far beyond
    * the gated scales — so within-cluster pairing here is exact.)
    */
  private def semanticDedupEntry(rows: String): (String, String) =
    "semantic_dedup_stats" ->
      s"""WITH RECURSIVE cents AS (
         |  SELECT * FROM (VALUES
         |$rows
         |  ) AS t(ci, cv)
         |), e AS (SELECT vec_id, embedding FROM embeddings),
         |scored AS (
         |  SELECT e.vec_id, e.embedding, c.ci,
         |         ${cosineSql("e.embedding", "c.cv")} AS s
         |  FROM e CROSS JOIN cents c
         |), assign AS (
         |  SELECT vec_id, embedding, ci AS bucket FROM (
         |    SELECT vec_id, embedding, ci,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn
         |    FROM scored) WHERE rn = 1
         |), sp AS (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib
         |  FROM assign a JOIN assign b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= 0.3
         |), sedges AS (
         |  SELECT ia AS a, ib AS b FROM sp
         |  UNION SELECT ib, ia FROM sp
         |), sreach AS (
         |  SELECT a AS id, a AS r FROM (SELECT DISTINCT a FROM sedges)
         |  UNION
         |  SELECT sreach.id, e2.b FROM sreach JOIN sedges e2 ON sreach.r = e2.a
         |), scl AS (SELECT id, min(r) AS m FROM sreach GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(vec_id) AS BIGINT) AS id_sum
         |FROM embeddings
         |WHERE vec_id NOT IN (SELECT id FROM scl WHERE m <> id)""".stripMargin

  /** Silhouette twin: same trained-centroid literals, same
    * (s desc, ci) ranking for best/runner-up, same per-row
    * micro-rounding before the exact integer sum.
    */
  private def silhouetteEntry(rows: String): (String, String) =
    "silhouette_embeddings" ->
      s"""WITH cents AS (
         |  SELECT * FROM (VALUES
         |$rows
         |  ) AS t(ci, cv)
         |), e AS (SELECT vec_id, embedding FROM embeddings),
         |scored AS (
         |  SELECT e.vec_id, c.ci,
         |         ${cosineSql("e.embedding", "c.cv")} AS s
         |  FROM e CROSS JOIN cents c
         |), ranked AS (
         |  SELECT vec_id, ci, s,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn
         |  FROM scored
         |), pick AS (
         |  SELECT a.vec_id, a.ci AS bucket, a.s AS s1, b.s AS s2
         |  FROM ranked a JOIN ranked b
         |    ON a.vec_id = b.vec_id AND b.rn = 2
         |  WHERE a.rn = 1
         |), per AS (
         |  SELECT bucket,
         |         CASE WHEN greatest(1.0 - s1, 1.0 - s2) <= 0 THEN 0
         |              ELSE CAST(round((s1 - s2) / greatest(1.0 - s1, 1.0 - s2)
         |                               * 1000000.0) AS BIGINT)
         |         END AS sil_micro
         |  FROM pick
         |)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(sil_micro) AS BIGINT) AS sil_sum_micro,
         |       round(CAST(sum(sil_micro) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS sil_avg
         |FROM per GROUP BY 1 ORDER BY bucket""".stripMargin

  private def ivfEntry(rows: String): (String, String) =
    "knn_cosine_ivf" ->
        s"""WITH cents AS (
           |  SELECT * FROM (VALUES
           |$rows
           |  ) AS t(ci, cv)
           |), e AS (SELECT vec_id, embedding FROM embeddings),
           |scored AS (
           |  SELECT e.vec_id, e.embedding, c.ci,
           |         ${cosineSql("e.embedding", "c.cv")} AS s
           |  FROM e CROSS JOIN cents c
           |), assign AS (
           |  SELECT vec_id, embedding, ci AS bucket FROM (
           |    SELECT vec_id, embedding, ci,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn
           |    FROM scored) WHERE rn = 1
           |), qs AS (
           |  SELECT vec_id AS query_id, embedding AS qe, ci,
           |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn
           |  FROM scored WHERE vec_id < 16
           |), qprobe AS (SELECT query_id, qe, ci AS probe FROM qs WHERE rn <= 2),
           |s AS (
           |  SELECT qp.query_id, a.vec_id AS neighbor_id,
           |         round(${cosineSql("qp.qe", "a.embedding")}, 6) AS cosine_sim
           |  FROM assign a JOIN qprobe qp ON a.bucket = qp.probe
           |  WHERE a.vec_id <> qp.query_id
           |)
           |SELECT query_id, CAST(row_number() OVER w AS INTEGER) AS rank, neighbor_id, cosine_sim
           |FROM s
           |WINDOW w AS (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id)
           |QUALIFY row_number() OVER w <= 5
           |ORDER BY query_id, rank""".stripMargin

  private val staticOracleSql: Map[String, String] = Map(
    // the one-task-per-source window form checks the bounded-heap path
    "source_cap_stats" ->
      s"""WITH ranked AS (
         |  SELECT source, doc_id,
         |         row_number() OVER (PARTITION BY source
         |           ORDER BY ${Curation.sampleBucketSql("doc_id", 12345L)} ASC, doc_id ASC) AS rn
         |  FROM documents
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
         |       CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM ranked WHERE rn <= 10
         |GROUP BY source ORDER BY source""".stripMargin,
    // same candidate generation as the near-dup chain, then DuckDB's own
    // levenshtein over the same 200-char prefixes
    "edit_sim_pairs" ->
      s"""WITH ${minhashPairCtes("documents")},
         |pref AS (SELECT doc_id, substr(text, 1, 200) AS p FROM documents),
         |sc AS (
         |  SELECT c.id_a, c.id_b,
         |         CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_dist,
         |         greatest(length(a.p), length(b.p), 1) AS ml
         |  FROM npairs c
         |  JOIN pref a ON c.id_a = a.doc_id
         |  JOIN pref b ON c.id_b = b.doc_id
         |)
         |SELECT id_a, id_b, edit_dist,
         |       round(1.0 - CAST(edit_dist AS DOUBLE) / CAST(ml AS DOUBLE), 6) AS norm_sim
         |FROM sc ORDER BY id_a, id_b""".stripMargin,
    // 8-token lines rebuilt identically, commonality at md5(line) grain,
    // reassembly order = line position
    "boilerplate_strip_stats" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $Toks AS t FROM documents
         |), lined AS (
         |  SELECT doc_id,
         |         list_transform(range(0, ((len(t) - 1) // 8) + 1),
         |           i -> array_to_string(t[8 * i + 1 : 8 * i + 8], ' ')) AS lines
         |  FROM toks WHERE len(t) >= 1
         |), lx AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos, lines[CAST(i + 1 AS INTEGER)] AS line
         |  FROM lined, unnest(range(0, len(lines))) AS u(i)
         |), common AS (
         |  SELECT md5(trim(line)) AS lk FROM lx WHERE trim(line) <> ''
         |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
         |), kept AS (
         |  SELECT doc_id, pos, line FROM lx
         |  WHERE md5(trim(line)) NOT IN (SELECT lk FROM common)
         |), agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(line, chr(10) ORDER BY pos) AS kt
         |  FROM kept GROUP BY doc_id
         |), nl AS (
         |  SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines FROM lined
         |)
         |SELECT nl.doc_id, nl.n_lines,
         |       CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
         |       md5(coalesce(agg.kt, '')) AS kept_md5
         |FROM nl LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // entropy = ln(n) - (sum c*ln c)/n over distinct-token counts;
    // round(6) absorbs libm/fold-order ulps on both engines
    "token_entropy" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $Toks AS t FROM documents
         |)
         |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |       CASE WHEN len(t) > 0
         |            THEN round(ln(CAST(len(t) AS DOUBLE)) - list_sum(list_transform(list_distinct(t), x -> CAST(len(list_filter(t, y -> y = x)) AS DOUBLE) * ln(CAST(len(list_filter(t, y -> y = x)) AS DOUBLE)))) / CAST(len(t) AS DOUBLE), 6)
         |            ELSE 0.0 END AS entropy
         |FROM toks ORDER BY doc_id""".stripMargin,
    // the window form is the oracle; the Spark side runs the bounded-heap
    // aggregate — equal output proves the exact-top-k contract
    "topk_docs_per_lang" ->
      s"""WITH stats AS (
         |  SELECT lang, CAST(doc_id AS VARCHAR) AS doc_key,
         |         CAST(len($Toks) AS BIGINT) AS n_tokens
         |  FROM documents
         |), ranked AS (
         |  SELECT lang, doc_key, n_tokens,
         |         row_number() OVER (PARTITION BY lang ORDER BY n_tokens DESC, doc_key ASC) AS rnk
         |  FROM stats
         |)
         |SELECT lang, CAST(rnk AS BIGINT) AS rank, doc_key, n_tokens
         |FROM ranked WHERE rnk <= 5
         |ORDER BY lang, rank""".stripMargin,
    // winnowing at k=3, w=4: packed selection key = hash40 * 2^20 + pos,
    // hash40 = integer value of the first 10 md5 hex chars of the k-gram
    "winnow_fingerprints" ->
      s"""WITH $WinnowCtes
         |SELECT DISTINCT doc_id, pos, fp FROM wfp
         |ORDER BY doc_id, pos, fp""".stripMargin,
    // identical exact integer moments (HUGEINT sums ≙ decimal(38,0)),
    // then the SAME Cramer expression tree in doubles — every
    // intermediate rounds identically, so the fit hash-matches
    "token_count_model" ->
      s"""WITH f AS (
         |  SELECT CAST(length(text) AS BIGINT) AS x1,
         |         CAST(len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}-]')) AS BIGINT) AS x2,
         |         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS y
         |  FROM documents
         |), m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_exact,
         |         CAST(count(*) AS DOUBLE) AS n,
         |         CAST(sum(CAST(x1 AS HUGEINT)) AS DOUBLE) AS s1,
         |         CAST(sum(CAST(x2 AS HUGEINT)) AS DOUBLE) AS s2,
         |         CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
         |         CAST(sum(CAST(x1 AS HUGEINT) * CAST(x1 AS HUGEINT)) AS DOUBLE) AS s11,
         |         CAST(sum(CAST(x1 AS HUGEINT) * CAST(x2 AS HUGEINT)) AS DOUBLE) AS s12,
         |         CAST(sum(CAST(x2 AS HUGEINT) * CAST(x2 AS HUGEINT)) AS DOUBLE) AS s22,
         |         CAST(sum(CAST(x1 AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE) AS s1y,
         |         CAST(sum(CAST(x2 AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE) AS s2y,
         |         CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE) AS syy
         |  FROM f
         |), solved AS (
         |  SELECT n_exact, n, sy, s1y, s2y, syy,
         |         n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2) AS det,
         |         sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y) AS det0,
         |         n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2) AS det1,
         |         n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2) AS det2
         |  FROM m
         |)
         |SELECT n_exact AS n,
         |       CASE WHEN det <> 0.0 THEN round(det0 / det, 6) END AS b0,
         |       CASE WHEN det <> 0.0 THEN round(det1 / det, 6) END AS b1,
         |       CASE WHEN det <> 0.0 THEN round(det2 / det, 6) END AS b2,
         |       CASE WHEN det <> 0.0 AND syy - sy * sy / n <> 0.0
         |            THEN round(1.0 - (syy - (det0 / det) * sy - (det1 / det) * s1y - (det2 / det) * s2y)
         |                             / (syy - sy * sy / n), 6) END AS r2
         |FROM solved""".stripMargin,
    // confusion-grid MI/entropies as tiny-grid double folds over exact
    // counts — the chi-square residual, absorbed by 6-dp rounding
    "lang_source_mi" ->
      s"""WITH cm AS (
         |  SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS c
         |  FROM documents GROUP BY 1, 2
         |), rt AS (SELECT a, CAST(sum(c) AS BIGINT) AS ra FROM cm GROUP BY 1
         |), ct AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM cm GROUP BY 1
         |), t AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM cm
         |), ha AS (
         |  SELECT sum(-(CAST(ra AS DOUBLE) / CAST(tt AS DOUBLE))
         |             * ln(CAST(ra AS DOUBLE) / CAST(tt AS DOUBLE))) AS ha
         |  FROM rt, t
         |), hb AS (
         |  SELECT sum(-(CAST(cb AS DOUBLE) / CAST(tt AS DOUBLE))
         |             * ln(CAST(cb AS DOUBLE) / CAST(tt AS DOUBLE))) AS hb
         |  FROM ct, t
         |), mi AS (
         |  SELECT max(tt) AS n,
         |         sum((CAST(c AS DOUBLE) / CAST(tt AS DOUBLE))
         |             * ln(CAST(c AS DOUBLE) * CAST(tt AS DOUBLE)
         |                  / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)))) AS mi
         |  FROM cm JOIN rt USING (a) JOIN ct USING (b), t
         |)
         |SELECT n, round(mi, 6) AS mi,
         |       CASE WHEN ha > 0 AND hb > 0
         |            THEN round(mi / sqrt(ha * hb), 6) END AS nmi
         |FROM mi, ha, hb""".stripMargin,
    // (source, length)-grid mid-rank percentiles — the Spearman grid
    // discipline per group, joined back by value
    "length_pctl_by_source" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, CAST(len($Toks) AS BIGINT) AS n_tokens
         |  FROM documents
         |), g AS (
         |  SELECT source, n_tokens, CAST(count(*) AS BIGINT) AS n
         |  FROM d GROUP BY 1, 2
         |), t AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot FROM g GROUP BY 1
         |), r AS (
         |  SELECT source, n_tokens,
         |         round(CAST(2 * coalesce(CAST(sum(n) OVER (
         |                 PARTITION BY source ORDER BY n_tokens
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         |               + n + 1 AS DOUBLE) / CAST(2 * tot AS DOUBLE), 6) AS pctl
         |  FROM g JOIN t USING (source)
         |)
         |SELECT doc_id, d.source, d.n_tokens, pctl
         |FROM d JOIN r ON d.source = r.source AND d.n_tokens = r.n_tokens
         |ORDER BY doc_id""".stripMargin,
    // bigram/unigram counts exact; PMI rounded to 6 BEFORE the ranking
    // sort, (w1, w2) total tiebreak
    "collocations_pmi" ->
      s"""WITH base AS (
         |  SELECT $Toks AS toks FROM documents
         |), bi AS (
         |  SELECT toks[i] AS w1, toks[i + 1] AS w2
         |  FROM base, unnest(range(1, len(toks))) AS u(i)
         |  WHERE len(toks) >= 2
         |), uni AS (
         |  SELECT t AS w, CAST(count(*) AS BIGINT) AS n
         |  FROM base, unnest(toks) AS un(t) GROUP BY 1
         |), bc AS (
         |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab
         |  FROM bi GROUP BY 1, 2 HAVING count(*) >= 5
         |), tot AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM bi)
         |SELECT w1, w2, n_ab, a.n AS n_a, b.n AS n_b,
         |       round(ln(CAST(n_ab AS DOUBLE) * nn
         |                / (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE))), 6) AS pmi
         |FROM bc JOIN uni a ON bc.w1 = a.w JOIN uni b ON bc.w2 = b.w
         |        CROSS JOIN tot
         |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin,
    // exact per-lang word-piece sums, then the α=0.3 flattening — the
    // only cross-engine arithmetic is pow/ratios over identical longs,
    // absorbed by the 6-decimal rounding
    "temperature_mix_langs" ->
      s"""WITH d AS (
         |  SELECT lang AS source,
         |         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_wp
         |  FROM documents
         |), g AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(n_wp) AS BIGINT) AS n_tokens
         |  FROM d GROUP BY source
         |), t AS (
         |  SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot,
         |         sum(pow(CAST(n_tokens AS DOUBLE), 0.3)) AS tot_flat
         |  FROM g
         |)
         |SELECT source, n_docs, n_tokens,
         |       round(CAST(n_tokens AS DOUBLE) / tot, 6) AS raw_share,
         |       round(pow(CAST(n_tokens AS DOUBLE), 0.3) / tot_flat, 6) AS p_alpha,
         |       round(10000000.0 * pow(CAST(n_tokens AS DOUBLE), 0.3) / tot_flat, 6) AS alloc_tokens,
         |       round(10000000.0 * pow(CAST(n_tokens AS DOUBLE), 0.3) / tot_flat
         |             / CAST(n_tokens AS DOUBLE), 6) AS epochs
         |FROM g, t ORDER BY source""".stripMargin,
    // corpus-grain Flesch from summed exact moments; vowel-run
    // syllables, terminal-punctuation-run sentences floored at 1
    "flesch_by_lang" ->
      s"""WITH d AS (
         |  SELECT lang,
         |         CAST(len($Toks) AS BIGINT) AS w,
         |         CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
         |              ELSE greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) END AS s,
         |         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS y
         |  FROM documents
         |)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(w) AS BIGINT) AS n_words,
         |       CAST(sum(s) AS BIGINT) AS n_sentences,
         |       CAST(sum(y) AS BIGINT) AS n_syllables,
         |       CASE WHEN sum(s) > 0 AND sum(w) > 0 THEN
         |         round(206.835 - 1.015 * CAST(sum(w) AS DOUBLE) / CAST(sum(s) AS DOUBLE)
         |                       - 84.6 * CAST(sum(y) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6)
         |       END AS flesch
         |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    // same deterministic messy-URL synthesis, then the full canonical
    // pipeline (case, ports, fragments, tracking strip, param sort,
    // trailing slash) and the eTLD+1 label slice — every stage string-
    // exact, so the rollup hash-matches
    "url_domain_stats" ->
      s"""WITH u AS (
         |  SELECT (CASE WHEN doc_id % 3 = 0 THEN 'HTTP' WHEN doc_id % 3 = 1 THEN 'https' ELSE 'http' END
         |       || '://'
         |       || CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END
         |       || source
         |       || CASE WHEN doc_id % 4 = 0 THEN '.Example.CO.UK' ELSE '.example.COM' END
         |       || CASE WHEN doc_id % 7 = 0 THEN (CASE WHEN doc_id % 3 = 1 THEN ':443' ELSE ':80' END)
         |               WHEN doc_id % 7 = 1 THEN ':8080' ELSE '' END
         |       || '/' || lang || '/doc/' || CAST(doc_id % 50 AS VARCHAR)
         |       || CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END
         |       || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR) || '&b=2'
         |               ELSE '?b=2&id=' || CAST(doc_id % 50 AS VARCHAR) END
         |       || CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END) AS url
         |  FROM documents
         |), parts AS (
         |  SELECT
         |    lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         |    lower(regexp_replace(regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '(^[^@]*@|:[0-9]*$$)', '', 'g')) AS host,
         |    regexp_extract(regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), ':([0-9]+)$$', 1) AS rawport,
         |    regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
         |    regexp_extract(trim(url), '\\?([^#]*)', 1) AS rawquery
         |  FROM u
         |), plists AS (
         |  SELECT *, list_sort(list_filter(string_split(rawquery, '&'),
         |           p -> p <> '' AND NOT regexp_matches(p, '^(utm_[a-z0-9_]*=|utm_[a-z0-9_]*$$|gclid=|fbclid=|ref=)'))) AS plist
         |  FROM parts
         |), canon AS (
         |  SELECT host,
         |    scheme || '://' || host
         |    || (CASE WHEN (scheme = 'http' AND rawport = '80') OR (scheme = 'https' AND rawport = '443') OR rawport = '' THEN '' ELSE ':' || rawport END)
         |    || (CASE WHEN regexp_replace(rawpath, '/+$$', '') = '' THEN '/' ELSE regexp_replace(rawpath, '/+$$', '') END)
         |    || (CASE WHEN len(plist) > 0 THEN '?' || array_to_string(plist, '&') ELSE '' END) AS canon
         |  FROM plists
         |), dom AS (
         |  SELECT canon, host,
         |    CASE WHEN len(hp) >= 3 AND (hp[-2] || '.' || hp[-1]) IN
         |           (${graft.ops.Urls.MultiSuffixes.map(x => s"'$x'").mkString(",")})
         |         THEN hp[-3] || '.' || hp[-2] || '.' || hp[-1]
         |         WHEN len(hp) >= 2 THEN hp[-2] || '.' || hp[-1]
         |         ELSE host END AS domain
         |  FROM (SELECT *, string_split(host, '.') AS hp FROM canon)
         |)
         |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
         |       CAST(count(DISTINCT canon) AS BIGINT) AS n_canonical,
         |       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
         |       round(1.0 - CAST(count(DISTINCT canon) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS dup_ratio
         |FROM dom GROUP BY domain ORDER BY domain""".stripMargin,
    // w=5 shingle hashes (same 60 md5 bits as the Spark side), shingle-
    // grain distinct-doc gate, then gaps-and-islands span merge — the
    // whole derivation is integer/md5-exact, so spans hash-match
    "substring_dup_spans" ->
      s"""WITH $SubstringDupCtes
         |SELECT doc_id, min(pos) AS span_start,
         |       max(pos) + 4 AS span_end,
         |       max(pos) + 4 - min(pos) + 1 AS span_tokens
         |FROM isl GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin,
    "substring_dup_stats" ->
      s"""WITH $SubstringDupCtes,
         |spans AS (
         |  SELECT doc_id, max(pos) + 4 - min(pos) + 1 AS span_tokens
         |  FROM isl GROUP BY doc_id, island
         |), per_doc AS (
         |  SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS dup
         |  FROM spans GROUP BY doc_id
         |)
         |SELECT d.doc_id, CAST(len($Toks) AS BIGINT) AS n_tokens,
         |       COALESCE(p.dup, 0) AS dup_tokens,
         |       round(COALESCE(p.dup, 0) /
         |             CAST(greatest(len($Toks), 1) AS DOUBLE), 6) AS dup_ratio
         |FROM documents d LEFT JOIN per_doc p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // the full distributed rank permutation vs a materialized suffix sort
    "suffix_rank_docs" ->
      s"""WITH $SuffixCtes
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos, CAST(r AS BIGINT) AS sa_rank
         |FROM sar WHERE is_tok
         |ORDER BY doc_id, pos""".stripMargin,
    // LCP spectrum + longest repeated substring, symbol-scan twin
    "suffix_lcp_stats" ->
      s"""WITH $SuffixCtes, $SuffixLcpCtes,
         |ag AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |         CAST(max(lcp) AS BIGINT) AS lrs_len,
         |         CAST(sum(CASE WHEN lcp >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS pairs_ge_5,
         |         CAST(sum(CASE WHEN lcp >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS pairs_ge_10,
         |         CAST(sum(CASE WHEN lcp >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS pairs_ge_25,
         |         CAST(sum(lcp) AS BIGINT) AS sum_lcp
         |  FROM lc
         |), lrc AS (
         |  SELECT CAST(count(*) AS BIGINT) AS lrs_count FROM lc, ag
         |  WHERE lc.lcp = ag.lrs_len
         |), wpos AS (
         |  SELECT lc.lo_doc_id AS doc_id, lc.lo_pos AS pos
         |  FROM lc, ag WHERE lc.lcp = ag.lrs_len
         |  ORDER BY lc.rank_hi LIMIT 1
         |), txt AS (
         |  SELECT d.doc_id AS lrs_doc_id, CAST(wpos.pos AS BIGINT) AS lrs_pos,
         |         array_to_string(($Toks)[wpos.pos : wpos.pos + ag.lrs_len - 1],
         |                         ' ') AS lrs_text
         |  FROM documents d JOIN wpos ON d.doc_id = wpos.doc_id, ag
         |)
         |SELECT ag.n_pairs, ag.lrs_len, lrc.lrs_count, ag.pairs_ge_5,
         |       ag.pairs_ge_10, ag.pairs_ge_25, ag.sum_lcp,
         |       txt.lrs_doc_id, txt.lrs_pos, txt.lrs_text
         |-- LEFT JOIN txt, not a cross join: on an empty/single-suffix
         |-- corpus wpos/txt are EMPTY while Spark's no-group aggregates
         |-- still emit one all-null row — both engines must agree on
         |-- that degenerate row (round-10 ADVICE)
         |FROM ag CROSS JOIN lrc LEFT JOIN txt ON TRUE""".stripMargin,
    // the sampled certifiable LCP form: 1% rank-keyed stratum, each
    // pair's LCP recomputed by direct bounded symbol comparison (the
    // filter cuts the pair frame INSIDE pr — the full frame is the
    // sf10 single-node envelope)
    "suffix_lcp_sample" ->
      s"""WITH $SuffixCtes, ${suffixLcpCtes(
             s"${Curation.sampleBucketSql("b.r", SuffixSampleSeed)} < $SuffixSampleBucket")}
         |SELECT rank_hi AS sa_rank,
         |       lo_doc_id, CAST(lo_pos AS BIGINT) AS lo_pos,
         |       hi_doc_id, CAST(hi_pos AS BIGINT) AS hi_pos,
         |       CAST(lcp AS BIGINT) AS lcp
         |FROM lc ORDER BY sa_rank""".stripMargin,
    // same 1e4 grid, same per-dim min/max, same integer codes and dot —
    // zero trained literals
    "knn_cosine_sq8" ->
      s"""WITH eq AS (
         |  SELECT vec_id, embedding,
         |         list_transform(embedding,
         |           v -> CAST(floor(CAST(v AS DOUBLE) * 1e4) AS BIGINT)) AS e
         |  FROM embeddings
         |), st AS (
         |  SELECT i, min(e[i]) AS mn, max(e[i]) AS mx
         |  FROM eq, (SELECT unnest(range(1, 65)) AS i) ix GROUP BY i
         |), stl AS (
         |  SELECT list(mn ORDER BY i) AS mns,
         |         list(greatest(mx - mn, 1) ORDER BY i) AS spans
         |  FROM st
         |), coded AS (
         |  SELECT vec_id, embedding,
         |         list_transform(range(1, 65),
         |           i -> greatest(least(((e[i] - mns[i]) * 255) // spans[i],
         |                              255), 0)) AS c
         |  FROM eq, stl
         |), recon AS (
         |  SELECT vec_id, embedding,
         |         list_transform(range(1, 65),
         |           i -> mns[i] * 255 + c[i] * spans[i]) AS r
         |  FROM coded, stl
         |), sq AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |         round(${cosineSql("q.r", "e.r")}, 6) AS approx_sim,
         |         round(${cosineSql("q.embedding", "e.embedding")}, 6) AS true_sim
         |  FROM recon e, (SELECT * FROM recon WHERE vec_id < 16) q
         |  WHERE e.vec_id <> q.vec_id
         |)
         |SELECT query_id, CAST(row_number() OVER w AS INTEGER) AS rank,
         |       neighbor_id, approx_sim, true_sim
         |FROM sq
         |WINDOW w AS (PARTITION BY query_id ORDER BY approx_sim DESC, neighbor_id)
         |QUALIFY row_number() OVER w <= 10
         |ORDER BY query_id, rank""".stripMargin,
    // same gram hash, same first-writer-wins keeper, same island merge,
    // and the rebuilt text certified byte-for-byte via md5
    "substring_dedup_rebuild" ->
      s"""WITH rtoks AS (
         |  SELECT doc_id, $Toks AS t FROM documents
         |), rg AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |         ('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15))::BIGINT AS h
         |  FROM rtoks, unnest(range(1, len(t) - 3)) AS u(i)
         |  WHERE len(t) >= 5
         |), later AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos,
         |           row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
         |    FROM rg)
         |  WHERE rn > 1
         |), risl AS (
         |  SELECT doc_id, pos,
         |         sum(CASE WHEN prev IS NULL OR pos - prev > 5 THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |  FROM (SELECT doc_id, pos,
         |               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |        FROM later)
         |), rspan AS (
         |  SELECT doc_id, min(pos) AS st, max(pos) + 4 AS en
         |  FROM risl GROUP BY doc_id, island
         |), rmark AS (
         |  SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
         |  FROM rspan, unnest(range(st, en + 1)) AS u(p)
         |), rpos AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tok
         |  FROM rtoks, unnest(range(1, len(t) + 1)) AS u(i)
         |), rkept AS (
         |  SELECT r.doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
         |         md5(string_agg(r.tok, ' ' ORDER BY r.pos)) AS kept_md5
         |  FROM rpos r LEFT JOIN rmark m
         |    ON r.doc_id = m.doc_id AND r.pos = m.pos
         |  WHERE m.doc_id IS NULL
         |  GROUP BY r.doc_id
         |)
         |SELECT d.doc_id, CAST(len($Toks) AS BIGINT) AS n_tokens,
         |       CAST(len($Toks) AS BIGINT) - coalesce(k.kept_tokens, 0) AS removed_tokens,
         |       coalesce(k.kept_tokens, 0) AS kept_tokens,
         |       coalesce(k.kept_md5, md5('')) AS kept_md5
         |FROM documents d LEFT JOIN rkept k USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // same rolling-hash cut rule, same chunk fingerprint grouping
    "cdc_chunk_stats" ->
      s"""WITH ctoks AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), cpos AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |         CASE WHEN i >= 3 THEN
         |           (('0x' || substr(md5(array_to_string(toks[i-2:i], ' ')), 1, 15))::BIGINT % 8) = 0
         |         ELSE FALSE END AS cut
         |  FROM ctoks, unnest(range(1, len(toks) + 1)) AS u(i)
         |  WHERE len(toks) >= 1
         |), cidx AS (
         |  SELECT doc_id, pos,
         |         coalesce(sum(CASE WHEN cut THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |           0) AS chunk_idx
         |  FROM cpos
         |), cb AS (
         |  SELECT doc_id, chunk_idx, min(pos) AS st, count(*) AS n
         |  FROM cidx GROUP BY 1, 2
         |), cfp AS (
         |  SELECT cb.doc_id, cb.n,
         |         md5(array_to_string(t.toks[cb.st : cb.st + cb.n - 1], ' ')) AS fp
         |  FROM cb JOIN ctoks t ON t.doc_id = cb.doc_id
         |), dupfp AS (
         |  SELECT fp FROM cfp GROUP BY fp HAVING count(*) >= 2
         |), pd AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_chunks,
         |         CAST(sum(n) AS BIGINT) AS dup_chunk_tokens
         |  FROM cfp JOIN dupfp USING (fp) GROUP BY doc_id
         |), tcn AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
         |  FROM cfp GROUP BY doc_id
         |)
         |SELECT d.doc_id, coalesce(tcn.n_chunks, 0) AS n_chunks,
         |       coalesce(pd.dup_chunks, 0) AS dup_chunks,
         |       coalesce(pd.dup_chunk_tokens, 0) AS dup_chunk_tokens
         |FROM documents d LEFT JOIN tcn USING (doc_id) LEFT JOIN pd USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // same rank-run islands (window form of the CC min-label), same
    // min-adjacent-lcp shared length, same corpus-order witness
    "suffix_repeat_families" ->
      s"""WITH $SuffixCtes, $SuffixLcpCtes,
         |conn AS (SELECT rank_hi, lcp FROM lc WHERE lcp >= 10),
         |mem AS (
         |  SELECT rank_hi AS r FROM conn
         |  UNION SELECT rank_hi - 1 AS r FROM conn
         |), mk AS (
         |  SELECT m.r, (c.rank_hi IS NOT NULL) AS linked
         |  FROM mem m LEFT JOIN conn c ON c.rank_hi = m.r
         |), isl AS (
         |  SELECT r, sum(CASE WHEN linked THEN 0 ELSE 1 END)
         |           OVER (ORDER BY r) AS il
         |  FROM mk
         |), famr AS (
         |  SELECT r, min(r) OVER (PARTITION BY il) AS family_rank FROM isl
         |), shared AS (
         |  SELECT f.family_rank, CAST(min(c.lcp) AS BIGINT) AS shared_len
         |  FROM conn c JOIN famr f ON f.r = c.rank_hi GROUP BY 1
         |), witrn AS (
         |  SELECT f.family_rank, s.doc_id, s.pos,
         |         row_number() OVER (PARTITION BY f.family_rank
         |           ORDER BY s.doc_id, s.pos) AS rn,
         |         count(*) OVER (PARTITION BY f.family_rank) AS n_occ
         |  FROM famr f JOIN sar s ON s.r = f.r
         |), wit AS (
         |  SELECT family_rank, doc_id AS witness_doc_id,
         |         CAST(pos AS BIGINT) AS witness_pos,
         |         CAST(n_occ AS BIGINT) AS n_occurrences
         |  FROM witrn WHERE rn = 1
         |)
         |SELECT CAST(w.family_rank AS BIGINT) AS family_rank,
         |       w.n_occurrences, sh.shared_len,
         |       w.witness_doc_id, w.witness_pos,
         |       array_to_string(($Toks)[w.witness_pos :
         |         w.witness_pos + sh.shared_len - 1], ' ') AS family_text
         |FROM wit w JOIN shared sh USING (family_rank)
         |JOIN documents d ON d.doc_id = w.witness_doc_id
         |ORDER BY family_rank""".stripMargin,
    // INDEPENDENT algorithm: exact 5-gram multiplicity (no suffix array,
    // no hashes) — certifies the SA-derived neighbor-LCP dup positions
    // by a structurally different computation
    "suffix_dup_positions" ->
      s"""WITH sdocs AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), pg AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |         array_to_string(toks[i:i+4], ' ') AS gm
         |  FROM sdocs, unnest(range(1, len(toks) - 3)) AS u(i)
         |  WHERE len(toks) >= 5
         |), dupg AS (
         |  SELECT gm FROM pg GROUP BY gm HAVING count(*) >= 2
         |), dp AS (
         |  SELECT doc_id, count(*) AS c FROM pg JOIN dupg USING (gm)
         |  GROUP BY doc_id
         |)
         |SELECT d.doc_id, CAST(len($Toks) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(dp.c, 0) AS BIGINT) AS dup_w_pos
         |FROM documents d LEFT JOIN dp USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // the winnow candidate graph closed transitively — proves the
    // closure composes with a second candidate generator. The twin is
    // the bounded-round min-label chain ([[minLabelRoundsSql]]), NOT a
    // full-reachability recursive CTE: reachability materializes a
    // quadratic pair set per cluster and blew the 1-hour sf1 budget
    // (round-8 verdict #4), while the label chain is linear in edges
    // per round and lands on the identical min-id components
    "winnow_dup_clusters" ->
      s"""WITH $WinnowCtes,
         |dfp AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM wfp),
         |keepfp AS MATERIALIZED (
         |  SELECT fp FROM dfp GROUP BY fp
         |  HAVING count(*) > 1 AND count(*) <= 100
         |),
         |filtered AS MATERIALIZED (SELECT d.doc_id, d.fp FROM dfp d JOIN keepfp USING (fp)),
         |wpairs AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM filtered a JOIN filtered b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2
         |),
         |wedges AS MATERIALIZED (
         |  SELECT id_a AS a, id_b AS b FROM wpairs
         |  UNION SELECT id_b, id_a FROM wpairs
         |),
         |${minLabelRoundsSql("wedges", rounds = MinLabelRounds)}
         |SELECT id AS doc_id, l AS cluster_id
         |FROM lab$MinLabelRounds
         |ORDER BY cluster_id, doc_id""".stripMargin,
    // fingerprint-grain self-join (the Spark side is Dedup.winnowDupPairs
    // with the same minShared/maxDocsPerFp)
    "winnow_dup_pairs" ->
      s"""WITH $WinnowCtes,
         |dfp AS (SELECT DISTINCT doc_id, fp FROM wfp),
         |keepfp AS (
         |  SELECT fp FROM dfp GROUP BY fp
         |  HAVING count(*) > 1 AND count(*) <= 100
         |),
         |filtered AS (SELECT d.doc_id, d.fp FROM dfp d JOIN keepfp USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(count(*) AS BIGINT) AS n_shared_fps
         |FROM filtered a JOIN filtered b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY id_a, id_b""".stripMargin,
    "pii_scrub_stats" ->
      s"""WITH s AS (
         |  SELECT doc_id, $ScrubbedSql AS scrubbed FROM documents
         |)
         |SELECT doc_id,
         |       ${redactionsSql("<EMAIL>")} AS n_emails,
         |       ${redactionsSql("<PHONE>")} AS n_phones,
         |       ${redactionsSql("<IP>")} AS n_ips,
         |       ${redactionsSql("<LONGNUM>")} AS n_longnums,
         |       md5(scrubbed) AS fp_scrubbed
         |FROM s ORDER BY doc_id""".stripMargin,
    "benchmark_contamination" ->
      s"""WITH base AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id, $Shingles AS shingles FROM base
         |), ex AS (
         |  SELECT doc_id, unnest(shingles) AS shingle FROM sh
         |)
         |SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
         |       CAST(count(*) AS BIGINT) AS n_shared_shingles
         |FROM (SELECT * FROM ex WHERE doc_id % 50 <> 0) c
         |JOIN (SELECT * FROM ex WHERE doc_id % 50 = 0) b USING (shingle)
         |GROUP BY 1, 2 HAVING count(*) >= 3
         |ORDER BY corpus_id, bench_id""".stripMargin,
    "stratified_sample_stats" ->
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
         |       CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM documents
         |WHERE $StratifiedKeepSql
         |GROUP BY 1 ORDER BY lang""".stripMargin,
    "weighted_mix_stats" -> {
      // same weights, same hash arithmetic: floor(w) full copies via a
      // range cross join + the fractional remainder via the keep hash
      // (seed offset 7919 matches Curation.weightedMix)
      val parts = MixWeights.toSeq.sortBy(_._1).flatMap { case (src, w) =>
        val full = math.floor(w).toInt
        val fracThreshold = ((w - math.floor(w)) * 1e6).toLong
        val fullPart =
          if (full > 0)
            Some(s"SELECT doc_id, source FROM documents, range($full) WHERE source = '$src'")
          else None
        val fracPart =
          if (fracThreshold > 0)
            Some(s"SELECT doc_id, source FROM documents WHERE source = '$src' AND ${Curation.sampleBucketSql("doc_id", 12345L + 7919L)} < $fracThreshold")
          else None
        fullPart.toSeq ++ fracPart.toSeq
      }
      s"""WITH mixed AS (
         |${parts.mkString("\n  UNION ALL ")}
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM mixed GROUP BY 1 ORDER BY source""".stripMargin
    },
    "doc_chunks" ->
      s"""WITH base AS (
         |  SELECT doc_id, $Toks AS toks FROM documents WHERE doc_id < 100
         |), c AS (
         |  SELECT doc_id, toks, len(toks) AS n,
         |         unnest(range(0, CAST(ceil(len(toks) / 48.0) AS BIGINT))) AS chunk_idx
         |  FROM base WHERE len(toks) > 0
         |)
         |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
         |       CAST(least(64, n - chunk_idx * 48) AS BIGINT) AS n_chunk_tokens,
         |       array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "packing_plan" ->
      s"""WITH base AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), t AS (
         |  SELECT doc_id, len(toks) AS n FROM base
         |), c AS (
         |  SELECT doc_id, n,
         |         sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS s
         |  FROM t
         |)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(s AS BIGINT) AS start_offset,
         |       CAST(s // 512 AS BIGINT) AS chunk_id, CAST(s % 512 AS BIGINT) AS offset_in_chunk
         |FROM c ORDER BY doc_id""".stripMargin,
    "packing_plan_global" ->
      s"""WITH base AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), t AS (
         |  SELECT doc_id, doc_id % 8 AS shard, len(toks) AS n FROM base
         |), c AS (
         |  SELECT doc_id, shard, n,
         |         sum(n) OVER (ORDER BY shard, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS s
         |  FROM t
         |)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard, CAST(n AS BIGINT) AS n_tokens,
         |       CAST(s AS BIGINT) AS start_offset,
         |       CAST(s // 512 AS BIGINT) AS chunk_id, CAST(s % 512 AS BIGINT) AS offset_in_chunk
         |FROM c ORDER BY doc_id""".stripMargin,
    "curated_corpus_stats" ->
      s"""WITH $FunnelCtes
         |SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |       round(min(quality_score), 6) AS min_quality,
         |       round(max(quality_score), 6) AS max_quality
         |FROM sampled GROUP BY 1 ORDER BY lang_pred""".stripMargin,
    // the whole stack composed: funnel survivors feed the LSH closure;
    // cluster members above their minimum drop
    "curation_funnel_near" ->
      s"""WITH RECURSIVE $FunnelCtes,
         |${nearDupClosureCtes("sampled")},
         |cl AS (SELECT id, min(r) AS m FROM reach GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |       CAST(sum(n_tokens) AS BIGINT) AS token_sum
         |FROM sampled
         |WHERE doc_id NOT IN (SELECT id FROM cl WHERE m <> id)""".stripMargin,
    // the trained gate composed into the funnel: probe training (12
    // unrolled GD rounds) + calibrated threshold + rule filters + gate
    // + dedup + sample, one hash over the whole composition
    "curation_funnel_probe" ->
      s"""$LinearProbeScoredCtes,
         |$FunnelScoredCtes, fgated AS (
         |  SELECT f.*, pd.s AS probe_score_micro
         |  FROM fscored f JOIN pd ON f.doc_id = pd.doc_id CROSS JOIN th
         |  WHERE f.quality_score >= 0.5 AND f.dup_token_ratio <= 0.9
         |    AND pd.s >= th.thresh
         |), fdedupedp AS (
         |  SELECT * FROM fgated
         |  QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
         |), sampledp AS (
         |  SELECT * FROM fdedupedp
         |  WHERE ${Curation.sampleBucketSql("doc_id", 12345L)} < 500000
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |       CAST(sum(n_tokens) AS BIGINT) AS token_sum,
         |       CAST(sum(probe_score_micro) AS BIGINT) AS sum_score_micro
         |FROM sampledp""".stripMargin,
    "repetition_stats" ->
      s"""WITH base AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), arrs AS (
         |  SELECT doc_id, toks, $ShinglesAll AS sh FROM base
         |)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |       ${dupRatioSql("toks")} AS dup_token_ratio,
         |       ${dupRatioSql("sh")} AS dup_shingle_ratio
         |FROM arrs ORDER BY doc_id""".stripMargin,
    // mirrors Repetition.signals: strict n-grams (none when len < n),
    // mass = cnt·length, top tie-break toward the longer gram (the window
    // max replays the struct-max), single exact-integer division → the
    // doubles are bit-identical
    "ngram_repetition" ->
      s"""WITH base AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), grams AS (
         |  SELECT doc_id, 2 AS n, unnest(CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')) ELSE CAST([] AS VARCHAR[]) END) AS gram FROM base
         |  UNION ALL
         |  SELECT doc_id, 3, unnest(CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) ELSE CAST([] AS VARCHAR[]) END) FROM base
         |  UNION ALL
         |  SELECT doc_id, 5, unnest(CASE WHEN len(toks) >= 5 THEN list_transform(range(1, len(toks)-3), i -> array_to_string(toks[i:i+4], ' ')) ELSE CAST([] AS VARCHAR[]) END) FROM base
         |), grain AS (
         |  SELECT doc_id, n, gram, count(*) AS cnt, length(gram) AS glen
         |  FROM grams GROUP BY 1, 2, 3
         |), w AS (
         |  SELECT doc_id, n, cnt, glen,
         |         max(cnt) OVER (PARTITION BY doc_id, n) AS mc
         |  FROM grain
         |), pern AS (
         |  SELECT doc_id, n, max(mc) AS top_cnt,
         |         max(CASE WHEN cnt = mc THEN glen END) AS top_glen,
         |         sum(cnt * glen) AS total_mass,
         |         sum(CASE WHEN cnt >= 2 THEN cnt * glen ELSE 0 END) AS dup_mass
         |  FROM w GROUP BY 1, 2
         |), sig AS (
         |  SELECT doc_id,
         |         round(max(CASE WHEN n = 2 THEN CAST(top_cnt * top_glen AS DOUBLE) / CAST(total_mass AS DOUBLE) END), 6) AS top_2gram_frac,
         |         round(max(CASE WHEN n = 3 THEN CAST(top_cnt * top_glen AS DOUBLE) / CAST(total_mass AS DOUBLE) END), 6) AS top_3gram_frac,
         |         round(max(CASE WHEN n = 2 THEN CAST(dup_mass AS DOUBLE) / CAST(total_mass AS DOUBLE) END), 6) AS dup_2gram_frac,
         |         round(max(CASE WHEN n = 5 THEN CAST(dup_mass AS DOUBLE) / CAST(total_mass AS DOUBLE) END), 6) AS dup_5gram_frac
         |  FROM pern GROUP BY 1
         |)
         |SELECT b.doc_id, CAST(len(b.toks) AS BIGINT) AS n_tokens,
         |       coalesce(top_2gram_frac, 0.0) AS top_2gram_frac,
         |       coalesce(top_3gram_frac, 0.0) AS top_3gram_frac,
         |       coalesce(dup_2gram_frac, 0.0) AS dup_2gram_frac,
         |       coalesce(dup_5gram_frac, 0.0) AS dup_5gram_frac
         |FROM base b LEFT JOIN sig USING (doc_id) ORDER BY doc_id""".stripMargin,
    "text_stats" ->
      s"""WITH base AS (
         |  SELECT doc_id, text, $Toks AS toks FROM documents
         |), stats AS (
         |  SELECT doc_id,
         |         CAST(length(text) AS BIGINT) AS n_chars_check,
         |         CAST(len(toks) AS BIGINT) AS n_tokens,
         |         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_word_pieces,
         |         CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}-]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct_ratio,
         |         CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains($EnSw, lower(t)))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS stopword_ratio,
         |         CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS avg_token_len,
         |         $Fingerprint AS fingerprint
         |  FROM base
         |)
         |SELECT doc_id, n_chars_check, n_tokens, n_word_pieces, punct_ratio,
         |       stopword_ratio, avg_token_len,
         |       least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.5
         |         + (CASE WHEN punct_ratio < 0.2 THEN 1.0 ELSE 0.5 END) * 0.25
         |         + (CASE WHEN stopword_ratio > 0.05 THEN 1.0 ELSE 0.5 END) * 0.25 AS quality_score,
         |       fingerprint
         |FROM stats ORDER BY doc_id""".stripMargin,
    "lang_id_pred" ->
      s"""WITH $LangPredCtes
         |SELECT doc_id, lang, p AS lang_pred
         |FROM pred ORDER BY doc_id""".stripMargin,
    // confusion grid from the same prediction CTEs; per-class folds of
    // the tiny grid, full-outer on class (one-sided classes kept)
    "lang_id_eval" ->
      s"""WITH $LangPredCtes,
         |cm AS (
         |  SELECT lang AS a, p, CAST(count(*) AS BIGINT) AS n
         |  FROM pred GROUP BY 1, 2
         |), act AS (
         |  SELECT a AS clazz, CAST(sum(n) AS BIGINT) AS n_actual,
         |         CAST(sum(CASE WHEN p = a THEN n ELSE 0 END) AS BIGINT) AS tp
         |  FROM cm GROUP BY 1
         |), prd AS (
         |  SELECT p AS clazz, CAST(sum(n) AS BIGINT) AS n_predicted
         |  FROM cm GROUP BY 1
         |)
         |SELECT coalesce(act.clazz, prd.clazz) AS clazz,
         |       coalesce(n_actual, 0) AS n_actual,
         |       coalesce(n_predicted, 0) AS n_predicted,
         |       coalesce(tp, 0) AS tp,
         |       CASE WHEN coalesce(n_predicted, 0) > 0
         |            THEN round(CAST(coalesce(tp, 0) AS DOUBLE) / CAST(n_predicted AS DOUBLE), 6) END AS precision,
         |       CASE WHEN coalesce(n_actual, 0) > 0
         |            THEN round(CAST(coalesce(tp, 0) AS DOUBLE) / CAST(n_actual AS DOUBLE), 6) END AS recall,
         |       CASE WHEN coalesce(n_predicted, 0) > 0 AND coalesce(n_actual, 0) > 0
         |            THEN round(2.0 * CAST(tp AS DOUBLE) / CAST(n_predicted + n_actual AS DOUBLE), 6) END AS f1
         |FROM act FULL OUTER JOIN prd ON act.clazz = prd.clazz
         |ORDER BY clazz""".stripMargin,
    // observed vs marginal-chance agreement over the same grid
    "lang_id_kappa" ->
      s"""WITH $LangPredCtes,
         |cm AS (
         |  SELECT lang AS a, p, CAST(count(*) AS BIGINT) AS n
         |  FROM pred GROUP BY 1, 2
         |), rt AS (SELECT a, CAST(sum(n) AS BIGINT) AS ra FROM cm GROUP BY 1
         |), ct AS (SELECT p AS b, CAST(sum(n) AS BIGINT) AS cb FROM cm GROUP BY 1
         |), ch AS (
         |  SELECT coalesce(CAST(sum(CAST(ra AS HUGEINT) * CAST(cb AS HUGEINT)) AS DOUBLE), 0.0) AS pe_num
         |  FROM rt JOIN ct ON rt.a = ct.b
         |), ag AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS n_tot,
         |         CAST(sum(CASE WHEN a = p THEN n ELSE 0 END) AS BIGINT) AS n_agree
         |  FROM cm
         |)
         |SELECT n_tot AS n,
         |       round(CAST(n_agree AS DOUBLE) / CAST(n_tot AS DOUBLE), 6) AS po,
         |       round(pe_num / (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)), 6) AS pe,
         |       CASE WHEN pe_num / (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)) <> 1.0
         |            THEN round((CAST(n_agree AS DOUBLE) / CAST(n_tot AS DOUBLE)
         |                        - pe_num / (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)))
         |                       / (1.0 - pe_num / (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE))), 6) END AS kappa
         |FROM ag CROSS JOIN ch""".stripMargin,
    // same md5 bucket/sign arithmetic over the shared token fragment
    "feature_hash_docs" ->
      FeatureHash.hashedFeaturesSql(Toks, dims = 64,
        filterSql = "doc_id < 200"),
    "dedup_exact_stats" ->
      s"""WITH fp AS (SELECT $Fingerprint AS f FROM documents),
         |g AS (SELECT f, count(*) AS n FROM fp GROUP BY 1)
         |SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         |       CAST(count(*) AS BIGINT) AS n_unique,
         |       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
         |FROM g""".stripMargin,
    "minhash_signatures" ->
      s"""WITH base AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id, $Shingles AS shingles FROM base
         |)
         |SELECT doc_id,
         |       $SigExprs
         |FROM sh ORDER BY doc_id""".stripMargin,
    "minhash_signatures_agg" ->
      s"""WITH base AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id, $Shingles AS shingles FROM base
         |)
         |SELECT doc_id,
         |       $SigExprs
         |FROM sh ORDER BY doc_id""".stripMargin,
    "minhash_dup_pairs" ->
      s"""WITH base AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id, $Shingles AS shingles FROM base
         |), sigs AS (
         |  SELECT doc_id,
         |       $SigExprs
         |  FROM sh
         |), bands AS (
         |  SELECT doc_id, u.b AS band_idx,
         |         CASE u.b WHEN 0 THEN sig_0 || '|' || sig_1
         |                  WHEN 1 THEN sig_2 || '|' || sig_3
         |                  WHEN 2 THEN sig_4 || '|' || sig_5
         |                  ELSE sig_6 || '|' || sig_7 END AS band_val
         |  FROM sigs, (SELECT unnest([0,1,2,3]) AS b) u
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |   AND a.doc_id < b.doc_id
         |)
         |SELECT c.id_a, c.id_b,
         |       CAST(((CASE WHEN sa.sig_0 = sb.sig_0 THEN 1 ELSE 0 END)
         |           + (CASE WHEN sa.sig_1 = sb.sig_1 THEN 1 ELSE 0 END)
         |           + (CASE WHEN sa.sig_2 = sb.sig_2 THEN 1 ELSE 0 END)
         |           + (CASE WHEN sa.sig_3 = sb.sig_3 THEN 1 ELSE 0 END)
         |           + (CASE WHEN sa.sig_4 = sb.sig_4 THEN 1 ELSE 0 END)
         |           + (CASE WHEN sa.sig_5 = sb.sig_5 THEN 1 ELSE 0 END)
         |           + (CASE WHEN sa.sig_6 = sb.sig_6 THEN 1 ELSE 0 END)
         |           + (CASE WHEN sa.sig_7 = sb.sig_7 THEN 1 ELSE 0 END)) AS BIGINT) AS n_matching_sigs,
         |       (((CASE WHEN sa.sig_0 = sb.sig_0 THEN 1 ELSE 0 END)
         |           + (CASE WHEN sa.sig_1 = sb.sig_1 THEN 1 ELSE 0 END)
         |           + (CASE WHEN sa.sig_2 = sb.sig_2 THEN 1 ELSE 0 END)
         |           + (CASE WHEN sa.sig_3 = sb.sig_3 THEN 1 ELSE 0 END)
         |           + (CASE WHEN sa.sig_4 = sb.sig_4 THEN 1 ELSE 0 END)
         |           + (CASE WHEN sa.sig_5 = sb.sig_5 THEN 1 ELSE 0 END)
         |           + (CASE WHEN sa.sig_6 = sb.sig_6 THEN 1 ELSE 0 END)
         |           + (CASE WHEN sa.sig_7 = sb.sig_7 THEN 1 ELSE 0 END)) / 8.0) AS est_jaccard
         |FROM cand c JOIN sigs sa ON c.id_a = sa.doc_id
         |            JOIN sigs sb ON c.id_b = sb.doc_id
         |ORDER BY id_a, id_b""".stripMargin,
    "near_dedup_survivors" -> {
      val matchSum = (0 until 8).map(p =>
        s"(CASE WHEN sa.sig_$p = sb.sig_$p THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH base AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id, $Shingles AS shingles FROM base
         |), sigs AS (
         |  SELECT doc_id,
         |       $SigExprs
         |  FROM sh
         |), bands AS (
         |  SELECT doc_id, u.b AS band_idx,
         |         CASE u.b WHEN 0 THEN sig_0 || '|' || sig_1
         |                  WHEN 1 THEN sig_2 || '|' || sig_3
         |                  WHEN 2 THEN sig_4 || '|' || sig_5
         |                  ELSE sig_6 || '|' || sig_7 END AS band_val
         |  FROM sigs, (SELECT unnest([0,1,2,3]) AS b) u
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |   AND a.doc_id < b.doc_id
         |), dropped AS (
         |  SELECT DISTINCT c.id_b
         |  FROM cand c JOIN sigs sa ON c.id_a = sa.doc_id
         |              JOIN sigs sb ON c.id_b = sb.doc_id
         |  WHERE ($matchSum) / 8.0 >= 0.5
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_survivors,
         |       CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM documents
         |WHERE doc_id NOT IN (SELECT id_b FROM dropped)""".stripMargin
    },
    "near_dup_clusters" -> NearDupClustersSql,
    // identical semantics, different closure algorithm on the Spark side
    "near_dup_clusters_logstar" -> NearDupClustersSql,
    "near_dedup_survivors_exact" -> NearDupSurvivorsExactSql,
    "simhash_fingerprints" ->
      s"""WITH base AS (
         |  SELECT doc_id, list_transform($Toks, t -> md5(t)) AS hs FROM documents
         |)
         |SELECT doc_id, $SimhashSql AS simhash
         |FROM base ORDER BY doc_id""".stripMargin,
    // same winnow span grain, same pair join, same floored Jaccard
    "source_dup_matrix" ->
      s"""WITH $WinnowCtes,
         |fp AS (
         |  SELECT DISTINCT w.fp AS f, d.source
         |  FROM wfp w JOIN documents d ON d.doc_id = w.doc_id
         |), sz AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM fp GROUP BY 1
         |), sh AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |         CAST(count(*) AS BIGINT) AS shared
         |  FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
         |  GROUP BY 1, 2
         |)
         |SELECT source_a, source_b, shared,
         |       na.n AS n_a, nb.n AS n_b,
         |       (shared * 1000000) // (na.n + nb.n - shared) AS jaccard_micro
         |FROM sh JOIN sz na ON na.source = sh.source_a
         |JOIN sz nb ON nb.source = sh.source_b
         |ORDER BY source_a, source_b""".stripMargin,
    // same floored shares, same remainder rank, exact budget
    "quota_alloc_sources" ->
      """WITH g AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS weight
        |  FROM documents GROUP BY 1
        |), t AS (SELECT CAST(sum(weight) AS BIGINT) AS w FROM g),
        |s AS (
        |  SELECT source, weight,
        |         (100000 * weight) // (SELECT w FROM t) AS share_floor,
        |         (100000 * weight) % (SELECT w FROM t) AS rem
        |  FROM g
        |), r AS (
        |  SELECT *,
        |         CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rk,
        |         CAST(sum(share_floor) OVER () AS BIGINT) AS spent
        |  FROM s
        |)
        |SELECT source, weight, share_floor,
        |       share_floor + CASE WHEN rk <= 100000 - spent THEN 1 ELSE 0 END AS alloc
        |FROM r ORDER BY source""".stripMargin,
    // same (score desc, id) order, same exact-long crossing rule
    "nucleus_docs_by_source" ->
      """WITH w AS (
        |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |         COALESCE(CAST(sum(n_chars) OVER (
        |           PARTITION BY source ORDER BY n_chars DESC, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS before,
        |         CAST(sum(n_chars) OVER (PARTITION BY source) AS BIGINT) AS total,
        |         CAST(row_number() OVER (
        |           PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS "rank"
        |  FROM documents
        |)
        |SELECT source, doc_id, n_chars, "rank" FROM w
        |WHERE CAST(before AS HUGEINT) * 1000000 < CAST(500000 AS HUGEINT) * total
        |ORDER BY source, "rank"""".stripMargin,
    // same exact integer score grid, same width bins, same two rounded
    // rates
    "calibration_curve_langid" ->
      s"""WITH base AS (
         |  SELECT $Toks AS toks, lang = 'en' AS label FROM documents
         |), sc AS (
         |  SELECT CASE WHEN len(toks) > 0
         |              THEN (len(list_filter(toks, t -> list_contains($EnSw, lower(t)))) * 1000000)
         |                   // len(toks)
         |              ELSE 0 END AS s,
         |         label
         |  FROM base
         |), b AS (
         |  SELECT least(greatest(s, 0) // 100000, 9) AS bin, s,
         |         CASE WHEN label THEN 1 ELSE 0 END AS y
         |  FROM sc
         |)
         |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(y) AS BIGINT) AS n_pos,
         |       round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS pos_rate,
         |       round(CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS mean_score
         |FROM b GROUP BY 1 ORDER BY bin""".stripMargin,
    // same 4x8-bit bands, same bucket cap, same popcount verify
    "simhash_near_pairs" ->
      s"""WITH base AS (
         |  SELECT doc_id, list_transform($Toks, t -> md5(t)) AS hs FROM documents
         |), fp AS (
         |  SELECT doc_id AS id, $SimhashSql AS fp FROM base
         |), bands AS (
         |  SELECT id, fp, u.band, (fp // power(2, 8*u.band)::BIGINT) % 256 AS v
         |  FROM fp, (SELECT unnest([0,1,2,3]) AS band) u
         |), keep AS (
         |  SELECT band, v FROM bands GROUP BY 1, 2 HAVING count(*) <= 200
         |), kept AS (
         |  SELECT b.id, b.fp, b.band, b.v
         |  FROM bands b JOIN keep k ON k.band = b.band AND k.v = b.v
         |), cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.fp AS fa, b.fp AS fb
         |  FROM kept a JOIN kept b
         |    ON a.band = b.band AND a.v = b.v AND a.id < b.id
         |)
         |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
         |FROM cand WHERE bit_count(xor(fa, fb)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    "ngram_jaccard_pairs" ->
      s"""WITH base AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id, $Shingles AS shingles FROM base
         |)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CASE WHEN (len(a.shingles) + len(b.shingles)
         |                  - len(list_filter(a.shingles, x -> list_contains(b.shingles, x)))) > 0
         |            THEN CAST(len(list_filter(a.shingles, x -> list_contains(b.shingles, x))) AS DOUBLE)
         |                 / CAST(len(a.shingles) + len(b.shingles)
         |                        - len(list_filter(a.shingles, x -> list_contains(b.shingles, x))) AS DOUBLE)
         |            ELSE 0.0 END AS jaccard
         |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
         |ORDER BY id_a""".stripMargin,
    // exact shingle-set sizes and pairwise intersections + literal TRUE
    // flags — a hash match certifies the Spark-side HLL
    // inclusion-exclusion estimates landed inside the stated envelopes
    "source_overlap_sketch" ->
      s"""WITH base AS (
         |  SELECT source, $Toks AS toks FROM documents
         |), sh AS (
         |  SELECT source, $Shingles AS shingles FROM base
         |), e AS (
         |  SELECT DISTINCT source, unnest(shingles) AS shingle FROM sh
         |), sz AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1
         |), px AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |         CAST(count(*) AS BIGINT) AS n_inter
         |  FROM e a JOIN e b ON a.shingle = b.shingle AND a.source < b.source
         |  GROUP BY 1, 2
         |)
         |SELECT sa.source AS source_a, sb.source AS source_b,
         |       sa.n AS n_a, sb.n AS n_b,
         |       CAST(coalesce(px.n_inter, 0) AS BIGINT) AS n_inter,
         |       TRUE AS sizes_ok, TRUE AS inter_ok
         |FROM sz sa JOIN sz sb ON sa.source < sb.source
         |LEFT JOIN px ON px.source_a = sa.source AND px.source_b = sb.source
         |ORDER BY source_a, source_b""".stripMargin,
    // same 60 md5 bits → u ∈ (0,1], same -ln(u)/w key rounded once to
    // integer nano-units — rank comparisons are integer in both engines
    "weighted_reservoir_docs" ->
      """WITH keyed AS (
        |  SELECT lang, doc_id, n_chars,
        |         CAST(round(-ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 15))::BIGINT AS DOUBLE) + 1.0)
        |                        / 1152921504606846976.0)
        |                    / CAST(n_chars AS DOUBLE) * 1000000000.0) AS BIGINT) AS key_nano
        |  FROM documents WHERE n_chars > 0
        |), ranked AS (
        |  SELECT lang, doc_id, n_chars,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY key_nano, doc_id) AS INTEGER) AS sample_rank
        |  FROM keyed
        |)
        |SELECT lang, sample_rank, doc_id, n_chars
        |FROM ranked WHERE sample_rank <= 8
        |ORDER BY lang, sample_rank""".stripMargin,
    // same normalization, same add-one-smoothed bigram model, the same
    // ONE rounding of each bigram's ln to integer nano-units (model
    // grain, ~1k ln calls) — per-doc sums are then BIGINT-exact in both
    // engines regardless of accumulation order (the Trend discipline)
    "lm_quality_score" ->
      s"""WITH norm AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '$Ws', ' ', 'g')) AS s
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, length(s)), i -> s[i:i+1])) AS bigram
        |  FROM norm WHERE length(s) >= 2
        |), model AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS cnt FROM bg GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(cnt) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS v FROM model
        |), lp AS (
        |  SELECT bigram,
        |         CAST(round(ln((CAST(cnt AS DOUBLE) + 1.0) / (total + v)) * 1000000000.0) AS BIGINT) AS lp_nano
        |  FROM model CROSS JOIN tot
        |)
        |SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(CAST(sum(lp_nano) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000000.0, 6) AS score
        |FROM bg JOIN lp USING (bigram)
        |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin,
    // shared-shingle self-join (the Spark side is Containment
    // .overlapPairs with the same frequency cap): n_shared counts
    // cap-surviving shared distinct shingles, sizes are true set sizes,
    // overlap is one int/int IEEE division — bit-identical both engines
    "containment_pairs" ->
      s"""WITH base AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), sh AS (
         |  SELECT doc_id, $Shingles AS shingles FROM base
         |), e AS (
         |  SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh
         |), sz AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1
         |), keep AS (
         |  SELECT shingle FROM e GROUP BY shingle
         |  HAVING count(*) > 1 AND count(*) <= 100
         |), f AS (
         |  SELECT e.doc_id, e.shingle FROM e JOIN keep USING (shingle)
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(count(*) AS BIGINT) AS n_shared
         |  FROM f a JOIN f b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT id_a, id_b, n_shared, sa.n AS n_a, sb.n AS n_b,
         |       CAST(n_shared AS DOUBLE) / least(sa.n, sb.n) AS overlap
         |FROM pairs
         |JOIN sz sa ON sa.doc_id = pairs.id_a
         |JOIN sz sb ON sb.doc_id = pairs.id_b
         |WHERE CAST(n_shared AS DOUBLE) / least(sa.n, sb.n) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,
    "tfidf_top_terms" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($Toks) AS term FROM documents
         |), tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
         |), vocab AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
         |), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |         round(CAST(tf.tf AS DOUBLE) * ln((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(vocab.df AS DOUBLE) + 1.0)), 6) AS tfidf
         |  FROM tf JOIN vocab USING (term) CROSS JOIN n
         |)
         |SELECT doc_id, CAST(row_number() OVER w AS INTEGER) AS rank, term, tfidf
         |FROM scored
         |WINDOW w AS (PARTITION BY doc_id ORDER BY tfidf DESC, term)
         |QUALIFY row_number() OVER w <= 3 AND doc_id < 50
         |ORDER BY doc_id, rank""".stripMargin,
    "vocab_stats" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($Toks) AS term FROM documents
         |), tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
         |)
         |SELECT term, CAST(count(*) AS BIGINT) AS df,
         |       CAST(sum(tf) AS BIGINT) AS total_tf
         |FROM tf GROUP BY 1
         |ORDER BY df DESC, term LIMIT 20""".stripMargin,
    // identical tokenizer, 20 unrolled merge rounds, the same 8 nested
    // single-pass replaces per round as the Scala side
    "bpe_merges" -> graft.llm.Bpe.learnMergesSql(
      BpeWordsSql, numMerges = 20, passes = 8),
    // the batched trainer certifies against the SEQUENTIAL chain: its
    // selection rules guarantee batch ≡ one-at-a-time greedy, and this
    // hash proves it on the real corpus
    "bpe_merges_batched" -> graft.llm.Bpe.learnMergesSql(
      BpeWordsSql, numMerges = 20, passes = 8),
    // the hybrid (driver-side vocab-grain) trainer certifies against
    // the SAME sequential chain: same argmax, same passes-bounded
    // replace semantics, zero Spark rounds in the training loop
    "bpe_merges_local" -> graft.llm.Bpe.learnMergesSql(
      BpeWordsSql, numMerges = 20, passes = 8),
    // the stats read the final unrolled training state w20, so one hash
    // certifies training AND applyMerges re-tokenization together
    "bpe_tokenize_stats" -> graft.llm.Bpe.tokenizeStatsSql(
      BpeWordsSql, numMerges = 20, passes = 8),
    // the training chain PLUS the keyed v0..v20 apply chain: each
    // distinct word form walks the same per-round needles, then doc
    // occurrences join their final subword sequence and re-assemble in
    // word order (0-based g matches Spark's posexplode positions)
    "bpe_doc_tokens" ->
      s"""WITH ${graft.llm.Bpe.learnAndApplyChainSql(
               BpeWordsSql, BpeFormsSql, numMerges = 20, passes = 8)},
         |dw AS (
         |  SELECT doc_id, g AS pos, a[g + 1] AS word
         |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z]+') AS a
         |        FROM documents) t,
         |       unnest(range(0, len(a))) AS u(g)
         |  WHERE a[g + 1] <> '' AND length(a[g + 1]) <= 16
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(len(string_split(v.syms, ' '))) AS BIGINT) AS n_subwords,
         |       string_agg(v.syms, ' ' ORDER BY dw.pos) AS subword_stream
         |FROM dw JOIN v20 v USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the same chain over the 1% sampleHash stratum: full-corpus
    // training, per-doc streams only for the deterministically sampled
    // docs — the twin that stays single-node-feasible at the 5M-doc
    // decade where the full-stream form is not
    "bpe_doc_tokens_sample" ->
      s"""WITH ${graft.llm.Bpe.learnAndApplyChainSql(
               BpeWordsSql, BpeFormsSql, numMerges = 20, passes = 8)},
         |dw AS (
         |  SELECT doc_id, g AS pos, a[g + 1] AS word
         |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z]+') AS a
         |        FROM documents
         |        WHERE ${graft.llm.Curation.sampleBucketSql("doc_id", 12345L)} < 10000) t,
         |       unnest(range(0, len(a))) AS u(g)
         |  WHERE a[g + 1] <> '' AND length(a[g + 1]) <= 16
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(len(string_split(v.syms, ' '))) AS BIGINT) AS n_subwords,
         |       string_agg(v.syms, ' ' ORDER BY dw.pos) AS subword_stream
         |FROM dw JOIN v20 v USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "knn_cosine_brute" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 16),
         |s AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         round(${cosineSql("q.qe", "e.embedding")}, 6) AS cosine_sim
         |  FROM embeddings e, q WHERE e.vec_id <> q.query_id
         |)
         |SELECT query_id, CAST(row_number() OVER w AS INTEGER) AS rank, neighbor_id, cosine_sim
         |FROM s
         |WINDOW w AS (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id)
         |QUALIFY row_number() OVER w <= 10
         |ORDER BY query_id, rank""".stripMargin,
    // the 10 unrolled MMR selection rounds, MATERIALIZED per round —
    // every pick/tie/score lockstep with Similarity.mmrRerank
    "mmr_rerank_docs" -> mmrSql(poolK = 20, selectK = 10, lambda = 0.7,
      mu = 0.3),
    // same quantization grid and n-scaled identity as the Spark side;
    // HUGEINT squares collapse back to BIGINT
    "label_scatter_embeddings" ->
      """WITH q AS (
        |  SELECT label, i - 1 AS i,
        |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e4) AS BIGINT) AS e
        |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) idx
        |), per AS (
        |  SELECT label, i, CAST(sum(e) AS BIGINT) AS s,
        |         CAST(sum(e * e) AS BIGINT) AS ss,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM q GROUP BY 1, 2
        |), agg AS (
        |  SELECT label, max(n) AS n_rows,
        |         CAST(sum(ss) AS BIGINT) AS norm2,
        |         CAST(sum(CAST(s AS HUGEINT) * s) AS BIGINT) AS sq
        |  FROM per GROUP BY 1
        |)
        |SELECT label, n_rows,
        |       CAST(n_rows * norm2 - sq AS BIGINT) AS within_n2,
        |       round(CAST(norm2 AS DOUBLE) / n_rows, 6) AS mean_norm2
        |FROM agg ORDER BY label""".stripMargin,
    // direct token-array scan: i ranges over valid 3-gram starts; the
    // Spark side's postings join must produce the identical doc set
    "phrase_match_docs" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
         |m AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(range(1, len(toks) - 1),
         |           i -> toks[i] = 'value' AND toks[i+1] = 'table'
         |                AND toks[i+2] = 'part')) AS BIGINT) AS n_occurrences
         |  FROM t
         |)
         |SELECT doc_id, n_occurrences FROM m
         |WHERE n_occurrences > 0 ORDER BY doc_id""".stripMargin,
    // unrolled fixed-point power iteration: HUGEINT-safe exact sums, the
    // shared pmod floor-division form, 1-row max renormalizers — every
    // step replays the Spark integers bit-for-bit
    "pca_top_component" -> {
      def fdiv(a: String, b: String) =
        s"CAST((($a) - ((($a) % ($b) + ($b)) % ($b))) / ($b) AS BIGINT)"
      val steps = (1 to 5).map { t =>
        val pv = if (t == 1) "v0" else s"v${t - 1}"
        s"""w$t AS MATERIALIZED (
           |  SELECT c.i, CAST(sum(CAST(c.c AS HUGEINT) * $pv.v) AS BIGINT) AS w
           |  FROM c JOIN $pv ON c.j = $pv.j GROUP BY 1
           |), m$t AS MATERIALIZED (SELECT max(abs(w)) AS m FROM w$t),
           |v$t AS MATERIALIZED (
           |  SELECT w$t.i AS j,
           |         CASE WHEN m$t.m > 0
           |              THEN ${fdiv("w$T.w".replace("$T", t.toString), fdiv("m$T.m".replace("$T", t.toString), "10000") + " + 1")}
           |              ELSE CAST(10000 AS BIGINT) END AS v
           |  FROM w$t, m$t
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS MATERIALIZED (
         |  SELECT vec_id, i - 1 AS i,
         |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e4) AS BIGINT) AS e
         |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) idx
         |), gram AS MATERIALIZED (
         |  SELECT a.i, b.i AS j, CAST(sum(CAST(a.e AS HUGEINT) * b.e) AS BIGINT) AS g
         |  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2
         |), s AS MATERIALIZED (
         |  SELECT i, CAST(sum(e) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
         |  FROM q GROUP BY 1
         |), c AS MATERIALIZED (
         |  SELECT g.i, g.j,
         |         ${fdiv("si.n * g.g - si.s * sj.s", "1000000")} AS c
         |  FROM gram g JOIN s si ON si.i = g.i JOIN s sj ON sj.i = g.j
         |), v0 AS MATERIALIZED (
         |  SELECT DISTINCT i AS j, CAST(10000 AS BIGINT) AS v FROM q
         |),
         |$steps,
         |lead AS (SELECT v FROM v5 ORDER BY abs(v) DESC, j LIMIT 1)
         |SELECT CAST(v5.j AS INTEGER) AS dim,
         |       CAST(CASE WHEN lead.v < 0 THEN -v5.v ELSE v5.v END AS DOUBLE) / 1e4 AS loading
         |FROM v5, lead ORDER BY dim""".stripMargin
    },
    // the ±1 sign rows are pure-Scala LCG parities — the twin embeds the
    // identical DOUBLE literals and replays both cosines; within_bound
    // is literal TRUE (certified-envelope pattern)
    "jl_projection_pairs" -> {
      val rows = Similarity.jlSignRows(64, 32).zipWithIndex
        .map { case (r, j) =>
          r.mkString(s"    ($j, list_value(", ", ", "))")
        }.mkString(",\n")
      def d2(a: String, b: String) =
        s"list_sum(list_transform(range(1, len($a)+1), i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))"
      s"""WITH sg AS (
         |  SELECT * FROM (VALUES
         |$rows
         |  ) AS t(j, sv)
         |), v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 32),
         |pr AS (
         |  SELECT vec_id, list(d ORDER BY j) AS pv FROM (
         |    SELECT v.vec_id, sg.j, ${dotSql("v.embedding", "sg.sv")} AS d
         |    FROM v CROSS JOIN sg)
         |  GROUP BY vec_id
         |), pd AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         ${d2("a.embedding", "b.embedding")} AS dorig,
         |         ${d2("pa.pv", "pb.pv")} AS dproj
         |  FROM v a JOIN v b ON a.vec_id < b.vec_id
         |  JOIN pr pa ON pa.vec_id = a.vec_id
         |  JOIN pr pb ON pb.vec_id = b.vec_id
         |)
         |SELECT id_a, id_b,
         |       round(dorig, 6) AS dist2_orig, round(dproj, 6) AS dist2_proj,
         |       CASE WHEN dorig > 0 THEN round(dproj / (32.0 * dorig), 6)
         |            ELSE 1.0 END AS jl_ratio,
         |       TRUE AS within_bound
         |FROM pd ORDER BY id_a, id_b""".stripMargin
    },
    // brute@10 and bucketed@10 replicated, matched items weighted by the
    // shared nano-grid tail weights W[max(ra, rb)] from Eval.rboWeightsNano
    "ann_rbo_eval" -> {
      val wCase = graft.ops.Eval.rboWeightsNano(0.9, 10).zipWithIndex
        .map { case (w, i) => s"WHEN ${i + 1} THEN CAST($w AS BIGINT)" }
        .mkString(" ")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label FROM embeddings WHERE vec_id < 16),
         |a AS (
         |  SELECT query_id, neighbor_id, rank FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |           CAST(row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY round(${cosineSql("q.qe", "e.embedding")}, 6) DESC, e.vec_id) AS INTEGER) AS rank
         |    FROM embeddings e, q WHERE e.vec_id <> q.query_id)
         |  WHERE rank <= 10
         |), b AS (
         |  SELECT query_id, neighbor_id, rank FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |           CAST(row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY round(${cosineSql("q.qe", "e.embedding")}, 6) DESC, e.vec_id) AS INTEGER) AS rank
         |    FROM embeddings e JOIN q ON e.label = q.label AND e.vec_id <> q.query_id)
         |  WHERE rank <= 10
         |), m AS (
         |  SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_common,
         |         CAST(sum(CASE greatest(a.rank, b.rank) $wCase END) AS BIGINT) AS wsum
         |  FROM a JOIN b ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
         |  GROUP BY 1
         |)
         |SELECT q.query_id, coalesce(n_common, 0) AS n_common,
         |       round(CAST(coalesce(wsum, 0) AS DOUBLE) / 1e9, 6) AS rbo
         |FROM (SELECT DISTINCT query_id FROM q) q LEFT JOIN m USING (query_id)
         |ORDER BY q.query_id""".stripMargin
    },
    "knn_cosine_bucketed" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label FROM embeddings WHERE vec_id < 16),
         |s AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         round(${cosineSql("q.qe", "e.embedding")}, 6) AS cosine_sim
         |  FROM embeddings e JOIN q ON e.label = q.label AND e.vec_id <> q.query_id
         |)
         |SELECT query_id, CAST(row_number() OVER w AS INTEGER) AS rank, neighbor_id, cosine_sim
         |FROM s
         |WINDOW w AS (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id)
         |QUALIFY row_number() OVER w <= 5
         |ORDER BY query_id, rank""".stripMargin,
    "knn_cosine_lsh" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, label,
         |         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
         |       + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
         |       + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
         |       + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
         |  FROM embeddings
         |), q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM e WHERE vec_id < 16),
         |s AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         round(${cosineSql("q.qe", "e.embedding")}, 6) AS cosine_sim
         |  FROM e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.query_id
         |)
         |SELECT query_id, CAST(row_number() OVER w AS INTEGER) AS rank, neighbor_id, cosine_sim
         |FROM s
         |WINDOW w AS (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id)
         |QUALIFY row_number() OVER w <= 5
         |ORDER BY query_id, rank""".stripMargin,
    "knn_cosine_multiprobe" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
         |       + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
         |       + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
         |       + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
         |  FROM embeddings
         |), q0 AS (
         |  SELECT vec_id AS query_id, embedding AS qe, bucket,
         |         abs(embedding[1]) AS a0, abs(embedding[2]) AS a1,
         |         abs(embedding[3]) AS a2, abs(embedding[4]) AS a3
         |  FROM e WHERE vec_id < 16
         |), qf AS (
         |  SELECT query_id, qe, bucket,
         |         CASE WHEN a0 <= a1 AND a0 <= a2 AND a0 <= a3 THEN 1
         |              WHEN a1 <= a2 AND a1 <= a3 THEN 2
         |              WHEN a2 <= a3 THEN 4
         |              ELSE 8 END AS flip
         |  FROM q0
         |), q AS (
         |  SELECT query_id, qe, bucket AS probe FROM qf
         |  UNION ALL
         |  SELECT query_id, qe, xor(bucket, flip) AS probe FROM qf
         |), s AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         round(${cosineSql("q.qe", "e.embedding")}, 6) AS cosine_sim
         |  FROM e JOIN q ON e.bucket = q.probe AND e.vec_id <> q.query_id
         |)
         |SELECT query_id, CAST(row_number() OVER w AS INTEGER) AS rank, neighbor_id, cosine_sim
         |FROM s
         |WINDOW w AS (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id)
         |QUALIFY row_number() OVER w <= 5
         |ORDER BY query_id, rank""".stripMargin,
    "embedding_near_dups" ->
      s"""WITH e AS (SELECT * FROM embeddings WHERE vec_id % 8 = 0)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       round(${cosineSql("a.embedding", "b.embedding")}, 6) AS cosine_sim
         |FROM e a JOIN e b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,
    // windows of 2048 every 1024 over the parsed WAV sample-frame counts;
    // DuckDB range() exclusive end ≙ Spark sequence(0, n-1, hop)
    "audio_window_plan" ->
      s"""WITH $MediaFeatureCtes,
         |a AS (
         |  SELECT media_id, n_frames AS n_samples FROM feat WHERE format = 'wav'
         |)
         |SELECT media_id, CAST(i // 1024 AS INTEGER) AS win_idx,
         |       CAST(i AS INTEGER) AS start_sample,
         |       CAST(least(2048, n_samples - i) AS INTEGER) AS n_in_window,
         |       n_samples
         |FROM a, unnest(range(0, n_samples, 1024)) AS u(i)
         |ORDER BY media_id, win_idx""".stripMargin,
    "multimodal_features" ->
      s"""WITH $MediaFeatureCtes
         |SELECT media_id, media_type, n_bytes, format, width, height,
         |       n_frames, channels, sample_rate
         |FROM feat ORDER BY media_id""".stripMargin,
    // byte-exact twin: CONSTRUCT the same header hex the fixture builder
    // emits (PNG signature+IHDR through the filter byte, JPEG
    // SOI+APP0+SOF0 through Nf, GIF header+LSD), then re-derive every
    // parsed field from that hex by slicing + bit arithmetic — never by
    // echoing the dimension formulas
    "image_header_stats" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         CAST(doc_id % 4 AS INTEGER) AS kind,
        |         CAST(doc_id AS BIGINT) AS d,
        |         CAST(strlen(text) AS BIGINT) AS n
        |  FROM documents WHERE doc_id % 4 < 3
        |), hx AS (
        |  SELECT media_id, kind,
        |         CASE kind
        |           WHEN 0 THEN '89504E470D0A1A0A0000000D49484452'
        |                       || printf('%08X', 1 + d % 512)
        |                       || printf('%08X', 1 + n % 512) || '08020000'
        |           WHEN 1 THEN 'FFD8FFE000104A46494600010100000100010000FFC0001108'
        |                       || printf('%04X', 16 + n % 1000)
        |                       || printf('%04X', 16 + d % 1000) || '03'
        |           ELSE '474946383961'
        |                || printf('%02X%02X', (1 + d % 256) % 256, (1 + d % 256) // 256)
        |                || printf('%02X%02X', (1 + n % 256) % 256, (1 + n % 256) // 256)
        |                || '000000'
        |         END AS header_hex
        |  FROM m
        |)
        |SELECT media_id,
        |       CASE kind WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
        |       CAST(CASE kind
        |         WHEN 0 THEN ('0x' || substr(header_hex, 33, 8))::BIGINT
        |         WHEN 1 THEN ('0x' || substr(header_hex, 55, 4))::BIGINT
        |         ELSE ('0x' || substr(header_hex, 15, 2))::BIGINT * 256
        |              + ('0x' || substr(header_hex, 13, 2))::BIGINT
        |       END AS INTEGER) AS width,
        |       CAST(CASE kind
        |         WHEN 0 THEN ('0x' || substr(header_hex, 41, 8))::BIGINT
        |         WHEN 1 THEN ('0x' || substr(header_hex, 51, 4))::BIGINT
        |         ELSE ('0x' || substr(header_hex, 19, 2))::BIGINT * 256
        |              + ('0x' || substr(header_hex, 17, 2))::BIGINT
        |       END AS INTEGER) AS height,
        |       CAST(CASE kind
        |         WHEN 2 THEN (('0x' || substr(header_hex, 21, 2))::BIGINT // 16) % 8 + 1
        |         ELSE ('0x' || substr(header_hex, 49, 2))::BIGINT
        |       END AS INTEGER) AS bit_depth,
        |       CAST(CASE kind
        |         WHEN 0 THEN CASE ('0x' || substr(header_hex, 51, 2))::BIGINT
        |                       WHEN 0 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 1
        |                       WHEN 4 THEN 2 WHEN 6 THEN 4 END
        |         WHEN 1 THEN ('0x' || substr(header_hex, 59, 2))::BIGINT
        |       END AS INTEGER) AS channels,
        |       header_hex
        |FROM hx ORDER BY media_id""".stripMargin,
    // byte-exact MP4 twin: CONSTRUCT the 240-byte ftyp+moov(mvhd)+trak1
    // prefix the fixture builder emits, then re-derive brand, duration,
    // timescale, trak count and tkhd 16.16 dims by hex slicing — the
    // image_header_stats discipline applied to ISO-BMFF
    "video_header_stats" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         CAST(doc_id AS BIGINT) AS d,
        |         CAST(strlen(text) AS BIGINT) AS n
        |  FROM documents
        |), fx AS (
        |  SELECT media_id,
        |         CASE WHEN d % 2 = 0 THEN '69736F6D' ELSE '6D703432' END AS bh,
        |         CASE d % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END AS ts,
        |         1 + d % 3 AS k,
        |         16 + d % 4080 AS w, 16 + n % 2160 AS h, n
        |  FROM m
        |), hx AS (
        |  SELECT media_id,
        |         '0000001866747970' || bh || '0000000069736F6D6D703431'
        |         || printf('%08X', 116 + 100 * k) || '6D6F6F76'
        |         || '0000006C6D76686400000000' || '0000000000000000'
        |         || printf('%08X', ts) || printf('%08X', ts + n % 100000)
        |         || '0001000001000000' || '0000000000000000'
        |         || '000100000000000000000000000000000001000000000000000000000000000040000000'
        |         || repeat('0', 48) || printf('%08X', k + 1)
        |         || '000000647472616B' || '0000005C746B686400000007'
        |         || '0000000000000000' || '00000001' || '00000000'
        |         || printf('%08X', ts + n % 100000)
        |         || '0000000000000000' || '00000000' || '00000000'
        |         || '000100000000000000000000000000000001000000000000000000000000000040000000'
        |         || printf('%04X', w) || '0000' || printf('%04X', h) || '0000'
        |           AS header_hex
        |  FROM fx
        |)
        |SELECT media_id, 'mp4' AS format,
        |       CASE substr(header_hex, 17, 8) WHEN '69736F6D' THEN 'isom'
        |            WHEN '6D703432' THEN 'mp42' END AS brand,
        |       CAST(('0x' || substr(header_hex, 113, 8))::BIGINT * 1000
        |            // ('0x' || substr(header_hex, 105, 8))::BIGINT AS BIGINT)
        |         AS duration_ms,
        |       CAST((('0x' || substr(header_hex, 49, 8))::BIGINT - 116) // 100
        |         AS INTEGER) AS n_tracks,
        |       CAST(('0x' || substr(header_hex, 465, 4))::BIGINT AS INTEGER) AS width,
        |       CAST(('0x' || substr(header_hex, 473, 4))::BIGINT AS INTEGER) AS height,
        |       header_hex
        |FROM hx ORDER BY media_id""".stripMargin,
    "resize_plan" ->
      s"""WITH $MediaFeatureCtes,
         |f AS (
         |  SELECT media_id, width, height FROM feat
         |  WHERE format IN ('png', 'jpeg', 'gif') AND width > 0 AND height > 0
         |)
         |SELECT media_id, width, height,
         |       CAST(CASE WHEN width <= 224 AND height <= 224 THEN width
         |                 WHEN width * 224 <= height * 224 THEN greatest(1, (width * 224) // height)
         |                 ELSE 224 END AS INTEGER) AS out_w,
         |       CAST(CASE WHEN width <= 224 AND height <= 224 THEN height
         |                 WHEN width * 224 <= height * 224 THEN 224
         |                 ELSE greatest(1, (height * 224) // width) END AS INTEGER) AS out_h
         |FROM f ORDER BY media_id""".stripMargin,
    "frame_sample_plan" ->
      s"""WITH $MediaFeatureCtes,
         |s AS (
         |  SELECT media_id, media_type, n_frames,
         |         CAST(ceil(n_frames / 8.0) AS INTEGER) AS stride
         |  FROM feat WHERE n_frames > 1
         |)
         |SELECT media_id, media_type, n_frames,
         |       CAST(unnest(range(0, n_frames, stride)) AS INTEGER) AS frame_idx
         |FROM s ORDER BY media_id, frame_idx""".stripMargin,
    // same (id, seed) bucket arithmetic via datasetSplitSql — a hash
    // match proves per-document split assignment agrees engine-to-engine
    "dataset_split_stats" ->
      s"""SELECT ${Curation.datasetSplitSql("doc_id", SplitWeights)} AS split,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS n_chars_total
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // BRUTE FORCE on the oracle side (all doc pairs) vs prefix-filtered
    // candidates on the Spark side — equality certifies the pruning
    // dropped nothing. The length-ratio prune is implied by J ≥ t.
    "setsim_prefix_pairs" ->
      s"""WITH b0 AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), base AS (
         |  SELECT doc_id, $Shingles AS toks FROM b0
         |), nz AS (
         |  SELECT doc_id, toks, len(toks) AS s FROM base WHERE len(toks) > 0
         |), c AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE) AS i,
         |         CAST(a.s + b.s AS DOUBLE) AS u0
         |  FROM nz a JOIN nz b
         |    ON a.doc_id < b.doc_id
         |   AND least(a.s, b.s) >= 0.6 * greatest(a.s, b.s)
         |)
         |SELECT id_a, id_b,
         |       CASE WHEN u0 - i > 0 THEN i / (u0 - i) ELSE 0.0 END AS jaccard
         |FROM c
         |WHERE CASE WHEN u0 - i > 0 THEN i / (u0 - i) ELSE 0.0 END >= 0.6
         |ORDER BY id_a, id_b""".stripMargin,
    // same per-block (n_chars, doc_id) ordering and ≤10-position window
    "setsim_snm_pairs" ->
      s"""WITH b0 AS (
         |  SELECT doc_id, lang, n_chars, $Toks AS toks FROM documents
         |), base AS (
         |  SELECT doc_id, lang AS block, n_chars, $Shingles AS toks FROM b0
         |), nz AS (
         |  SELECT doc_id, block, n_chars, toks, len(toks) AS s
         |  FROM base WHERE len(toks) > 0
         |), p AS (
         |  SELECT doc_id, block, toks, s,
         |         CAST(row_number() OVER (PARTITION BY block ORDER BY n_chars, doc_id) AS BIGINT) AS pos
         |  FROM nz
         |), c AS (
         |  SELECT a.block, a.doc_id AS id_a, b.doc_id AS id_b,
         |         b.pos - a.pos AS pos_gap,
         |         CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE) AS i,
         |         CAST(a.s + b.s AS DOUBLE) AS u0
         |  FROM p a JOIN p b
         |    ON a.block = b.block AND b.pos - a.pos BETWEEN 1 AND 10
         |)
         |SELECT block, id_a, id_b, pos_gap,
         |       CASE WHEN u0 - i > 0 THEN i / (u0 - i) ELSE 0.0 END AS jaccard
         |FROM c
         |WHERE CASE WHEN u0 - i > 0 THEN i / (u0 - i) ELSE 0.0 END >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,
    // same micro-unit weight grid, HUGEINT exact norms/dots, one
    // double division per pair — bit-identical cosines engine-to-engine
    "sparse_cosine_pairs" ->
      s"""WITH b0 AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), t AS (
         |  SELECT doc_id, unnest($ShinglesAll) AS term FROM b0
         |), tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2
         |), v AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
         |), nn AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
         |), w AS (
         |  SELECT doc_id, tf.term,
         |         CAST(round(CAST(tf AS DOUBLE)
         |                    * ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0))
         |                    * 1000000.0) AS BIGINT) AS w
         |  FROM tf JOIN v ON tf.term = v.term CROSS JOIN nn
         |  WHERE df <= 50
         |), w2 AS (SELECT * FROM w WHERE w <> 0
         |), norms AS (
         |  SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS n2 FROM w2 GROUP BY 1
         |), dots AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         sum(CAST(a.w AS HUGEINT) * b.w) AS dot
         |  FROM w2 a JOIN w2 b ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), cos AS (
         |  SELECT id_a, id_b,
         |         round(CAST(dot AS DOUBLE)
         |               / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cosine
         |  FROM dots JOIN norms na ON na.doc_id = id_a
         |  JOIN norms nb ON nb.doc_id = id_b
         |)
         |SELECT id_a, id_b, cosine FROM cos WHERE cosine >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,
    // same micro-unit ln grid, exact HUGEINT moments, identical
    // closed-form division — slope/intercept bit-equal
    "zipf_fit" ->
      s"""WITH t AS (
         |  SELECT unnest($Toks) AS term FROM documents
         |), counts AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS total_tf FROM t GROUP BY 1
         |  ORDER BY total_tf DESC, term LIMIT 20
         |), ranked AS (
         |  SELECT total_tf,
         |         CAST(row_number() OVER (ORDER BY total_tf DESC, term) AS BIGINT) AS rank
         |  FROM counts
         |), fixed AS (
         |  SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
         |         CAST(round(ln(CAST(total_tf AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
         |  FROM ranked
         |), m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
         |  FROM fixed
         |)
         |SELECT 'corpus' AS corpus, n,
         |       round(CASE WHEN n * sxx - sx * sx <> 0
         |                  THEN CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
         |             END, 6) AS slope,
         |       round(CASE WHEN n * sxx - sx * sx <> 0
         |                  THEN (CAST(sy AS DOUBLE) -
         |                        (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
         |                        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
         |             END, 6) AS intercept
         |FROM m""".stripMargin,
    // identical SNM candidates (ungated), identical micro-ln weight
    // literals from Linkage.weightsMicro, exact integer scores
    "linkage_snm_scores" -> {
      val (saA, saD) = graft.ops.Linkage.weightsMicro(LinkSourceMU._1, LinkSourceMU._2)
      val (lnA, lnD) = graft.ops.Linkage.weightsMicro(LinkLenMU._1, LinkLenMU._2)
      val (txA, txD) = graft.ops.Linkage.weightsMicro(LinkTextMU._1, LinkTextMU._2)
      val up = (LinkUpper * 1e6).toLong
      val lo = (LinkLower * 1e6).toLong
      s"""WITH b0 AS (
         |  SELECT doc_id, lang, n_chars, $Toks AS toks FROM documents
         |), base AS (
         |  SELECT doc_id, lang AS block, n_chars, $Shingles AS toks FROM b0
         |), nz AS (
         |  SELECT doc_id, block, n_chars, toks, len(toks) AS s
         |  FROM base WHERE len(toks) > 0
         |), p AS (
         |  SELECT doc_id, block, toks, s,
         |         CAST(row_number() OVER (PARTITION BY block ORDER BY n_chars, doc_id) AS BIGINT) AS pos
         |  FROM nz
         |), c AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE) AS i,
         |         CAST(a.s + b.s AS DOUBLE) AS u0
         |  FROM p a JOIN p b
         |    ON a.block = b.block AND b.pos - a.pos BETWEEN 1 AND 10
         |), jac AS (
         |  SELECT id_a, id_b,
         |         CASE WHEN u0 - i > 0 THEN i / (u0 - i) ELSE 0.0 END AS jaccard
         |  FROM c
         |), scored AS (
         |  SELECT (CASE WHEN da.source = db.source THEN $saA
         |               WHEN NOT (da.source = db.source) THEN $saD ELSE 0 END)
         |       + (CASE WHEN abs(da.n_chars - db.n_chars) * 20 <= greatest(da.n_chars, db.n_chars) THEN $lnA
         |               WHEN NOT (abs(da.n_chars - db.n_chars) * 20 <= greatest(da.n_chars, db.n_chars)) THEN $lnD ELSE 0 END)
         |       + (CASE WHEN jaccard >= 0.5 THEN $txA
         |               WHEN NOT (jaccard >= 0.5) THEN $txD ELSE 0 END) AS score_micro
         |  FROM jac
         |  JOIN documents da ON da.doc_id = jac.id_a
         |  JOIN documents db ON db.doc_id = jac.id_b
         |), verdicts AS (
         |  SELECT round(CAST(score_micro AS DOUBLE) / 1000000.0, 6) AS score,
         |         CASE WHEN score_micro >= $up THEN 'match'
         |              WHEN score_micro <= $lo THEN 'non_match'
         |              ELSE 'possible' END AS verdict
         |  FROM scored
         |)
         |SELECT verdict, CAST(count(*) AS BIGINT) AS n_pairs,
         |       min(score) AS min_score, max(score) AS max_score
         |FROM verdicts GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // same expression tree (idf, length normalizer, contribution) over
    // the same exact integer inputs, micro-rounded per posting, exact
    // integer score sum — k1/b/(k1+1) literals interpolated from the
    // SAME Scala doubles (round-trip printing), so no constant drift
    "bm25_top_docs" -> {
      val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
      val k1 = 1.2
      val b = 0.75
      val k1p1 = k1 + 1.0
      s"""WITH b0 AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), t AS (
         |  SELECT doc_id, unnest(toks) AS term FROM b0
         |), tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM b0
         |), nn AS (
         |  SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
         |         CAST((SELECT sum(len(toks)) FROM b0) AS BIGINT) AS total_len
         |), qv AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df
         |  FROM tf WHERE term IN ($terms) GROUP BY 1
         |), c AS (
         |  SELECT tf.doc_id,
         |         CAST(round(
         |           ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |              / (CAST(df AS DOUBLE) + 0.5) + 1.0)
         |           * (CAST(tf AS DOUBLE) * $k1p1)
         |           / (CAST(tf AS DOUBLE) + $k1 *
         |              (1.0 - $b + $b * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
         |               / CAST(total_len AS DOUBLE)))
         |           * 1000000.0) AS BIGINT) AS c_micro
         |  FROM tf JOIN qv ON tf.term = qv.term
         |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN nn
         |), scored AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
         |         CAST(sum(c_micro) AS BIGINT) AS score_micro
         |  FROM c GROUP BY 1
         |), pick AS (
         |  SELECT * FROM scored ORDER BY score_micro DESC, doc_id LIMIT 15
         |)
         |SELECT doc_id, n_hits,
         |       round(CAST(score_micro AS DOUBLE) / 1000000.0, 6) AS score
         |FROM pick ORDER BY score_micro DESC, doc_id""".stripMargin
    },
    // segment enumeration is the correlated-unnest shingle idiom at
    // non-overlapping 16-token grain; "first writer wins" is a
    // row_number over (doc, seg_idx) — the same total order as the
    // Spark side's min(struct); the digest string_agg is ordered and
    // null-skipping on both engines, with the all-removed document
    // pinned to md5('') by the coalesce
    "segment_dedup_docs" ->
      s"""WITH b0 AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), seg AS (
         |  SELECT doc_id, CAST(i AS INTEGER) AS seg_idx,
         |         md5(array_to_string(toks[(i*16+1):(i*16+16)], ' ')) AS seg_fp
         |  FROM b0, unnest(range(0, CAST(ceil(len(toks) / 16.0) AS BIGINT))) AS u(i)
         |  WHERE len(toks) > 0
         |), mark AS (
         |  SELECT doc_id, seg_idx, seg_fp,
         |         row_number() OVER (PARTITION BY seg_fp ORDER BY doc_id, seg_idx) = 1 AS kept
         |  FROM seg
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
         |       CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
         |       md5(coalesce(string_agg(CASE WHEN kept THEN seg_fp END, ' '
         |                               ORDER BY seg_idx), '')) AS kept_fp
         |FROM mark GROUP BY 1
         |HAVING sum(CASE WHEN kept THEN 0 ELSE 1 END) > 0
         |ORDER BY doc_id""".stripMargin,
    // dense CTE = the knn_cosine_brute shape at k=20; lex CTE = the
    // bm25_top_docs expression tree with a per-query term table
    // (distinct tokens of each query document, self-pairs excluded);
    // fusion contributions are floor(1e9/(60+rank)) — ranks are small
    // integers, so the rational is never within an ulp of an integer
    // unless exact, and floor agrees bit-for-bit across engines
    "hybrid_rrf_docs" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8
         |), sims AS (
         |  SELECT q.query_id, e.vec_id AS doc_id,
         |         round(${cosineSql("q.qe", "e.embedding")}, 6) AS cosine_sim
         |  FROM embeddings e, q WHERE e.vec_id <> q.query_id
         |), dense AS (
         |  SELECT query_id, doc_id,
         |         CAST(row_number() OVER wd AS INTEGER) AS rank_dense
         |  FROM sims
         |  WINDOW wd AS (PARTITION BY query_id ORDER BY cosine_sim DESC, doc_id)
         |  QUALIFY row_number() OVER wd <= 20
         |), b0 AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), t AS (
         |  SELECT doc_id, unnest(toks) AS term FROM b0
         |), tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM b0
         |), nn AS (
         |  SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
         |         CAST((SELECT sum(len(toks)) FROM b0) AS BIGINT) AS total_len
         |), qt AS (
         |  SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS term
         |  FROM b0 WHERE doc_id < 8
         |), qdf AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
         |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1
         |), c AS (
         |  SELECT qt.query_id, tf.doc_id,
         |         CAST(round(
         |           ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |              / (CAST(df AS DOUBLE) + 0.5) + 1.0)
         |           * (CAST(tf AS DOUBLE) * 2.2)
         |           / (CAST(tf AS DOUBLE) + 1.2 *
         |              (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
         |               / CAST(total_len AS DOUBLE)))
         |           * 1000000.0) AS BIGINT) AS c_micro
         |  FROM tf JOIN qt ON tf.term = qt.term AND tf.doc_id <> qt.query_id
         |  JOIN qdf ON qdf.term = tf.term
         |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN nn
         |), lexs AS (
         |  SELECT query_id, doc_id, CAST(sum(c_micro) AS BIGINT) AS score_micro
         |  FROM c GROUP BY 1, 2
         |), lex AS (
         |  SELECT query_id, doc_id,
         |         CAST(row_number() OVER wl AS INTEGER) AS rank_lex
         |  FROM lexs
         |  WINDOW wl AS (PARTITION BY query_id ORDER BY score_micro DESC, doc_id)
         |  QUALIFY row_number() OVER wl <= 20
         |), fused AS (
         |  SELECT coalesce(d.query_id, l.query_id) AS query_id,
         |         coalesce(d.doc_id, l.doc_id) AS doc_id,
         |         coalesce(CAST(floor(1000000000.0 / (60.0 + rank_dense)) AS BIGINT), 0)
         |         + coalesce(CAST(floor(1000000000.0 / (60.0 + rank_lex)) AS BIGINT), 0)
         |           AS rrf_nano,
         |         d.rank_dense, l.rank_lex
         |  FROM dense d FULL OUTER JOIN lex l
         |    ON d.query_id = l.query_id AND d.doc_id = l.doc_id
         |)
         |SELECT query_id, CAST(row_number() OVER w AS INTEGER) AS rank,
         |       doc_id, rrf_nano, rank_dense, rank_lex
         |FROM fused
         |WINDOW w AS (PARTITION BY query_id ORDER BY rrf_nano DESC, doc_id)
         |QUALIFY row_number() OVER w <= 10
         |ORDER BY query_id, rank""".stripMargin,
    // same md5-hashed unigram+bigram buckets, same 256-row smoothed
    // models with the ONE ln rounding at bucket grain, so per-doc
    // logw sums are BIGINT-exact in both engines (Dsir scaladoc)
    "dsir_importance_weights" ->
      s"""$DsirWeightCtes
         |SELECT d.doc_id, d.source,
         |       CAST(coalesce(w.n_feats, 0) AS BIGINT) AS n_feats,
         |       CAST(coalesce(w.logw_nano, 0) AS BIGINT) AS logw_nano
         |FROM documents d LEFT JOIN w USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // weights CTEs + the hash-deterministic Gumbel key: one md5-derived
    // uniform and one ln pair per doc, rounded once to nano — the top-k
    // is then pure BIGINT ordering on both engines
    "dsir_gumbel_sample" ->
      s"""$DsirWeightCtes,
         |keyed AS (
         |  SELECT d.doc_id, d.source,
         |         CAST(coalesce(w.logw_nano, 0) AS BIGINT) +
         |         CAST(round(-ln(-ln(
         |             (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE) + 0.5)
         |             / 1152921504606846976.0)) * 1000000000.0) AS BIGINT)
         |           AS key_nano
         |  FROM documents d LEFT JOIN w USING (doc_id)
         |), ranked AS (
         |  SELECT CAST(row_number() OVER (ORDER BY key_nano DESC, doc_id) AS INTEGER) AS sample_rank,
         |         doc_id, source, key_nano
         |  FROM keyed
         |)
         |SELECT sample_rank, doc_id, source, key_nano FROM ranked
         |WHERE sample_rank <= $DsirK ORDER BY sample_rank""".stripMargin,
    // same 80/20 pmod split, same three raw-count tables, the same
    // short double chain per position (decimal-literal penalty × one
    // BIGINT/BIGINT division) rounded ONCE to nano — doc sums exact
    "sbo_heldout_scores" ->
      s"""WITH base AS (
         |  SELECT doc_id, $Toks AS toks FROM documents
         |), pe0 AS (
         |  SELECT doc_id,
         |         unnest(range(1, len(toks) + 1)) AS i,
         |         unnest(toks) AS w,
         |         unnest(list_transform(range(1, len(toks) + 1),
         |           i -> CASE WHEN i >= 2 THEN toks[i - 1] END)) AS w1,
         |         unnest(list_transform(range(1, len(toks) + 1),
         |           i -> CASE WHEN i >= 3 THEN toks[i - 2] END)) AS w2
         |  FROM base WHERE len(toks) >= 1
         |), pe AS (
         |  SELECT doc_id, CAST(i AS INTEGER) AS i, w, w1, w2 FROM pe0
         |), tr AS (
         |  SELECT * FROM pe WHERE ((doc_id % 5) + 5) % 5 <> 0
         |), ho AS (
         |  SELECT * FROM pe WHERE ((doc_id % 5) + 5) % 5 = 0
         |), c1 AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM tr GROUP BY 1
         |), c2 AS (
         |  SELECT w1, w, CAST(count(*) AS BIGINT) AS c2 FROM tr
         |  WHERE w1 IS NOT NULL GROUP BY 1, 2
         |), c3 AS (
         |  SELECT w2, w1, w, CAST(count(*) AS BIGINT) AS c3 FROM tr
         |  WHERE w2 IS NOT NULL GROUP BY 1, 2, 3
         |), nv AS (
         |  SELECT CAST((SELECT count(*) FROM tr) AS DOUBLE) AS n,
         |         CAST((SELECT count(*) FROM c1) AS DOUBLE) AS v
         |), sc AS (
         |  SELECT ho.doc_id, ho.i,
         |         CASE WHEN ho.i >= 3 AND c3.c3 IS NOT NULL THEN 3
         |              WHEN ho.i >= 2 AND c2.c2 IS NOT NULL THEN 2
         |              ELSE 1 END AS lvl,
         |         LEAST(ho.i, 3) AS strt,
         |         c3.c3 AS c3, c2p.c2 AS c2p, c2.c2 AS c2,
         |         c1p.c1 AS c1p, c1.c1 AS c1, nv.n AS n, nv.v AS v
         |  FROM ho
         |  LEFT JOIN c3 ON c3.w2 = ho.w2 AND c3.w1 = ho.w1 AND c3.w = ho.w
         |  LEFT JOIN c2 c2p ON c2p.w1 = ho.w2 AND c2p.w = ho.w1
         |  LEFT JOIN c2 ON c2.w1 = ho.w1 AND c2.w = ho.w
         |  LEFT JOIN c1 c1p ON c1p.w = ho.w1
         |  LEFT JOIN c1 ON c1.w = ho.w
         |  CROSS JOIN nv
         |), lp AS (
         |  SELECT doc_id, lvl,
         |         CAST(round(ln(
         |           (CASE strt - lvl WHEN 0 THEN 1.0 WHEN 1 THEN 0.4 ELSE 0.16 END) *
         |           (CASE WHEN lvl = 3 THEN CAST(c3 AS DOUBLE) / CAST(c2p AS DOUBLE)
         |                 WHEN lvl = 2 THEN CAST(c2 AS DOUBLE) / CAST(c1p AS DOUBLE)
         |                 ELSE (CAST(coalesce(c1, 0) AS DOUBLE) + 1.0) / (n + v) END)
         |         ) * 1000000000.0) AS BIGINT) AS lp_nano
         |  FROM sc
         |), agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos,
         |         CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
         |         CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
         |         CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
         |         CAST(sum(lp_nano) AS BIGINT) AS lp_nano_sum
         |  FROM lp GROUP BY 1
         |)
         |SELECT d.doc_id,
         |       CAST(coalesce(a.n_pos, 0) AS BIGINT) AS n_pos,
         |       CAST(coalesce(a.n_tri, 0) AS BIGINT) AS n_tri,
         |       CAST(coalesce(a.n_bi, 0) AS BIGINT) AS n_bi,
         |       CAST(coalesce(a.n_uni, 0) AS BIGINT) AS n_uni,
         |       CAST(coalesce(a.lp_nano_sum, 0) AS BIGINT) AS lp_nano_sum
         |FROM (SELECT doc_id FROM documents WHERE ((doc_id % 5) + 5) % 5 = 0) d
         |LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // lm_quality_score's model CTEs kept verbatim, then the exact
    // integer milli-nat grid (a pmod floordiv — divisible longs stay
    // exact through the one double division), per-lang cumulative
    // counts over the GRID, value cutoffs at ceil(n/3)/ceil(2n/3),
    // threshold bucket assignment — identical arithmetic both engines
    "ccnet_ppl_buckets" ->
      s"""WITH norm AS (
         |  SELECT doc_id, trim(regexp_replace(lower(text), '$Ws', ' ', 'g')) AS s
         |  FROM documents
         |), bg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, length(s)), i -> s[i:i+1])) AS bigram
         |  FROM norm WHERE length(s) >= 2
         |), model AS (
         |  SELECT bigram, CAST(count(*) AS BIGINT) AS cnt FROM bg GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(cnt) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS v FROM model
         |), lp AS (
         |  SELECT bigram,
         |         CAST(round(ln((CAST(cnt AS DOUBLE) + 1.0) / (total + v)) * 1000000000.0) AS BIGINT) AS lp_nano
         |  FROM model CROSS JOIN tot
         |), sums AS (
         |  SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |         CAST(sum(lp_nano) AS BIGINT) AS lp_sum
         |  FROM bg JOIN lp USING (bigram) GROUP BY 1
         |), sc AS (
         |  SELECT d.lang, s.doc_id, s.n_bigrams,
         |         CAST((lp_sum - (((lp_sum % (n_bigrams * 1000000)) + (n_bigrams * 1000000)) % (n_bigrams * 1000000)))
         |              / (n_bigrams * 1000000) AS BIGINT) AS m_milli
         |  FROM sums s JOIN documents d USING (doc_id)
         |), grid AS (
         |  SELECT lang, m_milli, CAST(count(*) AS BIGINT) AS n FROM sc GROUP BY 1, 2
         |), cum AS (
         |  SELECT lang, m_milli,
         |         sum(n) OVER (PARTITION BY lang ORDER BY m_milli DESC
         |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM grid
         |), tot2 AS (
         |  SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM grid GROUP BY 1
         |), cuts AS (
         |  SELECT c.lang,
         |         max(CASE WHEN cum >= CAST(floor((nl + 2) / 3.0) AS BIGINT) THEN m_milli END) AS cut1,
         |         max(CASE WHEN cum >= CAST(floor((nl * 2 + 2) / 3.0) AS BIGINT) THEN m_milli END) AS cut2
         |  FROM cum c JOIN tot2 USING (lang) GROUP BY 1
         |), bk AS (
         |  SELECT sc.lang,
         |         CASE WHEN m_milli >= cut1 THEN 1
         |              WHEN m_milli >= cut2 THEN 2 ELSE 3 END AS bucket,
         |         n_bigrams, m_milli
         |  FROM sc JOIN cuts USING (lang)
         |)
         |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(min(m_milli) AS BIGINT) AS min_milli,
         |       CAST(max(m_milli) AS BIGINT) AS max_milli,
         |       CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams
         |FROM bk GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,
    "nb_lang_confusion" -> NbConfusionSql,
    "lang_xent_matrix" -> LangXentSql,
    "unigram_tokenize_stats" -> UnigramSql,
    "unigram_train_vocab" -> UnigramTrainVocabSql,
    "unigram_train_doc_stats" -> UnigramTrainDocStatsSql,
    // both tokenizer chains composed: the BPE train+apply CTEs and the
    // unigram inference DP run over the same corpus, each under its own
    // word model, rolled up to language grain with micro-integer ratios
    "tokenizer_fertility_eval" ->
      s"""WITH RECURSIVE ${graft.llm.Bpe.learnAndApplyChainSql(
               BpeWordsSql, BpeFormsSql, numMerges = 20, passes = 8)},
         |bdw AS (
         |  SELECT doc_id, a[g + 1] AS word
         |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z]+') AS a
         |        FROM documents) t,
         |       unnest(range(0, len(a))) AS u(g)
         |  WHERE a[g + 1] <> '' AND length(a[g + 1]) <= 16
         |), bper AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS bpe_words,
         |         CAST(sum(len(string_split(v.syms, ' '))) AS BIGINT) AS bpe_subwords,
         |         CAST(sum(length(bdw.word)) AS BIGINT) AS bpe_chars
         |  FROM bdw JOIN v20 v USING (word) GROUP BY 1
         |),
         |$UnigramDocstatsCtes,
         |uchars AS (
         |  SELECT doc_id, CAST(sum(length(word)) AS BIGINT) AS uni_chars
         |  FROM wocc GROUP BY 1
         |), per AS (
         |  SELECT d.lang,
         |         coalesce(b.bpe_words, 0) AS bpe_words,
         |         coalesce(b.bpe_subwords, 0) AS bpe_subwords,
         |         coalesce(b.bpe_chars, 0) AS bpe_chars,
         |         coalesce(s.n_words, 0) AS uni_words,
         |         coalesce(s.n_pieces, 0) AS uni_pieces,
         |         coalesce(u.uni_chars, 0) AS uni_chars
         |  FROM documents d
         |  LEFT JOIN bper b USING (doc_id)
         |  LEFT JOIN docstats s USING (doc_id)
         |  LEFT JOIN uchars u USING (doc_id)
         |), lg AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(bpe_words) AS BIGINT) AS bpe_words,
         |         CAST(sum(bpe_subwords) AS BIGINT) AS bpe_subwords,
         |         CAST(sum(bpe_chars) AS BIGINT) AS bpe_chars,
         |         CAST(sum(uni_words) AS BIGINT) AS uni_words,
         |         CAST(sum(uni_pieces) AS BIGINT) AS uni_pieces,
         |         CAST(sum(uni_chars) AS BIGINT) AS uni_chars
         |  FROM per GROUP BY 1
         |)
         |SELECT lang, n_docs, bpe_words, bpe_subwords, uni_words, uni_pieces,
         |       CAST(CASE WHEN bpe_words > 0 THEN (bpe_subwords * 1000000) // bpe_words ELSE 0 END AS BIGINT) AS bpe_fert_micro,
         |       CAST(CASE WHEN uni_words > 0 THEN (uni_pieces * 1000000) // uni_words ELSE 0 END AS BIGINT) AS uni_fert_micro,
         |       CAST(CASE WHEN bpe_subwords > 0 THEN (bpe_chars * 1000000) // bpe_subwords ELSE 0 END AS BIGINT) AS bpe_chars_per_tok_micro,
         |       CAST(CASE WHEN uni_pieces > 0 THEN (uni_chars * 1000000) // uni_pieces ELSE 0 END AS BIGINT) AS uni_chars_per_tok_micro
         |FROM lg ORDER BY lang""".stripMargin,
    "linear_probe_trace" -> LinearProbeTraceSql,
    "linear_probe_eval" -> LinearProbeEvalSql,
    "linear_probe_filter_stats" -> LinearProbeFilterSql,
    // the SubstringDupCtes gram idiom at w=8, split by pmod, distinct
    // train hashes left-joined onto the held-out occurrence stream
    "novelty_ngram_stats" ->
      s"""WITH base AS (
         |  SELECT doc_id, $Toks AS t FROM documents
         |), tr AS (
         |  SELECT DISTINCT ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT AS h
         |  FROM base, unnest(range(1, len(t) - 6)) AS u(i)
         |  WHERE ((doc_id % 5) + 5) % 5 <> 0 AND len(t) >= 8
         |), ho AS (
         |  SELECT doc_id,
         |         ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT AS h
         |  FROM base, unnest(range(1, len(t) - 6)) AS u(i)
         |  WHERE ((doc_id % 5) + 5) % 5 = 0 AND len(t) >= 8
         |), per AS (
         |  SELECT ho.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |         CAST(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
         |  FROM ho LEFT JOIN tr USING (h) GROUP BY 1
         |)
         |SELECT d.doc_id,
         |       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
         |       CAST(coalesce(p.n_seen, 0) AS BIGINT) AS n_seen
         |FROM (SELECT doc_id FROM documents WHERE ((doc_id % 5) + 5) % 5 = 0) d
         |LEFT JOIN per p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // the certified near-dup closure (reach CTE) + the certified split
    // function applied to doc_id (naive) and group_id (cluster-safe),
    // leak measured as groups spanning >1 split
    "leakage_safe_splits" ->
      s"""WITH RECURSIVE ${nearDupClosureCtes("documents")},
         |cl AS (
         |  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1
         |), g AS (
         |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS group_id
         |  FROM (SELECT doc_id FROM documents) d LEFT JOIN cl USING (doc_id)
         |), b AS (
         |  SELECT doc_id, group_id,
         |         ${Curation.datasetSplitSql("doc_id", SplitWeights)} AS naive,
         |         ${Curation.datasetSplitSql("group_id", SplitWeights)} AS grouped
         |  FROM g
         |), st AS (
         |  SELECT doc_id, group_id, 'doc_hash' AS strategy, naive AS split FROM b
         |  UNION ALL
         |  SELECT doc_id, group_id, 'cluster_hash' AS strategy, grouped AS split FROM b
         |), gs AS (
         |  SELECT strategy, group_id, count(DISTINCT split) AS nsplits
         |  FROM st GROUP BY 1, 2
         |)
         |SELECT st.strategy, st.split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT st.group_id) AS BIGINT) AS n_groups,
         |       CAST(count(DISTINCT CASE WHEN nsplits > 1 THEN st.group_id END) AS BIGINT) AS n_leaky_groups
         |FROM st JOIN gs USING (strategy, group_id)
         |GROUP BY 1, 2 ORDER BY strategy, split""".stripMargin,
    // knn_cosine_brute's exact-cosine shape plus the band filter on the
    // ROUNDED similarity and the fingerprint-inequality exclusion
    "hard_negative_pool" ->
      s"""WITH fp AS (
         |  SELECT doc_id, $Fingerprint AS f FROM documents
         |), e AS (
         |  SELECT vec_id, embedding, f FROM embeddings
         |  JOIN fp ON vec_id = doc_id
         |), q AS (
         |  SELECT vec_id AS query_id, embedding AS qe, f AS qf FROM e WHERE vec_id < 16
         |), s AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         round(${cosineSql("q.qe", "e.embedding")}, 6) AS cosine_sim,
         |         q.qf, e.f
         |  FROM e, q WHERE e.vec_id <> q.query_id
         |), b AS (
         |  SELECT query_id, neighbor_id, cosine_sim FROM s
         |  WHERE cosine_sim >= $HardNegLo AND cosine_sim <= $HardNegHi AND qf <> f
         |)
         |SELECT query_id, CAST(row_number() OVER w AS INTEGER) AS rank,
         |       neighbor_id, cosine_sim
         |FROM b
         |WINDOW w AS (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id)
         |QUALIFY row_number() OVER w <= 10
         |ORDER BY query_id, rank""".stripMargin,
    // one conditional term-grain aggregate, the same prior/delta/sigma
    // expression tree from exact integer counts, micro-rounded z
    "log_odds_terms" -> {
      val a0 = 100.0
      s"""WITH b0 AS (
         |  SELECT lang = 'en' AS is_a, $Toks AS toks FROM documents
         |), t AS (
         |  SELECT is_a, unnest(toks) AS term FROM b0
         |), counts AS (
         |  SELECT term,
         |         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS y_a,
         |         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS y_b
         |  FROM t GROUP BY 1
         |), nn AS (
         |  SELECT CAST(sum(CASE WHEN is_a THEN len(toks) ELSE 0 END) AS BIGINT) AS n_a,
         |         CAST(sum(CASE WHEN is_a THEN 0 ELSE len(toks) END) AS BIGINT) AS n_b
         |  FROM b0
         |), z AS (
         |  SELECT term, y_a, y_b,
         |         CAST(round(
         |           (ln((CAST(y_a AS DOUBLE) + aw)
         |               / (CAST(n_a AS DOUBLE) + $a0 - CAST(y_a AS DOUBLE) - aw))
         |            - ln((CAST(y_b AS DOUBLE) + aw)
         |                 / (CAST(n_b AS DOUBLE) + $a0 - CAST(y_b AS DOUBLE) - aw)))
         |           / sqrt(1.0 / (CAST(y_a AS DOUBLE) + aw)
         |                  + 1.0 / (CAST(y_b AS DOUBLE) + aw))
         |           * 1000000.0) AS BIGINT) AS z_micro
         |  FROM (
         |    SELECT term, y_a, y_b, n_a, n_b,
         |           $a0 * (CAST(y_a AS DOUBLE) + CAST(y_b AS DOUBLE))
         |             / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS aw
         |    FROM counts CROSS JOIN nn
         |  )
         |), pick AS (
         |  SELECT * FROM z ORDER BY abs(z_micro) DESC, term LIMIT 20
         |)
         |SELECT term, y_a, y_b,
         |       round(CAST(z_micro AS DOUBLE) / 1000000.0, 6) AS z
         |FROM pick ORDER BY abs(z_micro) DESC, term""".stripMargin
    },
  )
}
