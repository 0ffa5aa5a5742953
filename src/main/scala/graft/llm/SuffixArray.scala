package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.BroadcastBudget
import graft.ops.BroadcastBudget.hintIf

/** One retained doubling-round rank table, restricted to the rows the
  * LCP lift can ever use (r13): a position whose level-`p` rank group is
  * a SINGLETON cannot share that rank with any OTHER position, so a lift
  * lookup of it can never satisfy the `ra === rb` advance test — dropping
  * singleton rows from the stored table changes a lookup hit into a miss
  * with the identical "no advance" outcome. Tied row counts shrink
  * geometrically with the level, so the deep tables are tiny (the top
  * one is empty by construction) and `nTied` lets the lift skip them or
  * broadcast them instead of shuffling the pair frame.
  *
  * @param prefixLen two positions appear with equal `r` iff their
  *                  suffixes agree on the first `prefixLen` symbols
  * @param tiedRanks `(g, r)` for exactly the non-singleton rank groups
  * @param nTied     row count of `tiedRanks` (known driver-side from the
  *                  build loop's own termination probe — no extra job)
  */
final case class SuffixLevel(prefixLen: Long, tiedRanks: DataFrame,
                             nTied: Long)

/** The built suffix structure over a document corpus.
  *
  * @param seq    corpus sequence: `idCol, dseq, pos, n_tok, g, key, is_tok,
  *               rem` — one row per token plus one unique SENTINEL row per
  *               document (`is_tok = false`, `pos = n_tok + 1`). `g` is the
  *               1-based global position, `rem` the tokens remaining in the
  *               document from `pos` (0 for sentinels). Checkpointed.
  * @param sa     `g, r` — the suffix rank of every global position, a
  *               permutation of 1..n (sentinel uniqueness makes every
  *               suffix distinct). Checkpointed.
  * @param levels ascending [[SuffixLevel]] tables from each doubling
  *               round, tied rows only (see [[SuffixLevel]]). Kept for
  *               LCP binary lifting; Σ nTied ≈ 2n rows instead of
  *               ~log2(maxDocLen)·n.
  * @param n      corpus length (tokens + sentinels).
  */
final case class SuffixArrayResult(seq: DataFrame, sa: DataFrame,
                                   levels: Seq[SuffixLevel], n: Long)

/** Distributed suffix array over a tokenized document corpus — the EXACT
  * substring-dedup structure (Lee et al. 2022, "Deduplicating Training
  * Data Makes Language Models Better", whose dedup step builds exactly
  * this), complementing the fixed-w approximate path in
  * [[SubstringDedup]]: the suffix array answers repeated-span questions
  * at EVERY length at once (longest repeated substring, LCP spectra,
  * duplicated w-gram positions for any w) with no hashing anywhere.
  *
  * The paper builds one giant in-memory array with pointer-chasing —
  * the opposite of a distributed plan. Spark-first shape instead:
  * Manber–Myers PREFIX DOUBLING as a fixed point of DataFrame rounds,
  *
  *   1. corpus sequence: per-document token rows plus one UNIQUE
  *      per-document sentinel, globally positioned by a two-phase
  *      ranged prefix-sum over documents (never a data-grain
  *      single-partition window);
  *   2. round 0 ranks positions by their single symbol (vocabulary
  *      rank; sentinels below all tokens, mutually distinct);
  *   3. each round pairs every position's rank with the rank `k`
  *      ahead (one 1:1 integer self-equi-join) and re-ranks by the
  *      pair — ranking is a deterministic-percentile range bucketing,
  *      a per-bucket local sort, a bounded bucket-offset table, and a
  *      min-rownumber group join ([[Windows.leadRanged]]'s discipline:
  *      no `RangePartitioner` sampling, no global sort);
  *   4. terminate when all ranks are distinct. Sentinel uniqueness
  *      bounds the fixed point at ⌈log2(maxDocLen)⌉+1 rounds — the
  *      round count scales with DOCUMENT length, not corpus size, so
  *      a 100 TB corpus of web pages still needs only ~12 rounds.
  *
  * Every round is checkpointed (lineage stays flat); the level tables
  * are retained because they ARE the LCP index: [[adjacentLcp]] lifts
  * through them with two integer equi-joins per level, giving exact
  * LCPs between rank-adjacent suffixes in O(log maxDocLen) joins.
  *
  * Everything is exact integer arithmetic — no hashes, no floats — so
  * the full rank structure is bit-identical to a DuckDB twin that
  * sorts materialized suffix keys (feasible because sentinel
  * uniqueness also bounds every pairwise LCP by maxDocLen: the twin
  * sorts FIXED-WIDTH bounded prefixes, not full suffixes).
  *
  * Scale notes: ranks and positions are raw longs (n up to 2^62);
  * the bucketing proxy packs the rank pair into a double for
  * `percentile_approx` ONLY — rounding is monotone, so bucket
  * assignment stays consistent with the exact (ra, rb) sort used
  * inside each bucket, and ties merely share a bucket. With a tiny
  * vocabulary the round-0 buckets are vocabulary-grain skewed (each
  * distinct symbol is one indivisible tie group); from round 1 the
  * pair keys spread and the percentile cuts balance.
  */
object SuffixArray {

  /** The session's shuffle parallelism — the partition count every
    * exchange in the build would produce, used as the narrow-coalesce
    * target wherever a union would otherwise multiply partition counts
    * (r13). Scale-parameterized exactly like the exchanges themselves
    * (`spark.sql.shuffle.partitions` / `SPARK_GRAFT_SHUFFLE_PARTITIONS`).
    */
  private def confParts(df: DataFrame): Int =
    math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Corpus sequence table (see [[SuffixArrayResult.seq]]). `idCol` must
    * be numeric, non-null and unique; document order is `idCol`
    * ascending. The global positions come from a ranged two-phase
    * prefix-sum over documents: deterministic percentile buckets on
    * `idCol`, per-bucket local `row_number`/cumulative sums, and a
    * bounded per-bucket offset table — the document spine never funnels
    * through one task.
    */
  def corpusSeq(docs: DataFrame, idCol: String, textCol: String,
                numRanges: Int = 32): DataFrame = {
    // tokenize ONCE: the token arrays feed the length spine, the
    // vocabulary and the position explode — three references, three
    // full scan+tokenize passes without the checkpoint (the caller
    // releases these scratch blocks once the corpus sequence itself is
    // checkpointed)
    val toksDf = graft.Memos.adaptiveCheckpoint(
      docs.select(col(idCol), TextStats.tokens(col(textCol)).as("__toks")))
    val lens = toksDf.select(col(idCol), size(col("__toks")).cast("long").as("n_tok"))

    // ranged prefix-sum over the document spine: dseq (1-based document
    // index) and off (global positions consumed by prior documents,
    // each contributing n_tok + 1 for its sentinel)
    val fracs = lit((1 until numRanges).map(_.toDouble / numRanges).toArray)
    val cuts = lens.agg(
      percentile_approx(col(idCol).cast("double"), fracs, lit(10000)).as("__cuts"))
    val bucketed = lens.crossJoin(broadcast(cuts))
      .withColumn("__pid",
        size(filter(col("__cuts"), c => c <= col(idCol).cast("double"))))
      .drop("__cuts")
      .repartition(numRanges, col("__pid"))
    val wl = Window.partitionBy(col("__pid")).orderBy(col(idCol))
    val wc = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = bucketed
      .withColumn("__rn", row_number().over(wl).cast("long"))
      .withColumn("__cum", sum(col("n_tok") + 1L).over(wc))
    val totals = bucketed.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__cnt"), sum(col("n_tok") + 1L).as("__tot"))
    // numRanges rows — driver-safe window
    val wOff = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = totals
      .withColumn("__cntOff", coalesce(sum(col("__cnt")).over(wOff), lit(0L)))
      .withColumn("__sumOff", coalesce(sum(col("__tot")).over(wOff), lit(0L)))
      .select(col("__pid"), col("__cntOff"), col("__sumOff"))
    val di = local.join(broadcast(offs), Seq("__pid"))
      .select(col(idCol), col("n_tok"),
        (col("__cntOff") + col("__rn")).as("dseq"),
        (col("__sumOff") + col("__cum") - col("n_tok") - 1L).as("off"))

    val dCount = lens.count()

    // vocabulary ranks: 1-based by binary (UTF8) token order. Vocabulary
    // grain — bounded by the language, not the corpus — so the single
    // window is the "bounded grid" class, like BPE's merge table.
    val vocab = toksDf.select(explode(col("__toks")).as("__tok")).distinct()
      .withColumn("__vr", row_number().over(Window.orderBy(col("__tok"))).cast("long"))

    val tokRows = toksDf.join(di, Seq(idCol))
      .select(col(idCol), col("dseq"), col("off"), col("n_tok"),
        posexplode(col("__toks")).as(Seq("__p0", "__tok")))
      .join(vocab, Seq("__tok"))
      .select(col(idCol), col("dseq"),
        (col("__p0") + 1L).as("pos"), col("n_tok"),
        (col("off") + col("__p0") + 1L).as("g"),
        (lit(dCount) + col("__vr")).as("key"),
        lit(true).as("is_tok"),
        (col("n_tok") - col("__p0")).as("rem"))
    val sentinels = di.select(col(idCol), col("dseq"),
      (col("n_tok") + 1L).as("pos"), col("n_tok"),
      (col("off") + col("n_tok") + 1L).as("g"),
      col("dseq").as("key"),
      lit(false).as("is_tok"),
      lit(0L).as("rem"))
    tokRows.unionByName(sentinels)
  }

  /** Build the suffix array by prefix doubling (see object doc).
    *
    * Rank assignment exploits the min-rownumber rank identity (r12
    * optimization; guide §2.4 — remove shuffles outright): once `ra` IS
    * a min-rownumber rank, the rows of an `ra` tie group are exactly
    * the rows occupying global sort positions `ra .. ra+|group|-1`, so
    * the refined rank of a row is
    *
    *   r' = ra + |{rows in the same ra group with smaller rb}|
    *
    * — computable at (ra, rb)-DISTINCT grain as an exclusive running
    * sum of pair counts within each `ra` partition. No percentile
    * bucketing, no global-rownumber offset table, no group-min repair
    * join: one partial-aggregated shuffle to pair grain, one bounded
    * window, one join back. Rows whose rank group is already a
    * SINGLETON are final (their smaller-suffix set can never change)
    * and skip every later round — the re-ranked set shrinks
    * geometrically, so late rounds cost ties-grain, not corpus-grain.
    *
    * Skew: the per-`ra` window runs at pair-count grain — its partition
    * size is the number of DISTINCT level-p successor ranks within one
    * tie group, bounded by the tie group's multiplicity (for round 1,
    * by the vocabulary). A 1000-copy duplicated document contributes
    * 1000-row tie groups whose distinct-successor count collapses to 1
    * everywhere except at its tail — 16-byte count rows, decades below
    * corpus grain.
    *
    * Round 0 needs no corpus-grain machinery at all: sentinel ranks are
    * their document index by construction, and token ranks follow from
    * a vocabulary-grain cumulative count broadcast back onto the
    * sequence (same bounded-grid class as the vocabulary window in
    * [[corpusSeq]]).
    *
    * @param broadcastTies tied-row count at or below which a doubling
    *        round joins via an explicit broadcast ([[BroadcastBudget]]);
    *        specs pass 0 to force the shuffle path on tiny corpora
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
            numRanges: Int = 32,
            broadcastTies: Long = BroadcastBudget.Rows): SuffixArrayResult = {
    val seqRaw = corpusSeq(docs, idCol, textCol, numRanges)
    val seq = seqRaw.coalesce(confParts(seqRaw)).localCheckpoint(true)
    // corpusSeq's internal token-array checkpoint has no reader once the
    // sequence itself is materialized
    org.apache.spark.sql.graftbridge.CheckpointBridge.release(seqRaw)
    // one aggregate job for both corpus constants (was two count jobs)
    val nRow = seq.agg(count(lit(1)),
      count(when(!col("is_tok"), lit(1)))).head()
    val n = nRow.getLong(0)
    val dCount = nRow.getLong(1)

    // round 0: min-rownumber rank by `key`. Sentinels (key = dseq) sit
    // below every token key and are mutually distinct, so a sentinel's
    // rank is its dseq; a token's rank is dCount + 1 + (count of token
    // occurrences with a smaller key), a vocabulary-grain running sum.
    val tokCounts = seq.where(col("is_tok"))
      .groupBy(col("key")).agg(count(lit(1)).as("__c"))
    val wVocab = Window.orderBy(col("key"))
      .rowsBetween(Window.unboundedPreceding, -1) // vocabulary grain
    val r0map = tokCounts
      .withColumn("__prev", coalesce(sum(col("__c")).over(wVocab), lit(0L)))
      .select(col("key"),
        (lit(dCount) + 1L + col("__prev")).as("r"),
        (col("__c") > 1L).as("tied"))
    val level0 = seq.where(col("is_tok")).select(col("g"), col("key"))
      .join(broadcast(r0map), Seq("key"))
      .select(col("g"), col("r"), col("tied"))
      .unionByName(seq.where(!col("is_tok"))
        .select(col("g"), col("dseq").as("r"), lit(false).as("tied")))
      .coalesce(confParts(seq))
      .localCheckpoint(true)

    val debug = sys.env.contains("GRAFT_SUFFIX_DEBUG")
    var level = level0
    var prefLen = 1L
    var nTies = level.where(col("tied")).count()
    var levels = Vector(SuffixLevel(1L,
      level.where(col("tied")).select(col("g"), col("r")), nTies))
    while (nTies > 0 && prefLen < n) {
      val tRound0 = System.nanoTime()
      // The tied set shrinks geometrically, so once it fits the
      // broadcast budget the round stops exchanging ANY corpus-grain
      // frame (r13; guide §2.4/§3.1): broadcast the tied rows against a
      // TOTALIZED shift stream (the level scan plus prefLen synthetic
      // past-the-end keys with rank 0, so an inner join reproduces the
      // left-join-with-coalesce exactly) — the full level is only ever
      // scanned map-side, never shuffled. nTies is a data quantity the
      // loop already tracks, so the switch is scale-adaptive, not a
      // local[32] tune.
      val small = nTies <= broadcastTies
      // rb = the level-p rank of the suffix prefLen ahead (0 past the
      // corpus end); only still-tied rows need a refined rank
      val paired =
        if (small) {
          val dummies = level.sparkSession.range(0L, prefLen, 1L, 1)
            .select((lit(n) - col("id")).as("g"), lit(0L).as("__rshift"))
          val shiftedTotal = level
            .select((col("g") - prefLen).as("g"), col("r").as("__rshift"))
            .unionByName(dummies)
          shiftedTotal
            .join(broadcast(level.where(col("tied"))
              .select(col("g"), col("r"))), Seq("g"))
            .select(col("g"), col("r").as("ra"), col("__rshift").as("rb"))
        } else {
          val shifted = level.select((col("g") - prefLen).as("g"),
            col("r").as("__rshift"))
          level.where(col("tied"))
            .join(shifted, Seq("g"), "left")
            .select(col("g"), col("r").as("ra"),
              coalesce(col("__rshift"), lit(0L)).as("rb"))
        }
      // pair-grain counts; refined rank = ra + exclusive running count.
      // (Measured-and-REJECTED here: folding the member positions into
      // the aggregate with collect_list to skip the rank join-back —
      // collect_list demotes the hot aggregate to ObjectHashAggregate
      // outside whole-stage codegen, and suffix_dup_positions went
      // 17.1 → 21.8 s. The double execution of the pairing join below
      // is the cheaper evil: its input exchanges are AQE-reused, and on
      // the broadcast path both executions are map-only scans.)
      // Small path: one explicit hash(ra) exchange serves BOTH the
      // (ra, rb) aggregate and the per-ra window (hash partitioning on
      // a subset of the clustering keys satisfies each), where the
      // aggregate-induced exchange would be followed by a second one
      // for the window. Row-grain volume is bounded by the broadcast
      // budget, so the partial-aggregation-before-exchange protection
      // of the big path is not needed here.
      val pcIn = if (small) paired.repartition(col("ra")) else paired
      val pc = pcIn.groupBy(col("ra"), col("rb"))
        .agg(count(lit(1)).as("__c"))
      val wRa = Window.partitionBy(col("ra")).orderBy(col("rb"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val rk = pc
        .withColumn("__prev", coalesce(sum(col("__c")).over(wRa), lit(0L)))
        .select(col("ra"), col("rb"),
          (col("ra") + col("__prev")).as("r"),
          (col("__c") > 1L).as("tied"))
      // the rank table is pair-grain (≤ nTies rows) — on the small path
      // broadcast it too, so the join-back never exchanges `paired`
      val refined = paired
        .join(hintIf(small)(rk), Seq("ra", "rb"))
        .select(col("g"), col("r"), col("tied"))
      // the broadcast path has NO exchange to reset the layout, so the
      // untied ∪ refined union would DOUBLE the partition count every
      // round (2^rounds tiny tasks by the top level — first attempt
      // measured round times growing 2.3 → 29 s, cost ∝ 2^round); a
      // narrow coalesce back to the session's shuffle parallelism (the
      // same layout the shuffle path's exchanges would produce, and the
      // repo's scale-parameterized knob) keeps the layout constant
      // without buying an exchange
      level = level.where(!col("tied"))
        .unionByName(refined)
        .coalesce(confParts(level))
        .localCheckpoint(true)
      prefLen *= 2
      val tCkpt = System.nanoTime()
      nTies = level.where(col("tied")).count()
      levels :+= SuffixLevel(prefLen,
        level.where(col("tied")).select(col("g"), col("r")), nTies)
      if (debug) println(f"[suffix] round -> prefLen=$prefLen%5d nTies=$nTies%8d small=$small ckpt=${(tCkpt - tRound0) / 1e9}%5.2f count=${(System.nanoTime() - tCkpt) / 1e9}%5.2f s")
    }
    SuffixArrayResult(seq, level.select(col("g"), col("r")), levels, n)
  }

  /** Exact LCP between every rank-adjacent suffix pair, by binary
    * lifting through the doubling level tables: descending over levels
    * `p = 2^t`, advance both cursors by `p` whenever the level-`p`
    * ranks at the cursors agree (ranks agree at level `p` iff the next
    * `p` symbols agree). Greedy-from-the-top is exact because every
    * adjacent LCP is strictly below the final (all-distinct) level's
    * prefix length. Two integer equi-joins per level; checkpointed per
    * level so the plan stays flat.
    *
    * The stored levels are TIED rows only ([[SuffixLevel]] — a
    * singleton-rank lookup could never pass the equality test anyway,
    * so a miss is the same outcome), which makes the walk cheap (r13):
    * a level with `nTied == 0` is skipped outright (no two suffixes
    * agree on that many symbols, and the remaining levels sum to
    * `p - 1 ≥` every remaining LCP, so greediness is unaffected), and a
    * level whose tied set fits the broadcast budget joins as an
    * explicit broadcast — the pair frame is never exchanged for the
    * deep levels, which at every scale hold geometrically few rows.
    *
    * @return `rank_hi, g_lo, g_hi, lcp` — one row per rank pair
    *         (r-1, r), `rank_hi = r` in 2..n.
    */
  def adjacentLcp(res: SuffixArrayResult,
                  broadcastTies: Long = BroadcastBudget.Rows): DataFrame = {
    val lo = res.sa.select((col("r") + 1L).as("r"), col("g").as("g_lo"))
    var pairs = res.sa.join(lo, Seq("r"))
      .select(col("r").as("rank_hi"), col("g_lo"), col("g").as("g_hi"),
        lit(0L).as("lcp"))
      .localCheckpoint(true)
    var lastCp = pairs
    val debug = sys.env.contains("GRAFT_SUFFIX_DEBUG")
    var tLift = System.nanoTime()
    val walk = res.levels.reverse.filter(_.nTied > 0)
    for ((lvl, i) <- walk.zipWithIndex) {
      val p = lvl.prefixLen
      val hint = hintIf(lvl.nTied <= broadcastTies)
      val ra = hint(lvl.tiedRanks
        .select(col("g").as("__ga"), col("r").as("__ra")))
      val rb = hint(lvl.tiedRanks
        .select(col("g").as("__gb"), col("r").as("__rb")))
      val step = pairs
        .withColumn("__ka", col("g_lo") + col("lcp"))
        .withColumn("__kb", col("g_hi") + col("lcp"))
        .join(ra, col("__ka") === col("__ga"), "left")
        .join(rb, col("__kb") === col("__gb"), "left")
        .withColumn("lcp", col("lcp") +
          when(col("__ra").isNotNull && col("__rb").isNotNull &&
            col("__ra") === col("__rb"), lit(p)).otherwise(lit(0L)))
        .select(col("rank_hi"), col("g_lo"), col("g_hi"), col("lcp"))
      // checkpoint every OTHER level (r12: each checkpoint is a
      // synchronous job; a 2-level lazy span keeps the plan shallow
      // while halving the action count), releasing the superseded
      // generation — without the release the lift pins one n-row
      // generation per checkpoint for the whole walk.
      // (Measured-and-REJECTED here: filtering each level's join input
      // by the sentinel bound `lcp + p <= min(rem_lo, rem_hi)` — the
      // two extra rem joins at init plus a filter+union per level cost
      // more than the skipped join volume saves at every scale the
      // bench can see; suffix_repeat_families regressed 3.7→4.5 s.)
      if (i % 2 == 1 || i == walk.size - 1) {
        val prev = lastCp
        pairs = step.localCheckpoint(true)
        lastCp = pairs
        org.apache.spark.sql.graftbridge.CheckpointBridge.release(prev)
        if (debug) {
          println(f"[suffix] lift level p=$p%5d (i=$i) ${(System.nanoTime() - tLift) / 1e9}%6.2f s")
          tLift = System.nanoTime()
        }
      } else pairs = step
    }
    pairs
  }

  /** Token positions whose w-token gram occurs at least twice anywhere
    * in the corpus (same or other document) — derived purely from the
    * suffix structure: a suffix's w-prefix repeats iff its LCP with a
    * rank-NEIGHBOR is >= w (suffixes sharing a w-prefix are contiguous
    * in suffix order). Exact at every w <= maxDocLen from ONE build —
    * the fixed-w shingle path ([[SubstringDedup]]) re-scans the corpus
    * per w.
    *
    * @return `idCol, pos` for each duplicated w-gram start position.
    */
  def dupPositions(res: SuffixArrayResult, idCol: String, w: Int): DataFrame =
    dupPositionsFrom(res, adjacentLcp(res), idCol, w)

  /** [[dupPositions]] over a precomputed [[adjacentLcp]] table — callers
    * sharing the lifting across several consumers pass it in.
    */
  def dupPositionsFrom(res: SuffixArrayResult, lcp: DataFrame,
                       idCol: String, w: Int): DataFrame = {
    require(w >= 1, s"w=$w")
    val nbr = lcp.select(col("g_lo").as("g"), col("lcp"))
      .unionByName(lcp.select(col("g_hi").as("g"), col("lcp")))
      .groupBy(col("g")).agg(max(col("lcp")).as("__mx"))
      .where(col("__mx") >= w)
      .select(col("g"))
    res.seq.where(col("is_tok") && col("rem") >= w)
      .join(nbr, Seq("g"))
      .select(col(idCol), col("pos"))
  }
}
