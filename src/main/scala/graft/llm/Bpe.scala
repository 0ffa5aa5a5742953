package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** BPE merge-table training (Sennrich, Haddow & Birch 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") — the
  * weekly-run op of a large-corpus pipeline that LEARNS a subword
  * vocabulary instead of counting word pieces heuristically
  * ([[TextStats.nWordPieces]]).
  *
  * Spark-first shape, chosen for the 100 TB case:
  *
  *  - the CORPUS is touched exactly once, by the caller, to build a
  *    word-frequency table (tokenize → explode → groupBy word). All
  *    training rounds run on that VOCAB-GRAIN table — bounded by
  *    distinct-word count, independent of corpus rows — exactly how the
  *    reference subword-nmt implementation trains from a word-count
  *    dict rather than raw text;
  *  - each round is ONE explode+aggregate (adjacent-pair counts,
  *    weighted by word frequency) + one bounded `limit(1).collect()`
  *    (the argmax pair — 1 row, the same bounded-driver-read pattern as
  *    [[Similarity.kMeansCentroids]]) + one map-only merge application,
  *    checkpointed per generation with immediate release of the
  *    superseded one ([[graft.ops.PageRank]]'s discipline);
  *  - words are SPACE-JOINED SYMBOL STRINGS and a merge is applied by
  *    ITERATED `replace(' a b ' → ' ab ')` — `passes` single-pass
  *    string replaces reach the greedy leftmost-first fixpoint
  *    (`replace` resumes scanning after each substitution, so a
  *    boundary-sharing chain like `a a a a` needs one extra pass per
  *    missed overlap). The SQL twin nests the SAME replace the SAME
  *    number of times, so both engines compute bit-identical states
  *    even for pathological words — cross-engine lockstep by
  *    construction, not by hoping two different greedy scanners agree.
  *
  * Contract: a word with more than `2·passes` symbols may under-merge
  * within one round relative to pure greedy BPE (identically on both
  * engines); cap word length at the tokenizer (the shipped queries use
  * ≤ 16 chars with passes = 8, which is exact). Ties in pair frequency
  * break deterministically by (count desc, left asc, right asc) —
  * binary string order, identical in Spark and DuckDB for the
  * lowercase-ASCII token alphabet.
  */
object Bpe {

  /** One round's argmax pair. */
  final case class Merge(rank: Long, lft: String, rgt: String,
                         pairCount: Long)

  /** Spark rounds executed by this thread's LAST [[learnMerges]] /
    * [[learnMergesBatched]] call — bench telemetry only (the round
    * count is the quantity the batched trainer exists to cut; the
    * merge table stays the correctness artifact). Thread-local so
    * parallel test suites can't race each other's readouts.
    */
  private val lastRoundsTl =
    ThreadLocal.withInitial[Integer](() => Integer.valueOf(0))
  def lastTrainRounds: Int = lastRoundsTl.get()

  /** Per-round KEPT batch widths of this thread's last
    * [[learnMergesBatched]] call — the telemetry that makes the
    * batched trainer's certified negative result measurable
    * (BENCH_BPE_SF1.json: on a zipfian corpus the 2·M barrier collapses
    * almost every round to width 1, which is WHY batched lost to
    * sequential there). Bench-only, like [[lastTrainRounds]].
    */
  private val lastWidthsTl =
    ThreadLocal.withInitial[Seq[Int]](() => Seq.empty[Int])
  def lastBatchWidths: Seq[Int] = lastWidthsTl.get()

  private val mergeSchema = StructType(Seq(
    StructField("rank", LongType, nullable = false),
    StructField("lft", StringType, nullable = false),
    StructField("rgt", StringType, nullable = false),
    StructField("pair_count", LongType, nullable = false)))

  /** The end-of-word terminal marker (Sennrich '16 §3.2): fused onto a
    * word's FINAL character symbol, so a merge learned at a word-final
    * position can never apply word-internally and detokenization is
    * unambiguous (`concat tokens, split at `</w>``). The marker glyphs
    * are outside the `[a-z]` token alphabet of the shipped queries, so
    * it cannot collide with corpus symbols there; callers tokenizing a
    * richer alphabet must exclude `<`, `/`, `>` from words (subword-nmt
    * carries the identical caveat).
    */
  val EndOfWord = "</w>"

  /** Space-join a word into its initial character symbols, the last
    * carrying [[EndOfWord]]: "low" → "l o w</w>".
    */
  def initialSymbols(word: org.apache.spark.sql.Column)
    : org.apache.spark.sql.Column =
    concat(array_join(split(word, ""), " "), lit(EndOfWord))

  /** Adjacent symbol pairs of a space-joined symbol string, weighted by
    * `cntCol`, aggregated to (l, r, pc). One explode + one aggregate.
    */
  private def pairCounts(state: DataFrame): DataFrame = {
    // slice(a, 2, size-1) of a 1-element array has length 0 → empty
    // zip → explode drops the row (single-symbol words have no pairs)
    val withPairs = state
      .select(col("cnt"), split(col("syms"), " ").as("__a"))
      .select(col("cnt"), explode(expr(
        "zip_with(slice(__a, 1, size(__a) - 1), slice(__a, 2, size(__a) - 1)," +
          " (x, y) -> struct(x AS l, y AS r))")).as("__p"))
    withPairs.groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
      .agg(sum(col("cnt")).as("pc"))
  }

  /** Apply ONE merge (l, r) to the symbol column: `passes` iterated
    * single-pass replaces of `' l r '` with `' lr '` over the
    * space-padded string. Map-only; literal needles ride the functions
    * API (no SQL-string escaping of corpus symbols).
    */
  private def applyOne(syms: org.apache.spark.sql.Column, l: String,
                       r: String, passes: Int)
    : org.apache.spark.sql.Column = {
    val needle = lit(s" $l $r ")
    val merged = lit(s" ${l}${r} ")
    var cur = concat(lit(" "), syms, lit(" "))
    (1 to passes).foreach { _ => cur = replace(cur, needle, merged) }
    trim(cur)
  }

  /** Learn `numMerges` ordered merges from a word-frequency table.
    *
    * @param words    (word, count) — VOCAB grain; build it with one
    *                 corpus pass (tokenize → explode → groupBy)
    * @param numMerges merge budget; training stops early when no
    *                 adjacent pair reaches `minCount`
    * @param passes   replace passes per round (exactness bound: words
    *                 of ≤ 2·passes symbols merge exactly greedily)
    * @return (rank, lft, rgt, pair_count) ordered by rank — the merge
    *         table, ready to drive [[applyMerges]] / a tokenizer
    */
  /** Trainer state-checkpoint cadence: materialize the symbol table
    * every this-many applied merges (see the r12 note in
    * [[learnMerges]]); [[applyMerges]] has its own wider constant.
    */
  private val CpEvery = 4

  def learnMerges(words: DataFrame, wordCol: String, cntCol: String,
                  numMerges: Int, passes: Int = 8,
                  minCount: Long = 1L): DataFrame = {
    require(numMerges >= 1, s"numMerges=$numMerges")
    require(passes >= 1, s"passes=$passes")
    val spark = words.sparkSession
    var state = words
      .select(initialSymbols(col(wordCol)).as("syms"),
        col(cntCol).cast("long").as("cnt"))
      .groupBy(col("syms")).agg(sum(col("cnt")).as("cnt"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    var rounds = 0
    var rank = 0L
    // r12: checkpoint every CpEvery rounds, not every round — the
    // inter-checkpoint lineage is a map-only replace chain over a
    // vocab-grain frame, so re-running ≤ CpEvery−1 merges inside the
    // next round's aggregate is cheaper than a synchronous materialize
    // job per merge (each checkpoint is a scheduled job; at 20 merges
    // that was 20 extra barriers)
    var lastCp = state
    var sinceCp = 0
    while (rank < numMerges && !exhausted) {
      rounds += 1
      val top = pairCounts(state)
        .orderBy(desc("pc"), asc("l"), asc("r")).limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < minCount) {
        exhausted = true
      } else {
        rank += 1
        val (l, r, pc) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(rank, l, r, pc)
        state = state
          .select(applyOne(col("syms"), l, r, passes).as("syms"), col("cnt"))
        sinceCp += 1
        if (sinceCp >= CpEvery) {
          val prev = lastCp
          state = state.localCheckpoint(true)
          lastCp = state
          sinceCp = 0
          CheckpointBridge.release(prev)
        }
      }
    }
    CheckpointBridge.release(lastCp)
    lastRoundsTl.set(rounds)
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        merges.map(m => Row(m.rank, m.lft, m.rgt, m.pairCount)).toSeq, 1),
      mergeSchema)
  }

  /** Batched greedy BPE: per training round, select the TOP-K
    * symbol-disjoint merges and apply them together — provably equal to
    * [[learnMerges]]' one-at-a-time greedy, in up to K× fewer Spark
    * rounds WHEN THE DATA ALLOWS. Honest measured caveat
    * (BENCH_BPE_SF1.json): on a zipfian 27k-form corpus the 2·M
    * equality barrier truncates almost every batch to one merge (507
    * rounds for 512 merges) and the extra barrier aggregate makes it
    * NET SLOWER than [[learnMerges]] — exactness-preserving batching
    * only wins when successive top pairs are comfortably
    * count-separated. The production cure for the
    * one-Spark-round-per-merge cap is [[learnMergesLocal]] (distributed
    * corpus pass, bounded vocab-grain collect, in-memory exact greedy);
    * this batched form remains the fully-distributed option for word
    * tables too large to collect.
    *
    * Equality with sequential greedy (including its (count desc, l, r)
    * tie-break) is guaranteed by three selection rules over the round's
    * sorted candidate list, all checked before anything is applied:
    *
    *  1. **extended-symbol disjointness**: a batch member may not share
    *     a symbol with any earlier member's EXTENDED set {l, r, lr} —
    *     sharing l/r means its count changes when the earlier merge
    *     applies; sharing lr means the earlier merge mints more of a
    *     symbol it contains. Selection stops at the first conflict (the
    *     batch must stay a contiguous prefix of the sorted candidates,
    *     or a skipped candidate could be sequential's true next pick);
    *  2. **self-pair cut**: after a member with l == r the batch stops —
    *     overlapping occurrences ("a a a") leave unmerged residue whose
    *     boundary pair (aa, a) derives its count from the SELECTED
    *     pair's own (unbounded by rule 3's barrier);
    *  3. **2·M barrier**: M = the round's max count over NON-selected
    *     pairs touching any selected extended symbol. Any pair a batch
    *     member's application can create or grow is bounded by
    *     old + minted ≤ 2·M (each post-batch occurrence of a pair (A, B)
    *     maps injectively to a pre-batch occurrence of the boundary pair
    *     (last(A), first(B)), which touches a selected symbol whenever
    *     (A, B) does). Members after the first with count ≤ 2·M are
    *     dropped — sequential might have re-ranked past them.
    *
    * Under these rules every kept member is exactly what sequential
    * greedy would pick next, with the same recorded count. Per round:
    * one pair aggregate, one bounded top-C collect, one 1-row barrier
    * aggregate, one map-only multi-merge application.
    */
  def learnMergesBatched(words: DataFrame, wordCol: String, cntCol: String,
                         numMerges: Int, passes: Int = 8,
                         minCount: Long = 1L, batchK: Int = 8): DataFrame = {
    require(numMerges >= 1, s"numMerges=$numMerges")
    require(passes >= 1, s"passes=$passes")
    require(batchK >= 1, s"batchK=$batchK")
    val spark = words.sparkSession
    var state = words
      .select(initialSymbols(col(wordCol)).as("syms"),
        col(cntCol).cast("long").as("cnt"))
      .groupBy(col("syms")).agg(sum(col("cnt")).as("cnt"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    val widths = scala.collection.mutable.ArrayBuffer.empty[Int]
    var exhausted = false
    var rounds = 0
    // same checkpoint cadence as [[learnMerges]] (see the r12 note
    // there): materialize every CpEvery rounds, re-run the map-only
    // replace chain in between
    var lastCp = state
    var sinceCp = 0
    while (merges.size < numMerges && !exhausted) {
      rounds += 1
      val budget = math.min(batchK, numMerges - merges.size)
      val topC = pairCounts(state)
        .orderBy(desc("pc"), asc("l"), asc("r"))
        .limit(math.max(4 * batchK, 64)).collect() // bounded driver read
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (topC.isEmpty || topC(0)._3 < minCount) {
        exhausted = true
      } else {
        // rule 1 + 2: contiguous disjoint prefix, cut after a self-pair
        val tentative =
          scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val symbols = scala.collection.mutable.Set.empty[String]
        var open = true
        topC.iterator.takeWhile(_ => open).foreach { case c @ (l, r, pc) =>
          if (pc < minCount || tentative.size >= budget) open = false
          else if (symbols.contains(l) || symbols.contains(r) ||
            symbols.contains(l + r)) open = false
          else {
            tentative += c
            symbols ++= Seq(l, r, l + r)
            if (l == r) open = false
          }
        }
        // rule 3: barrier from the FULL pair table (affected pairs may
        // sit below the collected top-C)
        val kept =
          if (tentative.size <= 1) tentative.toSeq
          else {
            val extSyms = symbols.toSeq
            val selKeys = tentative.map(c => s"${c._1} ${c._2}").toSeq
            val m = pairCounts(state)
              .where((col("l").isin(extSyms: _*) ||
                col("r").isin(extSyms: _*)) &&
                !concat_ws(" ", col("l"), col("r")).isin(selKeys: _*))
              .agg(max(col("pc"))).collect()(0)
            val barrier = if (m.isNullAt(0)) 0L else m.getLong(0)
            tentative.head +: tentative.tail.takeWhile(_._3 > 2 * barrier)
              .toSeq
          }
        widths += kept.size
        kept.foreach { case (l, r, pc) =>
          merges += Merge(merges.size + 1L, l, r, pc)
        }
        var c: org.apache.spark.sql.Column = col("syms")
        kept.foreach { case (l, r, _) => c = applyOne(c, l, r, passes) }
        state = state.select(c.as("syms"), col("cnt"))
        sinceCp += kept.size
        if (sinceCp >= CpEvery) {
          val prev = lastCp
          state = state.localCheckpoint(true)
          lastCp = state
          sinceCp = 0
          CheckpointBridge.release(prev)
        }
      }
    }
    CheckpointBridge.release(lastCp)
    lastRoundsTl.set(rounds)
    lastWidthsTl.set(widths.toSeq)
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        merges.map(m => Row(m.rank, m.lft, m.rgt, m.pairCount)).toSeq, 1),
      mergeSchema)
  }

  /** One left-to-right merge pass over a symbol vector, replicating the
    * `replace(' l r ' → ' lr ')` single-pass semantics of [[applyOne]]
    * EXACTLY — including the non-obvious consequence of space
    * consumption: the symbol immediately after a merged occurrence
    * cannot begin a match within the same pass, because the replacement
    * consumed its leading space (`" a b a b ".replace(" a b ", " ab ")`
    * is `" ab a b "`, not `" ab ab "`; the second occurrence merges on
    * the NEXT pass). Bit-for-bit lockstep with the distributed form is
    * what makes [[learnMergesLocal]] ≡ [[learnMerges]] provable.
    */
  private def onePassLocal(syms: Vector[String], l: String, r: String)
    : Vector[String] = {
    val out = Vector.newBuilder[String]
    val n = syms.length
    val lr = l + r
    var i = 0
    var changed = false
    while (i < n) {
      if (i + 1 < n && syms(i) == l && syms(i + 1) == r) {
        out += lr
        changed = true
        if (i + 2 < n) out += syms(i + 2) // leading space consumed: this
        i += 3                            // position can't start a match
      } else {
        out += syms(i)
        i += 1
      }
    }
    if (changed) out.result() else syms
  }

  /** [[applyOne]]'s iterated-replace loop, locally: exactly `passes`
    * single passes (a pass with no occurrence is the identity, so early
    * exit on fixpoint is equivalence-preserving).
    */
  private def applyOneLocal(syms: Vector[String], l: String, r: String,
                            passes: Int): Vector[String] = {
    var cur = syms
    var p = 0
    var done = false
    while (p < passes && !done) {
      val nxt = onePassLocal(cur, l, r)
      if (nxt eq cur) done = true else cur = nxt
      p += 1
    }
    cur
  }

  /** Driver-side exact greedy trainer over a COLLECTED word table — the
    * production-scale shape (subword-nmt and HF tokenizers train from a
    * word-count dict in memory): the corpus pass that BUILDS the word
    * table and the final tokenization stay distributed; the TRAINING
    * loop — vocab-grain and inherently sequential (round N+1's pair
    * table depends on round N's merge) — runs where a round is
    * microseconds instead of a Spark job. Measured on the sf1 corpus
    * with a 27k-form vocabulary (BENCH_BPE_SF1.json): the distributed
    * sequential trainer pays ~0.27 s/round × one round per merge, and
    * the exact-batching variant cannot help on zipfian data (its 2·M
    * equality barrier truncates almost every batch to one merge — 507
    * rounds for 512 merges when measured); this hybrid trains the same
    * 512 merges in ~3.5 s end-to-end (collect + training, 38.6×) —
    * and the gap compounds at 32k merges, where the distributed form
    * would take hours.
    *
    * Bit-identical to [[learnMerges]] BY CONSTRUCTION: the same
    * (count desc, l asc, r asc) argmax over the same
    * every-adjacent-position pair counts (lowercase-ASCII + `</w>`
    * symbols order identically as UTF-8 bytes and UTF-16 code units),
    * and [[applyOneLocal]] replicates the `passes`-bounded iterated
    * replace — so words longer than 2·passes symbols under-merge
    * IDENTICALLY on both paths. Spec-certified equal on the shipped
    * corpus and on constructed over-length/tie/overlap cases.
    *
    * The collect is the repo's bounded-driver-read pattern
    * ([[Similarity]]'s k×dims centroids, [[learnMergesCached]]'s
    * ≤vocab merge table): a word table is vocab-grain — 1e6..1e8 forms
    * even at 100 TB corpus scale under the shipped ≤16-char word cap —
    * and `maxForms` makes the envelope explicit and its violation loud
    * (fail, never silently truncate).
    */
  def learnMergesLocal(words: DataFrame, wordCol: String, cntCol: String,
                       numMerges: Int, passes: Int = 8,
                       minCount: Long = 1L,
                       maxForms: Int = 4000000): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges=$numMerges")
    require(passes >= 1, s"passes=$passes")
    require(maxForms >= 1, s"maxForms=$maxForms")
    val rows = words
      .select(col(wordCol).cast("string"), col(cntCol).cast("long"))
      .limit(maxForms + 1).collect()
    require(rows.length <= maxForms,
      s"word table exceeds maxForms=$maxForms — this trainer's collect " +
        "is bounded by contract; raise the cap explicitly or use " +
        "learnMerges")
    // state: symbol-sequence → summed count (identical sequences fold,
    // mirroring the distributed groupBy(syms))
    val state = new java.util.HashMap[Vector[String], Long]()
    rows.foreach { r =>
      val w = r.getString(0)
      val cs = w.split("")
      val syms =
        (cs.dropRight(1) :+ (cs.last + EndOfWord)).toVector
      state.merge(syms, r.getLong(1), (a, b) => a + b)
    }
    // pair totals, maintained incrementally as states transform
    val pc = new java.util.HashMap[(String, String), Long]()
    def addPairs(syms: Vector[String], c: Long): Unit = {
      var i = 0
      while (i + 1 < syms.length) {
        pc.merge((syms(i), syms(i + 1)), c, (a, b) => a + b)
        i += 1
      }
    }
    state.forEach((syms, c) => addPairs(syms, c))
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    var rounds = 0
    while (merges.size < numMerges && !exhausted) {
      rounds += 1
      // argmax by (count desc, l asc, r asc) — the distributed orderBy
      var best: ((String, String), Long) = null
      pc.forEach { (k, v) =>
        if (v > 0 && (best == null || v > best._2 ||
          (v == best._2 && (k._1 < best._1._1 ||
            (k._1 == best._1._1 && k._2 < best._1._2))))) best = (k, v)
      }
      if (best == null || best._2 < minCount) {
        exhausted = true
      } else {
        val ((l, r), cnt) = best
        merges += Merge(merges.size + 1L, l, r, cnt)
        // transform only the states containing the pair adjacently
        val changed = scala.collection.mutable
          .ArrayBuffer.empty[(Vector[String], Vector[String], Long)]
        state.forEach { (syms, c) =>
          var hit = false
          var i = 0
          while (!hit && i + 1 < syms.length) {
            hit = syms(i) == l && syms(i + 1) == r
            i += 1
          }
          if (hit) changed += ((syms, applyOneLocal(syms, l, r, passes), c))
        }
        changed.foreach { case (oldSyms, newSyms, c) =>
          if (newSyms != oldSyms) {
            state.remove(oldSyms)
            addPairs(oldSyms, -c)
            state.merge(newSyms, c, (a, b) => a + b)
            addPairs(newSyms, c)
          }
        }
      }
    }
    lastRoundsTl.set(rounds)
    merges.toSeq
  }

  /** Write a learned merge table in the standard ordered text format
    * (subword-nmt-style: one `l r` line per merge, rank order, symbols
    * carrying the [[EndOfWord]] marker inline), so the trained artifact
    * is consumable outside the engine:
    *
    * {{{
    * #graft bpe v1 end-of-word=</w>
    * e s</w>
    * t h
    * }}}
    *
    * Driver-side by design — a merge table is ≤ vocab rows (the same
    * bounded envelope as [[learnMergesCached]]'s collect).
    * Round-trips through [[importMerges]] to identical tokenization.
    */
  def exportMerges(merges: Seq[Merge], path: String): Unit = {
    val body = merges.sortBy(_.rank)
      .map(m => s"${m.lft} ${m.rgt}").mkString("\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (s"#graft bpe v1 end-of-word=$EndOfWord\n" + body + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Read a merge table written by [[exportMerges]] (or any
    * subword-nmt-style file: `#`-comment lines skipped, one
    * space-separated `l r` pair per line, file order = rank order).
    */
  def importMerges(path: String): Seq[(String, String)] =
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path),
        java.nio.charset.StandardCharsets.UTF_8)).asScala
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map { l =>
        val i = l.indexOf(' ')
        require(i > 0 && i < l.length - 1, s"malformed merge line: '$l'")
        (l.substring(0, i), l.substring(i + 1))
      }.toSeq

  /** Memo for trained merge tables, keyed by a caller-chosen tag
    * (usually data dir + hyperparameters) — the
    * [[Similarity.kMeansCentroidsCached]] pattern: BPE training is a
    * multi-round driver loop, so two queries over the same corpus
    * (the merge-table dump and the tokenization stats) must not each
    * pay for it, and an oracle emitter must see the EXACT merges the
    * query trained.
    */
  private val mergeMemo = new graft.Memo[Seq[Merge]]("bpe_merges")

  /** [[learnMerges]] through the memo: at most one training per tag per
    * JVM; later callers get the same merge list.
    */
  def learnMergesCached(tag: String, words: => DataFrame, wordCol: String,
                        cntCol: String, numMerges: Int, passes: Int = 8,
                        minCount: Long = 1L): Seq[Merge] =
    mergeMemo(tag) {
      learnMerges(words, wordCol, cntCol, numMerges, passes, minCount)
        .collect()
        .map(r => Merge(r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3)))
        .toSeq
    }

  /** [[learnMergesBatched]] through the same memo (distinct tag —
    * the batched trainer must actually run to be certified, not read
    * the sequential trainer's cache).
    */
  def learnMergesBatchedCached(tag: String, words: => DataFrame,
                               wordCol: String, cntCol: String,
                               numMerges: Int, passes: Int = 8,
                               minCount: Long = 1L, batchK: Int = 8)
    : Seq[Merge] =
    mergeMemo(tag) {
      learnMergesBatched(words, wordCol, cntCol, numMerges, passes,
        minCount, batchK)
        .collect()
        .map(r => Merge(r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3)))
        .toSeq
    }

  /** [[learnMergesLocal]] through the same memo (distinct tag — the
    * local trainer must actually run to be certified, not read a
    * distributed trainer's cache).
    */
  def learnMergesLocalCached(tag: String, words: => DataFrame,
                             wordCol: String, cntCol: String,
                             numMerges: Int, passes: Int = 8,
                             minCount: Long = 1L,
                             maxForms: Int = 4000000): Seq[Merge] =
    mergeMemo(tag) {
      learnMergesLocal(words, wordCol, cntCol, numMerges, passes,
        minCount, maxForms)
    }

  /** The cached merges as a frame (rank, lft, rgt, pair_count). */
  def mergesFrame(spark: org.apache.spark.sql.SparkSession,
                  merges: Seq[Merge]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        merges.map(m => Row(m.rank, m.lft, m.rgt, m.pairCount)), 1),
      mergeSchema)

  /** Corpus tokenization stats under a learned merge table: word-form
    * count, total subword tokens (frequency-weighted), and distinct
    * subword vocabulary — the "how much did BPE compress the corpus"
    * readout. One [[applyMerges]] pass + two bounded aggregates
    * (the 1-row × 1-row combine is an agg-topped broadcast).
    */
  def tokenizeStats(words: DataFrame, wordCol: String, cntCol: String,
                    merges: Seq[Merge], passes: Int = 8): DataFrame = {
    val applied = applyMerges(words, wordCol,
        merges.map(m => (m.lft, m.rgt)), passes)
      .select(col("syms"), col(cntCol).cast("long").as("__cnt"))
    val base = applied.agg(
      count(lit(1)).as("n_word_forms"),
      sum(col("__cnt") * size(split(col("syms"), " ")).cast("long"))
        .as("total_tokens"))
    val vocab = applied.select(explode(split(col("syms"), " ")).as("__s"))
      .agg(countDistinct(col("__s")).as("distinct_subwords"))
    base.crossJoin(broadcast(vocab))
  }

  /** The final trained state alongside the merges — exposed so a spec
    * can assert the re-tokenization round-trip ([[applyMerges]] over
    * the raw words reproduces exactly this frame).
    */
  def learnMergesWithState(words: DataFrame, wordCol: String,
                           cntCol: String, numMerges: Int,
                           passes: Int = 8, minCount: Long = 1L)
    : (Seq[Merge], DataFrame) = {
    val mergeRows = learnMerges(words, wordCol, cntCol, numMerges, passes,
        minCount)
      .collect()
      .map(r => Merge(r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
      .toSeq
    (mergeRows,
      applyMerges(words, wordCol, mergeRows.map(m => (m.lft, m.rgt)), passes)
        .select(col("syms"), col(cntCol).cast("long").as("cnt"))
        .groupBy(col("syms")).agg(sum(col("cnt")).as("cnt")))
  }

  /** Tokenize words with a LEARNED merge table: apply every merge in
    * rank order with the same iterated-replace semantics as training
    * (so training state and re-tokenization agree bit-for-bit). Adds a
    * `syms` column; map-only over the input, merge list folded into
    * ONE projection per `checkpointEvery` merges (plan depth stays
    * bounded without materializing per-merge).
    */
  def applyMerges(words: DataFrame, wordCol: String,
                  merges: Seq[(String, String)], passes: Int = 8,
                  checkpointEvery: Int = 32): DataFrame = {
    require(passes >= 1 && checkpointEvery >= 1)
    var out = words.withColumn("syms", initialSymbols(col(wordCol)))
    merges.grouped(checkpointEvery).foreach { group =>
      var c = col("syms")
      group.foreach { case (l, r) => c = applyOne(c, l, r, passes) }
      val prev = out
      out = prev.withColumn("syms", c).localCheckpoint(true)
      CheckpointBridge.release(prev)
    }
    out
  }

  /** Tokenize document word occurrences with a learned table: merges
    * apply ONCE per DISTINCT word form ([[applyMerges]] over the form
    * table), then one key-grain join maps every occurrence — corpus
    * cost is a distinct + a join, never per-occurrence replace chains.
    * `docWords` is occurrence grain (any id/position columns + the word
    * column); output keeps every input column and adds `syms`.
    */
  def tokenizeDocWords(docWords: DataFrame, wordCol: String,
                       merges: Seq[(String, String)],
                       passes: Int = 8): DataFrame = {
    val forms = docWords.select(col(wordCol)).distinct()
    docWords.join(applyMerges(forms, wordCol, merges, passes), Seq(wordCol))
  }

  /** The keyed SQL apply chain for [[tokenizeDocWords]]' twin: `v0..vN`
    * CTEs mapping each distinct word form through the SAME per-round
    * needle as the training chain (`t_i` from [[cteChain]] — compose
    * the two with [[learnAndApplyChainSql]]), ending in
    * `v$numMerges(word, syms)`. Same MATERIALIZED + empty-round
    * fallback discipline as the training chain.
    */
  private def applyChain(formsSql: String, numMerges: Int,
                         passes: Int): String = {
    def nestedReplace(inner: String): String =
      (1 to passes).foldLeft(inner) { (acc, _) =>
        s"REPLACE($acc, n.ndl, n.rpl)"
      }
    val rounds = (1 to numMerges).map { i =>
      s"""v$i AS MATERIALIZED (
         |  SELECT v.word,
         |         coalesce(trim(${nestedReplace("' ' || v.syms || ' '")}), v.syms) AS syms
         |  FROM v${i - 1} v LEFT JOIN
         |    (SELECT ' ' || l || ' ' || r || ' ' AS ndl,
         |            ' ' || l || r || ' ' AS rpl FROM t$i) n ON TRUE
         |)""".stripMargin
    }.mkString(",\n")
    s"""v0 AS MATERIALIZED (
       |  SELECT word,
       |         array_to_string(regexp_split_to_array(word, ''), ' ') || '$EndOfWord' AS syms
       |  FROM ($formsSql)
       |),
       |$rounds""".stripMargin
  }

  /** Training chain + keyed apply chain in one WITH body: `w0..wN`,
    * `t1..tN` (training over `wordsSql`) and `v0..vN` (each distinct
    * form of `formsSql` mapped through the learned merges). The caller
    * appends its own CTEs/SELECT reading `v$numMerges(word, syms)`.
    */
  def learnAndApplyChainSql(wordsSql: String, formsSql: String,
                            numMerges: Int, passes: Int = 8): String =
    s"""${cteChain(wordsSql, numMerges, passes)},
       |${applyChain(formsSql, numMerges, passes)}""".stripMargin

  /** ANSI-SQL twin of [[learnMerges]] for DuckDB (unrolled CTE per
    * round; the SAME nested-replace count as the Scala side — keep in
    * lockstep). `wordsSql` must yield (word, cnt).
    *
    * Every per-round CTE is `AS MATERIALIZED`: each `w_i` is referenced
    * twice (pair counts + the next state) and each `t_i` twice (the
    * merge application + the final union), so inlining would expand the
    * plan ~2^rounds — at 20 rounds that is a million scans of the base
    * table and an fd-exhaustion crash, the SQL mirror of why the Scala
    * side checkpoints each generation. Materialization bounds each CTE
    * to one evaluation of a vocab-grain table.
    */
  def learnMergesSql(wordsSql: String, numMerges: Int,
                     passes: Int = 8): String = {
    val unions = (1 to numMerges).map { i =>
      s"SELECT CAST($i AS BIGINT) AS rank, l AS lft, r AS rgt, pc AS pair_count FROM t$i"
    }.mkString("\nUNION ALL ")
    s"""WITH ${cteChain(wordsSql, numMerges, passes)}
       |SELECT * FROM (
       |$unions
       |) ORDER BY rank""".stripMargin
  }

  /** ANSI-SQL twin of [[tokenizeStats]] over the SAME unrolled training
    * chain: the stats read the final state `w_numMerges`, so the twin
    * certifies training AND re-tokenization in one hash.
    */
  def tokenizeStatsSql(wordsSql: String, numMerges: Int,
                       passes: Int = 8): String =
    s"""WITH ${cteChain(wordsSql, numMerges, passes)}
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM w$numMerges) AS n_word_forms,
       |  (SELECT CAST(sum(cnt * len(string_split(syms, ' '))) AS BIGINT)
       |   FROM w$numMerges) AS total_tokens,
       |  (SELECT CAST(count(DISTINCT s) AS BIGINT) FROM
       |    (SELECT unnest(string_split(syms, ' ')) AS s FROM w$numMerges))
       |    AS distinct_subwords""".stripMargin

  /** The shared per-round CTE chain (w0 + p/t/w per round), all
    * MATERIALIZED — see [[learnMergesSql]] for why.
    */
  private def cteChain(wordsSql: String, numMerges: Int,
                       passes: Int): String = {
    def nestedReplace(inner: String): String =
      (1 to passes).foldLeft(inner) { (acc, _) =>
        s"REPLACE($acc, n.ndl, n.rpl)"
      }
    val rounds = (1 to numMerges).map { i =>
      s"""p$i AS MATERIALIZED (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS pc FROM (
         |    SELECT sl[g] AS l, sl[g + 1] AS r, cnt
         |    FROM (SELECT string_split(syms, ' ') AS sl, cnt FROM w${i - 1}) t,
         |         UNNEST(range(1, len(sl))) AS u(g)
         |  ) GROUP BY 1, 2),
         |t$i AS MATERIALIZED (SELECT l, r, pc FROM p$i ORDER BY pc DESC, l, r LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT coalesce(trim(${nestedReplace("' ' || w.syms || ' '")}), w.syms) AS syms, w.cnt
         |  FROM w${i - 1} w LEFT JOIN
         |    (SELECT ' ' || l || ' ' || r || ' ' AS ndl,
         |            ' ' || l || r || ' ' AS rpl FROM t$i) n ON TRUE
         |)""".stripMargin
    }.mkString(",\n")
    // LEFT JOIN ON TRUE + coalesce: when a round's t_i is EMPTY (merge
    // exhaustion — every word a single symbol), w_i falls back to
    // w_{i-1} instead of going empty, matching the Scala side's early
    // stop (round-8 ADVICE: the CROSS JOIN form broke lockstep on
    // degenerate vocabularies)
    s"""w0 AS MATERIALIZED (
       |  SELECT array_to_string(regexp_split_to_array(word, ''), ' ') || '$EndOfWord' AS syms,
       |         CAST(sum(cnt) AS BIGINT) AS cnt
       |  FROM ($wordsSql) GROUP BY 1
       |),
       |$rounds""".stripMargin
  }
}
