package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (`array<float>`).
  *
  * - [[knnBrute]] — exact cosine top-k via a broadcast join of the query
  *   set against the corpus: O(|Q|·|C|) dot products but no shuffle of
  *   the corpus, so it scales to large corpora as long as the query set
  *   broadcasts. The baseline every ANN variant is checked against.
  * - [[knnBucketed]] — IVF-style: candidates restricted to the query's
  *   coarse partition (any int bucket column, e.g. a cluster/label id or
  *   an LSH sign-bucket from [[signBucket]]). The join keys on the
  *   bucket, so the per-query work drops by the bucket fan-out — the
  *   100 TB scale path.
  *
  * Dot products are explicit `zip_with` + left-fold `aggregate`
  * expressions in DOUBLE: element-order-sequential, hence deterministic
  * and reproducible in an oracle engine with the same fold order.
  */
object Similarity {

  /** Sequential-fold dot product of two float arrays, in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (0 when either vector is all-zero). Evaluated by
    * the fused native [[graft.functions.HashExpressions.CosineSim]]
    * expression — same left-to-right double accumulation as the
    * declarative `dot/norm` form, so bits match.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.HashExpressions.cosineSim(a, b)

  /** Declarative formulation (executable spec for [[cosine]]). */
  def cosineDeclarative(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d > 0, dot(a, b) / d).otherwise(lit(0.0))
  }

  /** LSH-style coarse bucket: sign bits of the first `bits` dimensions
    * packed into an int — a trivially deterministic space partitioner
    * for [[knnBucketed]] when no cluster id exists.
    */
  def signBucket(a: Column, bits: Int = 4): Column =
    (0 until bits).map { i =>
      when(element_at(a, i + 1) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Scalar-quantization (SQ8) top-k — the fifth index variant next to
    * sign-LSH / multiprobe / IVF / PQ: each dimension min-max-quantizes
    * to an 8-bit code and candidates rank by the INTEGER quantized dot.
    * Where PQ trains sub-centroids (k-means literals an oracle must
    * embed), SQ8's "training" is two exact aggregates — per-dimension
    * min and max on the repo's 1e4 integer grid — so the whole index,
    * codes and scores included, is BIGINT arithmetic a twin engine
    * reproduces bit-for-bit with no trained literals at all.
    *
    *   e_i     = floor(v_i · 1e4)                (the grid used repo-wide)
    *   code_i  = (e_i − mn_i) · 255 div max(mx_i − mn_i, 1)   ∈ 0..255
    *   recon_i = mn_i · 255 + code_i · span_i    (≈ e_i · 255, exact BIGINT)
    *   approx  = cosine(q_recon, c_recon)        (same fold as knnBrute)
    *
    * Ranking runs on the cosine of the RECONSTRUCTED integer vectors —
    * a raw shifted-code dot would rank by magnitude in the shifted
    * space, not similarity (an all-max corpus vector would beat the
    * query's own duplicate). The scan reads 1 byte/dim instead of 4 —
    * at 100 TB the difference between an in-memory index and not — and
    * the per-dim stats are ONE 1-row aggregate broadcast back (never a
    * driver collect). The emitted `true_sim` column is the exact
    * re-rank over the k survivors only.
    *
    * @return `query_id, rank, neighbor_id, approx_sim, true_sim`
    */
  def knnSq8(queries: DataFrame, corpus: DataFrame, qidCol: String,
             idCol: String, vecCol: String, dims: Int,
             k: Int = 10): DataFrame = {
    def grid(c: Column): Column =
      transform(c, v => floor(v.cast("double") * lit(1e4)).cast("long"))
    val ec = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), grid(col(vecCol)).as("__e"))
    // per-dimension min/max: dims-grain aggregate folded to ONE row of
    // two dims-length arrays, broadcast back (bounded by dims, not rows)
    val stats = ec.select(posexplode(col("__e")).as(Seq("__i", "__v")))
      .groupBy(col("__i"))
      .agg(min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))
      .agg(
        transform(sort_array(collect_list(struct(col("__i"), col("__mn")))),
          s => s.getField("__mn")).as("__mns"),
        transform(sort_array(collect_list(struct(col("__i"), col("__mx")))),
          s => s.getField("__mx")).as("__mxs"))
    // floor of a double division == integer division here: numerators
    // are exact ints <= ~1.7e7 and any non-integer quotient sits at
    // least 1/span >= 1/65535 from the next integer — 9 decades above
    // double ulp, so the correctly-rounded quotient can never cross it
    // clamp to the 0..255 code range: corpus vectors are in range by
    // construction (the stats cover them), but a general-API query
    // vector outside the corpus envelope must saturate like a real
    // 1-byte SQ8 code, not escape the byte (round-10 ADVICE)
    def codes(e: Column): Column =
      zip_with(e, sequence(lit(0), lit(dims - 1)), (x, i) => {
        val mn = element_at(col("__mns"), (i + 1).cast("int"))
        val span = greatest(
          element_at(col("__mxs"), (i + 1).cast("int")) - mn, lit(1L))
        greatest(lit(0L), least(lit(255L),
          floor(((x - mn) * lit(255L)).cast("double") / span.cast("double"))
            .cast("long")))
      })
    // reconstructed integer vector from the stored codes (what a real
    // SQ8 scan decodes from its 1-byte/dim pages)
    def recon(cs: Column): Column =
      zip_with(cs, sequence(lit(0), lit(dims - 1)), (cde, i) => {
        val mn = element_at(col("__mns"), (i + 1).cast("int"))
        val span = greatest(
          element_at(col("__mxs"), (i + 1).cast("int")) - mn, lit(1L))
        mn * lit(255L) + cde * span
      })
    val coded = ec.crossJoin(broadcast(stats))
      .select(col("neighbor_id"), col("__cv"),
        recon(codes(col("__e"))).as("__cr"))
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"),
        grid(col(vecCol)).as("__qe"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("__qv"),
        recon(codes(col("__qe"))).as("__qr"))
    val sq = coded.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_sim",
        round(cosineDeclarative(col("__qr"), col("__cr")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_sim").desc, col("neighbor_id"))
    sq.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("approx_sim"),
        round(cosine(col("__qv"), col("__cv")), 6).as("true_sim"))
  }

  /** Exact cosine top-k: for each query vector, the `k` nearest corpus
    * vectors. Ranking uses (rounded similarity desc, corpus id) so
    * results are total-order deterministic.
    *
    * @param queries (qidCol, vecCol) frame — must be small enough to
    *                broadcast (it is hinted).
    * @param corpus  (idCol, vecCol) frame.
    */
  def knnBrute(queries: DataFrame, corpus: DataFrame, qidCol: String,
               idCol: String, vecCol: String, k: Int = 10): DataFrame = {
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val sims = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_sim", round(cosine(col("__qv"), col("__cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine_sim"))
  }

  /** Hard-negative mining for contrastive/embedding training: per
    * query, the top-k corpus vectors whose cosine lies in the
    * [lo, hi] band — harder than random negatives, below the
    * near-duplicate zone — with same-content candidates excluded by
    * fingerprint inequality (a near-dup used as a negative would
    * poison the contrastive loss). Band edges compare against the
    * 6dp-ROUNDED similarity, so the band is the same set on every
    * engine. Shape = [[knnBrute]]: the broadcast build stays a PURE
    * SLICE of the vector table (the plan-audit bounded-build rule);
    * fingerprints attach by two equi-joins AFTER the band filter, so
    * the content lookup touches only band survivors.
    *
    * @param queries (qidCol, vecCol) frame — a broadcastable slice
    * @param corpus  (idCol, vecCol)
    * @param fps     (idCol, fpCol) content fingerprints for both sides
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
                    fps: DataFrame, qidCol: String, idCol: String,
                    vecCol: String, fpCol: String, k: Int, lo: Double,
                    hi: Double): DataFrame = {
    require(lo <= hi, s"band [$lo, $hi]")
    val q = queries.select(col(qidCol).as("query_id"),
      col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"))
    val banded = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_sim", round(cosine(col("__qv"), col("__cv")), 6))
      .where(col("cosine_sim") >= lo && col("cosine_sim") <= hi)
    val sims = banded
      .join(fps.select(col(idCol).as("query_id"), col(fpCol).as("__qfp")),
        Seq("query_id"))
      .join(fps.select(col(idCol).as("neighbor_id"),
        col(fpCol).as("__cfp")), Seq("neighbor_id"))
      .where(col("__qfp") =!= col("__cfp"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine_sim"))
  }

  /** Deterministic Lloyd's k-means over an embedding column — the
    * trainer that turns [[knnBucketed]] into a real IVF index (coarse
    * quantizer = learned centroids instead of sign bits or labels).
    *
    * Execution shape at corpus scale:
    *  - ASSIGN is map-only: the k centroids are literals baked into one
    *    argmax-of-cosine expression (k native [[cosine]] calls per row —
    *    keep k ≤ a few hundred for this expression path);
    *  - RECOMPUTE is one shuffle at (bucket, dimension) grain:
    *    `posexplode` + avg, then a k×dims collect to the driver (KBs) to
    *    rebuild the literals for the next round — the corpus itself
    *    never leaves the executors;
    *  - init is the first k vectors by id — no RNG, so training is
    *    reproducible for a fixed data layout (the one caveat is the
    *    usual float-sum merge order inside avg).
    *
    * Empty clusters keep their previous centroid. Returns the learned
    * centroids in bucket order (0 until k).
    */
  /** Memo for trained centroids, keyed by a caller-chosen tag (usually
    * the data dir + hyperparameters). Exists so an oracle emitter can
    * reuse the EXACT floats a query trained — distributed float
    * averaging is deterministic for a fixed layout only up to partial-
    * sum merge order, so "train twice and hope" is not a contract.
    */
  private val centroidMemo = new graft.Memo[Array[Array[Float]]]("centroids")

  /** [[kMeansCentroids]] through the memo: at most one training per tag
    * per JVM; later callers (including [[graft.LlmQueries]]'s oracle
    * builder) get the same array instance.
    */
  def kMeansCentroidsCached(tag: String, corpus: => DataFrame, idCol: String,
                            vecCol: String, k: Int, iters: Int)
      : Array[Array[Float]] =
    centroidMemo(tag)(kMeansCentroids(corpus, idCol, vecCol, k, iters))

  /** The memoized centroids for `tag`, if that training already ran. */
  def trainedCentroids(tag: String): Option[Array[Array[Float]]] =
    centroidMemo.get(tag)

  def kMeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int = 5): Array[Array[Float]] = {
    require(k > 0 && iters >= 0, s"k=$k iters=$iters")
    var centroids = corpus.orderBy(col(idCol)).select(col(vecCol)).limit(k)
      .collect().map(_.getSeq[Float](0).toArray)
    require(centroids.length == k,
      s"corpus has only ${centroids.length} rows for k=$k centroids")
    (0 until iters).foreach { _ =>
      val assigned = corpus.select(col(vecCol).as("__v"))
        .withColumn("__bucket", nearestCentroid(col("__v"), centroids))
      val sums = assigned
        .select(col("__bucket"), posexplode(col("__v")).as(Seq("__d", "__x")))
        .groupBy(col("__bucket"), col("__d"))
        .agg(avg(col("__x")).as("__m"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat
      }
      centroids = next
    }
    centroids
  }

  /** Nearest-centroid id (argmax cosine; ties break to the LOWEST
    * centroid index) as a map-only expression over literal centroids.
    */
  def nearestCentroid(vec: Column, centroids: Array[Array[Float]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(
        cosine(vec, array(c.map(x => lit(x)): _*)).as("s"),
        lit(-i).as("ni"))
    }
    // greatest on (similarity, -index): highest similarity wins, ties to
    // the lowest index — a deterministic total order
    val best =
      if (scored.length == 1) scored.head else greatest(scored.toIndexedSeq: _*)
    (-best.getField("ni")).cast("int")
  }

  /** Simplified silhouette per cluster — the cluster-quality number
    * that says whether a trained quantizer (IVF coarse centroids, the
    * SemDeDup buckets) actually separates the corpus: per vector,
    * a = cosine distance to its OWN centroid, b = distance to the
    * nearest OTHER centroid, s = (b−a)/max(a,b) ∈ [−1,1]; averaged per
    * cluster. The "simplified" variant (centroid distances, not
    * pairwise ones) is the only silhouette that scales — it's map-only
    * over literal centroids, where the classic definition is O(n²).
    *
    * Per-row scores are micro-rounded to integers BEFORE the per-
    * cluster sum (double summation is merge-order-dependent; integer
    * summation is exact and commutative — the same discipline as every
    * fixed-point op here). Ties in the centroid ranking break to the
    * lowest index, matching [[nearestCentroid]].
    *
    * @return (bucket, n, sil_sum_micro, sil_avg): sil_avg =
    *         round(sum/(n·1e6), 6) computed from the exact integers
    */
  def silhouetteSimplified(corpus: DataFrame, idCol: String,
                           vecCol: String,
                           centroids: Array[Array[Float]]): DataFrame = {
    require(centroids.length >= 2, "need k >= 2 for a silhouette")
    val scored = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(
        cosine(col(vecCol), array(c.map(x => lit(x)): _*)).as("s"),
        lit(-i).as("ni"))
    }.toIndexedSeq: _*)
    // ascending struct sort: last = best (highest s; ties → lowest
    // index, because larger -ni sorts later), second-to-last = runner-up
    val sorted = array_sort(scored)
    corpus
      .withColumn("__best", element_at(sorted, -1))
      .withColumn("__second", element_at(sorted, -2))
      .select(
        (-col("__best.ni")).cast("int").as("bucket"),
        col("__best.s").as("__s1"), col("__second.s").as("__s2"))
      .withColumn("__g",
        greatest(lit(1.0) - col("__s1"), lit(1.0) - col("__s2")))
      .withColumn("__sil_micro",
        when(col("__g") <= 0, 0L).otherwise(
          round((col("__s1") - col("__s2")) / col("__g") * 1e6, 0)
            .cast("long")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("__sil_micro")).as("sil_sum_micro"))
      .withColumn("sil_avg",
        round(col("sil_sum_micro").cast("double") /
          col("n").cast("double") / 1e6, 6))
  }

  /** Deterministic ±1 sign matrix for a Johnson–Lindenstrauss random
    * projection: row j is the j-th output dimension's sign pattern over
    * the input dimensions. The "randomness" is an LCG parity — pure
    * Scala arithmetic, so the SAME rows embed as literals in a twin
    * engine (no RNG state to reproduce). Cosine is scale-invariant, so
    * the conventional 1/√outDims scaling is omitted.
    *
    * The parity comes from a splitmix64-style avalanche of (i, j) — a
    * LINEAR index mix (LCG without finalization) leaves the rows
    * correlated and visibly breaks the JL concentration (ratios 0.08–5
    * instead of ~χ²/dof around 1, observed directly at sf0.01).
    */
  def jlSignRows(inDims: Int, outDims: Int): Array[Array[Double]] =
    Array.tabulate(outDims) { j =>
      Array.tabulate(inDims) { i =>
        var z = (i.toLong << 32) | (j.toLong & 0xffffffffL)
        z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
        z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
        z ^= z >>> 33
        if ((z & 1L) == 0L) 1.0 else -1.0
      }
    }

  /** Project `vec` through literal ±1 sign rows: out[j] = Σ_i v_i·s_ji,
    * each output a sequential double fold (twin-reproducible). Map-only
    * — at corpus scale this is the cheap preprocessing that shrinks a
    * 100 TB embedding column by dims/outDims before any pairwise work.
    */
  def projectSigned(vec: Column, signs: Array[Array[Double]]): Column =
    array(signs.map { row =>
      aggregate(
        zip_with(vec, array(row.map(lit).toIndexedSeq: _*),
          (v, r) => v.cast("double") * r),
        lit(0.0), (acc, x) => acc + x)
    }.toIndexedSeq: _*)

  /** Product-quantization codebooks: the vector splits into `m`
    * contiguous subspaces and each subspace trains its own `k`
    * sub-centroids (same deterministic Lloyd's as [[kMeansCentroids]],
    * over the sliced column). The result compresses a corpus vector to
    * `m` small codes — at 100 TB the difference between an index that
    * fits in executor memory (m bytes/vector) and one that doesn't
    * (4·dims bytes/vector), which is the entire point of PQ.
    *
    * Memoized per tag like the IVF [[centroidMemo]], all `m` codebooks
    * in one entry, so an oracle emitter can embed the EXACT trained
    * floats of one training.
    */
  def pqCodebooksCached(tag: String, corpus: => DataFrame, idCol: String,
                        vecCol: String, dims: Int, m: Int, k: Int,
                        iters: Int): Array[Array[Array[Float]]] = {
    require(m >= 1 && dims % m == 0, s"dims=$dims not divisible by m=$m")
    codebookMemo(tag)(pqCodebooksJoint(corpus, idCol, vecCol, dims, m, k,
      iters))
  }

  private val codebookMemo =
    new graft.Memo[Array[Array[Array[Float]]]]("pq_codebooks")

  /** All `m` subspace codebooks trained in ONE Lloyd's loop (r12,
    * guide §1.2 driver-action hygiene): the per-subspace trainer paid
    * `m · (iters + 1)` driver collects of bounded aggregates — at 4
    * subspaces × 2 iterations that is 12 scheduled jobs for arithmetic
    * a single pass covers. Here each iteration stacks the m subspace
    * assignments into one exploded frame and collects ONE
    * (subspace, bucket, dim)-grain aggregate (m·k·dims rows, bounded by
    * the model, not the corpus): `iters + 1` jobs total, identical
    * assignments, the same empty-cluster keep-previous rule.
    */
  private def pqCodebooksJoint(corpus: DataFrame, idCol: String,
                               vecCol: String, dims: Int, m: Int, k: Int,
                               iters: Int): Array[Array[Array[Float]]] = {
    require(k > 0 && iters >= 0, s"k=$k iters=$iters")
    val sub = dims / m
    val first = corpus.orderBy(col(idCol)).select(col(vecCol)).limit(k)
      .collect().map(_.getSeq[Float](0).toArray)
    require(first.length == k,
      s"corpus has only ${first.length} rows for k=$k sub-centroids")
    var books: Array[Array[Array[Float]]] =
      (0 until m).map(s => first.map(_.slice(s * sub, (s + 1) * sub))).toArray
    (0 until iters).foreach { _ =>
      val stacked = (0 until m).map { s =>
        val sv = slice(col(vecCol), s * sub + 1, sub)
        struct(lit(s).as("s"), nearestCentroid(sv, books(s)).as("b"),
          sv.as("v"))
      }
      val sums = corpus
        .select(explode(array(stacked: _*)).as("__e"))
        .select(col("__e.s").as("__s"), col("__e.b").as("__b"),
          posexplode(col("__e.v")).as(Seq("__d", "__x")))
        .groupBy(col("__s"), col("__b"), col("__d"))
        .agg(avg(col("__x")).as("__m"))
        .collect()
      val next = books.map(_.map(_.clone()))
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3).toFloat
      }
      books = next
    }
    books
  }

  /** The memoized PQ codebooks for `tag`, if training already ran. */
  def trainedCodebooks(tag: String, m: Int): Option[Array[Array[Array[Float]]]] =
    codebookMemo.get(tag).filter(_.length == m)

  /** PQ top-k with asymmetric distance computation (ADC) + exact
    * re-rank column: the corpus is ENCODED once (per subspace, the
    * nearest sub-centroid — map-only over literal codebooks), then each
    * query scores candidates from the codes alone:
    *
    *   dot(q, x) ≈ Σ_s dot(q_s, c_{s, code_s(x)})    (the ADC identity)
    *   ‖x̂‖²      = Σ_s ‖c_{s, code_s(x)}‖²
    *
    * so `approx_sim = ADC / (‖q‖·‖x̂‖)` never touches the original
    * corpus floats — the scan reads m codes per row, not dims floats.
    * The emitted `true_sim` column is the standard exact re-rank over
    * the k survivors only (top-k · |Q| rows, not corpus grain).
    *
    * All sums fold left-to-right over ascending subspace index, so a
    * twin engine replaying the same literals reproduces every bit.
    * Ranking is (rounded approx_sim desc, neighbor_id) — total order.
    */
  def knnPqAdc(queries: DataFrame, corpus: DataFrame, qidCol: String,
               idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Float]]], k: Int = 10): DataFrame = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    def litVec(cen: Array[Float]): Column = array(cen.map(lit).toIndexedSeq: _*)
    def subv(c: Column, s: Int): Column = slice(c, s * sub + 1, sub)
    val codeCols = (0 until m).map(s =>
      nearestCentroid(subv(col("__cv"), s), codebooks(s)).as(s"__code$s"))
    val coded = corpus.select(
      (col(idCol).as("neighbor_id") +: col(vecCol).as("__cv") +: codeCols): _*)
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"))
    // ADC terms: per subspace, the dot of the query slice against EVERY
    // sub-centroid (a literal array), selected by the stored code
    val adc = (0 until m).map { s =>
      element_at(array(codebooks(s).map(cen =>
        dot(subv(col("__qv"), s), litVec(cen))).toIndexedSeq: _*),
        col(s"__code$s") + 1)
    }.reduceLeft(_ + _)
    val recon2 = (0 until m).map { s =>
      element_at(array(codebooks(s).map(cen =>
        dot(litVec(cen), litVec(cen))).toIndexedSeq: _*),
        col(s"__code$s") + 1)
    }.reduceLeft(_ + _)
    val den = sqrt(dot(col("__qv"), col("__qv"))) * sqrt(recon2)
    val sims = coded.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_sim",
        round(when(den > 0, adc / den).otherwise(lit(0.0)), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .withColumn("true_sim", round(cosine(col("__qv"), col("__cv")), 6))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("approx_sim"), col("true_sim"))
  }

  /** PQ ADC with an exact-cosine REFINE step (the "+R" of IVFADC+R,
    * Jégou et al., "Searching in one billion vectors", ICASSP'11): the
    * ADC ranking shortlists `k·refine` candidates per query from the
    * codes alone, then exact cosine — already emitted by [[knnPqAdc]]
    * as `true_sim` on survivors — re-orders ONLY that shortlist and
    * keeps the top k. Recall lost to quantization comes back at the
    * cost of `|Q|·k·refine` exact distances instead of `|Q|·|corpus|`:
    * the corpus-grain scan still reads m codes per row, and the refine
    * is a window over an already-tiny frame, so the 100 TB shape is
    * unchanged from [[knnPqAdc]].
    *
    * Output contract matches [[knnPqAdc]] — (query_id, rank,
    * neighbor_id, approx_sim, true_sim) — with `rank` now the
    * exact-cosine rank (ties broken by neighbor_id, total order).
    */
  def knnPqRefined(queries: DataFrame, corpus: DataFrame, qidCol: String,
                   idCol: String, vecCol: String,
                   codebooks: Array[Array[Array[Float]]], k: Int = 10,
                   refine: Int = 4): DataFrame = {
    require(refine >= 1, s"refine=$refine")
    val shortlist = knnPqAdc(queries, corpus, qidCol, idCol, vecCol,
      codebooks, k = k * refine)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("true_sim").desc, col("neighbor_id"))
    shortlist.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("approx_sim"), col("true_sim"))
  }

  /** IVF-PQ composed index (the `IndexIVFPQ` shape of Jégou et al.,
    * "Product quantization for nearest neighbor search", PAMI'11;
    * extension scope — the reference ETL has no ANN surface, this
    * composes the repo's own IVF and PQ families): the coarse
    * quantizer ROUTES — each query
    * probes its `nProbes` nearest IVF centroids and only those buckets'
    * rows become candidates — while PQ codes SCORE — candidates rank by
    * the ADC approximation over `m` stored codes, never touching the
    * raw floats until the exact refine over the final shortlist.
    *
    * This is the 100 TB serving shape: the corpus-grain state is
    * (probe, m codes) per row — one int + m bytes — the corpus never
    * shuffles (probes explode on the broadcast query side, candidates
    * come from an equi-join on the bucket), the ADC scan reads codes
    * only, and exact distances are paid for `|Q|·k·refine` rows total.
    * Scan cost drops from |corpus| to Σ probed-bucket sizes — with
    * balanced centroids, ~`nProbes/nlist` of the corpus.
    *
    * Encoding variant: PQ over the RAW vectors (FAISS
    * `by_residual=false`), not residuals — the codebooks are shared
    * bit-for-bit with [[knnPqAdc]] (one training, two indexes, the same
    * memo-sharing discipline as the LPA labeling), and scores stay
    * exactly the cross-engine-reproducible literal-fold arithmetic the
    * PQ family certified. Residual encoding would re-center each bucket
    * (better recall at equal code budget) at the cost of per-bucket
    * codebook training; the raw variant is the documented trade.
    *
    * Output contract matches [[knnPqRefined]]: (query_id, rank,
    * neighbor_id, approx_sim, true_sim), `rank` = exact-cosine rank over
    * the ADC shortlist of `k·refine` per query, ties by neighbor_id.
    */
  def knnIvfPq(queries: DataFrame, corpus: DataFrame, qidCol: String,
               idCol: String, vecCol: String,
               centroids: Array[Array[Float]],
               codebooks: Array[Array[Array[Float]]], k: Int = 10,
               nProbes: Int = 1, refine: Int = 4): DataFrame = {
    require(nProbes >= 1 && nProbes <= centroids.length,
      s"nProbes=$nProbes for ${centroids.length} centroids")
    require(refine >= 1, s"refine=$refine")
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    def litVec(cen: Array[Float]): Column = array(cen.map(lit).toIndexedSeq: _*)
    def subv(c: Column, s: Int): Column = slice(c, s * sub + 1, sub)
    // corpus index state, map-only: coarse probe + m PQ codes per row
    val codeCols = (0 until m).map(s =>
      nearestCentroid(subv(col("__cv"), s), codebooks(s)).as(s"__code$s"))
    val c = corpus.select(
      (col(idCol).as("neighbor_id") +: col(vecCol).as("__cv") +:
        nearestCentroid(col(vecCol), centroids).as("__probe") +: codeCols): _*)
    // query probes: rank ALL centroids per query, keep the nProbes best
    // (one struct array sort on the broadcast side — [[knnIvf]]'s shape)
    val ranked = array_sort(array(centroids.zipWithIndex.map { case (cen, i) =>
      struct(
        (-cosine(col("__qv"), array(cen.map(x => lit(x)): _*))).as("d"),
        lit(i).as("i"))
    }: _*))
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__probe",
        explode(slice(transform(ranked, e => e.getField("i")), 1, nProbes)))
    // ADC terms over the candidate set: per subspace, the dot of the
    // query slice against EVERY sub-centroid (a literal array), selected
    // by the stored code — [[knnPqAdc]]'s identity on fewer rows
    val adc = (0 until m).map { s =>
      element_at(array(codebooks(s).map(cen =>
        dot(subv(col("__qv"), s), litVec(cen))).toIndexedSeq: _*),
        col(s"__code$s") + 1)
    }.reduceLeft(_ + _)
    val recon2 = (0 until m).map { s =>
      element_at(array(codebooks(s).map(cen =>
        dot(litVec(cen), litVec(cen))).toIndexedSeq: _*),
        col(s"__code$s") + 1)
    }.reduceLeft(_ + _)
    val den = sqrt(dot(col("__qv"), col("__qv"))) * sqrt(recon2)
    val sims = c.join(broadcast(q), Seq("__probe"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_sim",
        round(when(den > 0, adc / den).otherwise(lit(0.0)), 6))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_sim").desc, col("neighbor_id"))
    val shortlist = sims.withColumn("rank", row_number().over(wAdc))
      .where(col("rank") <= k * refine)
      .withColumn("true_sim", round(cosine(col("__qv"), col("__cv")), 6))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("true_sim").desc, col("neighbor_id"))
    shortlist.withColumn("rank", row_number().over(wExact))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("approx_sim"), col("true_sim"))
  }

  /** IVF top-k: train (or reuse) centroids, assign the corpus once, then
    * probe the `nProbes` centroids nearest to each query — candidates =
    * the union of those buckets, still an equi-join keyed on the bucket
    * (the corpus never shuffles; probes explode on the broadcast query
    * side, exactly like [[knnMultiProbe]]).
    */
  def knnIvf(queries: DataFrame, corpus: DataFrame, qidCol: String,
             idCol: String, vecCol: String, centroids: Array[Array[Float]],
             k: Int = 10, nProbes: Int = 1): DataFrame = {
    require(nProbes >= 1 && nProbes <= centroids.length,
      s"nProbes=$nProbes for ${centroids.length} centroids")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      nearestCentroid(col(vecCol), centroids).as("__probe"))
    // rank ALL centroids per query, keep the nProbes best: one struct
    // array sort on the broadcast side, no per-centroid join
    val ranked = array_sort(array(centroids.zipWithIndex.map { case (cen, i) =>
      struct(
        (-cosine(col("__qv"), array(cen.map(x => lit(x)): _*))).as("d"),
        lit(i).as("i"))
    }: _*))
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__probe",
        explode(slice(transform(ranked, e => e.getField("i")), 1, nProbes)))
    val sims = c.join(broadcast(q), Seq("__probe"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_sim", round(cosine(col("__qv"), col("__cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine_sim"))
  }

  /** Multi-probe sign-LSH top-k: like [[knnBucketed]] over [[signBucket]]
    * partitions, but each query ALSO probes the buckets reached by
    * flipping its least-confident sign bits (smallest |component| —
    * the dimensions where a near neighbor most plausibly landed on the
    * other side of the hyperplane). The standard LSH recall fix without
    * more tables: candidate volume grows by ×nProbes, not ×2^bits, and
    * the corpus still never shuffles (probes explode on the broadcast
    * query side only).
    *
    * Deterministic probe order: bits rank by (|component|, index)
    * ascending; probe j flips the j-th least-confident bit of the base
    * bucket. Probes are distinct single-bit flips, so a corpus row is
    * generated at most once per query — no candidate dedup pass.
    */
  def knnMultiProbe(queries: DataFrame, corpus: DataFrame, qidCol: String,
                    idCol: String, vecCol: String, k: Int = 10,
                    bits: Int = 4, nProbes: Int = 2): DataFrame = {
    require(bits >= 1 && bits <= 16, s"bits=$bits")
    require(nProbes >= 1 && nProbes <= bits + 1, s"nProbes=$nProbes bits=$bits")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      signBucket(col(vecCol), bits).as("__probe"))
    // per-bit confidence ranking, materialized as an attribute before any
    // further use (array_sort on the struct array is lexicographic:
    // weight, then index — a deterministic tiebreak)
    val ord = array_sort(array((0 until bits).map(i =>
      struct(abs(element_at(col("__qv"), i + 1)).as("w"), lit(i).as("i"))): _*))
    def pow2(idx: Column): Column =
      (0 until bits).foldLeft(lit(0)) { case (acc, i) =>
        when(idx === i, lit(1 << i)).otherwise(acc)
      }
    val q0 = queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__base", signBucket(col("__qv"), bits))
      .withColumn("__ord", ord)
    val probes = col("__base") +: (1 until nProbes).map(j =>
      col("__base").bitwiseXOR(pow2(col("__ord").getItem(j - 1).getField("i"))))
    val q = q0.withColumn("__probe", explode(array(probes: _*)))
      .select(col("query_id"), col("__qv"), col("__probe"))
    val sims = c.join(broadcast(q), Seq("__probe"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_sim", round(cosine(col("__qv"), col("__cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine_sim"))
  }

  /** IVF-style bucketed top-k: like [[knnBrute]] but candidates must
    * share `bucketCol` with the query — the join keys on the bucket.
    */
  def knnBucketed(queries: DataFrame, corpus: DataFrame, qidCol: String,
                  idCol: String, vecCol: String, bucketCol: String,
                  k: Int = 10): DataFrame = {
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"),
      col(bucketCol).as("__bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      col(bucketCol).as("__bucket"))
    val sims = c.join(broadcast(q), Seq("__bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_sim", round(cosine(col("__qv"), col("__cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine_sim"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein '98):
    * from each query's cosine top-`poolK` candidate pool, select
    * `selectK` results in order of
    * `score = λ·relevance − (1−λ)·max-similarity-to-already-selected` —
    * the diversity-aware selection a RAG context builder or a diverse
    * few-shot sampler runs after ANN retrieval (pure top-k hands back
    * near-duplicates; MMR spends the budget on coverage).
    *
    * Execution shape at corpus scale: the ONLY corpus-grain work is the
    * [[knnBrute]]-style pool build (broadcast query join, no corpus
    * shuffle). Selection is inherently sequential in `selectK` — each
    * pick changes the next round's scores — but every round runs at
    * SELECTION grain (|Q|·poolK rows, bounded by contract), one
    * window argmax + one 1-row-per-query broadcast join per round,
    * checkpointed per generation with immediate release (the
    * [[graft.ops.PageRank]] discipline).
    *
    * Determinism contract (cross-engine): relevance, pairwise
    * similarity, and the score are each rounded to 6 places before any
    * comparison; ties break by `neighbor_id` asc. The first pick (empty
    * selected set) scores `λ·rel − μ·0`, i.e. argmax relevance. The
    * diversity weight is an EXPLICIT `mu` rather than a computed
    * `1 − λ`: a twin engine must multiply by the identical IEEE double,
    * and `1.0 - 0.7` is decimal-exact 0.3 in DuckDB but
    * 0.30000000000000004 in JVM double arithmetic — both sides parse
    * the same printed literal instead.
    *
    * Output: (query_id, mmr_rank, neighbor_id, score).
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, qidCol: String,
                idCol: String, vecCol: String, poolK: Int = 20,
                selectK: Int = 10, lambda: Double = 0.7,
                mu: Double = 0.3): DataFrame = {
    require(poolK >= selectK && selectK >= 1,
      s"poolK=$poolK must be >= selectK=$selectK >= 1")
    require(lambda > 0.0 && lambda <= 1.0, s"lambda=$lambda")
    require(mu >= 0.0, s"mu=$mu")
    import org.apache.spark.sql.graftbridge.CheckpointBridge
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val poolW = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("neighbor_id"))
    var cand = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("rel", round(cosine(col("__qv"), col("__cv")), 6))
      .withColumn("__rn", row_number().over(poolW))
      .where(col("__rn") <= poolK)
      .select(col("query_id"), col("neighbor_id"), col("rel"),
        col("__cv"), lit(0.0).as("maxsim"))
      .localCheckpoint(true)
    val picks = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    (1 to selectK).foreach { t =>
      val score = round(
        lit(lambda) * col("rel") - lit(mu) * col("maxsim"), 6)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(score.desc, col("neighbor_id"))
      val pick = cand
        .withColumn("score", score)
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("query_id"), lit(t).as("mmr_rank"),
          col("neighbor_id"), col("score"), col("__cv"))
        .localCheckpoint(true)
      picks += pick
      if (t < selectK) {
        val prev = cand
        cand = cand
          .join(broadcast(pick.select(col("query_id"),
            col("neighbor_id").as("__pid"), col("__cv").as("__pv"))),
            Seq("query_id"))
          .where(col("neighbor_id") =!= col("__pid"))
          .withColumn("maxsim", greatest(col("maxsim"),
            round(cosine(col("__cv"), col("__pv")), 6)))
          .select(col("query_id"), col("neighbor_id"), col("rel"),
            col("__cv"), col("maxsim"))
          .localCheckpoint(true)
        CheckpointBridge.release(prev)
      } else CheckpointBridge.release(cand)
    }
    picks.reduce(_ union _)
      .select(col("query_id"), col("mmr_rank"), col("neighbor_id"),
        col("score"))
  }
}
