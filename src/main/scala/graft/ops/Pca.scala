package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Top principal direction of an embedding column by power iteration —
  * entirely in EXACT integer arithmetic, so the result is bit-identical
  * across engines, partitionings, and reruns (the [[PageRank
  * .ranksFixedPoint]] discipline applied to dimensionality reduction).
  *
  * Pipeline (all grids are dims- or dims²-grain, never data-grain after
  * the first aggregate):
  *  1. quantize: e = floor(x·10⁴) per element (floor, not round —
  *     round's half-way tie is a cross-engine trap, floor of the same
  *     double never is);
  *  2. scatter matrix: C' = n·G − S·Sᵀ over the (i, j) grid, where
  *     G_ij = Σ_rows e_i·e_j and S_i = Σ_rows e_i — exact longs; C' is
  *     n² times the covariance, so no division happens yet;
  *  3. rescale: c = floorDiv(C', 10⁶) to keep the iteration inside
  *     int64 (quantizing near-zero covariances to 0 — harmless for a
  *     dominant direction);
  *  4. `iters` power steps from the all-ones vector: w = c·v (a keyed
  *     join + exact long sum), then renormalize v ← floorDiv(w, d)
  *     with d = floorDiv(max|w|, 10⁴) + 1, keeping |v| ≤ ~10⁴;
  *  5. sign-fix: flip so the largest-|loading| component (ties → lowest
  *     dim) is positive — a deterministic orientation.
  *
  * floorDiv is the pmod form `(a − pmod(a, b)) / b`, identical in any
  * engine (a bare integer `div`/`//` differs between truncation and
  * floor on negatives). Intermediate magnitudes stay ≤ ~10¹⁵ (inside
  * both int64 and double-exact range) for |x| ≤ ~30, dims ≤ ~10³ and
  * n ≤ ~10⁷ rows; larger corpora should coarsen the quantization grid.
  *
  * Scale shape: one data-grain aggregate at (i, j) grain — the
  * classic outer-product scatter accumulation, dims²·n products with
  * full map-side combine — then everything else is dims²-grain joins
  * and 1-row max broadcasts. For dims where dims²·n is prohibitive,
  * project first ([[graft.llm.Similarity.projectSigned]]) and run the
  * iteration in the reduced space.
  *
  * Output: `dim, loading` with loading = v/10⁴ (exact multiples of
  * 1e-4). Convergence caveat: power iteration needs an eigengap —
  * on near-isotropic data (flat spectrum) `iters` steps land on an
  * arbitrary high-variance direction, which is all any method can say
  * there. The CONTRACT is the deterministic computation; accuracy on
  * data with a real dominant direction is pinned by `PcaSpec`'s
  * planted-direction case.
  */
object Pca {

  /** Exact floor division for longs, identical across engines. */
  def floorDivQ(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** Vector dimensionality at or below which the power iteration runs
    * DRIVER-SIDE on the collected dims²-grain scatter matrix (r13;
    * guide §5 driver hygiene — the same bounded model-grain collect the
    * PQ codebook trainer uses). The scatter matrix is the ONLY
    * data-grain aggregate; the iteration state is dims² longs
    * (≤ ~24 MB at 1024 dims), and iterating it distributed cost 3
    * driver actions per round (eager w checkpoint, renormalizer head(),
    * eager v checkpoint) over a frame of at most `dims` rows. Above the
    * bound the original distributed loop runs unchanged.
    */
  val MaxDriverIterDims: Int = 1024

  /** @param driverIterDims dims bound for the driver-side iteration
    *        (tests pass 0 to force the distributed loop and prove the
    *        two paths bit-equal — the SuffixArray broadcastTies idiom)
    */
  def topComponentFixedPoint(df: DataFrame, idCol: String, vecCol: String,
                             iters: Int = 5,
                             driverIterDims: Int = MaxDriverIterDims)
      : DataFrame = {
    require(iters >= 1, s"iters=$iters")
    val q = df.select(col(idCol).as("__id"),
      posexplode(transform(col(vecCol),
        x => floor(x.cast("double") * 1e4).cast("long"))).as(Seq("__i", "__e")))
    val a = q.select(col("__id"), col("__i"), col("__e"))
    val b = q.select(col("__id").as("__idb"), col("__i").as("__j"),
      col("__e").as("__eb"))
    val gram = a.join(b, col("__id") === col("__idb"))
      .groupBy(col("__i"), col("__j"))
      .agg(sum(col("__e") * col("__eb")).as("__g"))
    val sums = q.groupBy(col("__i"))
      .agg(sum(col("__e")).as("__s"), count(lit(1)).as("__n"))
    val si = sums.select(col("__i"), col("__s"), col("__n"))
    val sj = sums.select(col("__i").as("__j"), col("__s").as("__sj"))
    val scatterDef = gram.join(si, Seq("__i")).join(sj, Seq("__j"))
      .select(col("__i"), col("__j"),
        floorDivQ(col("__n") * col("__g") - col("__s") * col("__sj"),
          lit(1000000L)).as("__c"))
    // dims from the vectors themselves (one aggregate): the scatter matrix
    // is dims²-grain, so the bound is known before anything is collected.
    // Null vectors explode to nothing and are left out, as in the Gram
    // join; vectors of different sizes have no common dims and are refused
    val sizes = df.where(col(vecCol).isNotNull)
      .agg(min(size(col(vecCol))), max(size(col(vecCol)))).head()
    val nDims = if (sizes.isNullAt(0)) 0 else sizes.getInt(0)
    require(sizes.isNullAt(0) || nDims == sizes.getInt(1),
      s"ragged vectors in $vecCol: sizes from $nDims to ${sizes.get(1)}")
    if (nDims <= driverIterDims)
      return topComponentDriverIter(scatterDef, iters)
    val scatter = scatterDef.localCheckpoint(true)
    val dims = scatter.select(col("__i")).distinct()
    // One checkpointed generation of v per iteration (the PageRank
    // discipline). The earlier formulation left every round LAZY and
    // re-referenced each round's w twice (once via the join, once via
    // the broadcast renormalizer), so the plan tree doubled per round
    // — 2^iters replays of the scatter join by iteration 5, measured
    // at ~29 s on the bench. Same integers, linear cost.
    var v = dims.select(col("__i").as("__j"), lit(10000L).as("__v"))
      .localCheckpoint(true)
    (0 until iters).foreach { _ =>
      val prev = v
      val w = scatter.join(prev, Seq("__j"))
        .groupBy(col("__i"))
        .agg(sum(col("__c") * col("__v")).as("__w"))
        .localCheckpoint(true)
      // the renormalizer is ONE long — read it with an action instead
      // of re-planning the whole w subtree under a broadcast join
      val mVal = w.agg(coalesce(max(abs(col("__w"))), lit(0L)))
        .head().getLong(0)
      v = w.select(col("__i").as("__j"),
          (if (mVal > 0L)
            floorDivQ(col("__w"), lit(mVal / 10000L + 1L))
          else lit(10000L)).as("__v"))
        .localCheckpoint(true)
      org.apache.spark.sql.graftbridge.CheckpointBridge.release(prev)
      org.apache.spark.sql.graftbridge.CheckpointBridge.release(w)
    }
    org.apache.spark.sql.graftbridge.CheckpointBridge.release(scatter)
    // deterministic orientation: the largest-|v| component ends positive
    val lead = v.select(min(struct((-abs(col("__v"))).as("na"),
      col("__j").as("j"), col("__v").as("v"))).as("__l"))
    val out = v.crossJoin(broadcast(lead))
      .select(col("__j").cast("int").as("dim"),
        (when(col("__l").getField("v") < 0L, -col("__v"))
          .otherwise(col("__v")).cast("double") / 1e4).as("loading"))
      .orderBy(col("dim"))
    out
  }

  /** Power iteration over the COLLECTED scatter matrix — bit-identical
    * to the distributed loop above (same floor division as a pmod +
    * exact double division, same wrap-free long sums, same
    * lexicographic sign orientation), in one bounded dims²-grain
    * collect instead of 3 driver actions per round. The data-grain work
    * (the scatter aggregate) stays distributed; only the dims²-bounded
    * fixed point moves to the driver.
    */
  private def topComponentDriverIter(scatter: DataFrame,
                                     iters: Int): DataFrame = {
    val spark = scatter.sparkSession
    // exact replica of floorDivQ: pmod, then a DOUBLE division cast to
    // long — the distributed expression's own arithmetic path
    def floorDivL(a: Long, b: Long): Long =
      ((a - Math.floorMod(a, b)).toDouble / b.toDouble).toLong
    val tri = scatter.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    import spark.implicits._
    if (tri.isEmpty) // empty input → empty frame, like the joins above
      return Seq.empty[(Int, Double)].toDF("dim", "loading")
    val dims = tri.iterator.map(_._1).toArray.distinct.sorted
    var v: Map[Int, Long] = dims.iterator.map(_ -> 10000L).toMap
    (0 until iters).foreach { _ =>
      val w = scala.collection.mutable.HashMap.empty[Int, Long]
      tri.foreach { case (i, j, c) =>
        v.get(j).foreach { vj => w(i) = w.getOrElse(i, 0L) + c * vj }
      }
      val mVal = if (w.isEmpty) 0L else w.valuesIterator.map(math.abs).max
      v = if (mVal > 0L) {
        val d = mVal / 10000L + 1L
        w.iterator.map { case (i, wi) => i -> floorDivL(wi, d) }.toMap
      } else w.keysIterator.map(_ -> 10000L).toMap
    }
    // deterministic orientation: min over (-|v|, j) picks the
    // largest-|loading| component, ties to the lowest dim
    val lead = v.iterator.map { case (j, vj) => (-math.abs(vj), j, vj) }
      .minBy(t => (t._1, t._2))
    val flip = lead._3 < 0L
    val rows = v.iterator.map { case (j, vj) =>
      (j, (if (flip) -vj else vj).toDouble / 1e4)
    }.toSeq.sortBy(_._1)
    rows.toDF("dim", "loading").orderBy(col("dim"))
  }
}
