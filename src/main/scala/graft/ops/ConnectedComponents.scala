package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge

import graft.ops.BroadcastBudget.hintIf

/** Connected components over an edge list by iterative min-label
  * propagation: every node's label starts as its own id and each round
  * becomes the min of its label and its neighbors' labels, until a
  * fixpoint — the label is then the component's minimum id (a canonical,
  * deterministic component key).
  *
  * Spark-first iteration shape (what GraphFrames does under the hood):
  * each round is one join + one aggregation, both keyed on node id, and
  * `localCheckpoint` cuts the lineage so plans don't grow with the
  * iteration count; the previous round's checkpoint blocks are released
  * as soon as the new round is materialized, so executor memory holds
  * ONE generation of state, not one per iteration. Rounds needed =
  * component diameter — for near-dup clusters (small, dense) that's 2-4;
  * the `maxIter` bound is a safety rail, not the expected cost.
  * Convergence = no label changed this round (probed with a `limit(1)`
  * existence check, not a full count).
  */
object ConnectedComponents {

  /** @param edges two-column frame of undirected edges (any orientation)
    * @return (id, component) — component = min node id reachable
    * @throws IllegalStateException if `maxIter` rounds pass without
    *         reaching the fixpoint — a silent return of half-propagated
    *         labels would hand callers (near-dup clustering, min-survivor
    *         dedup) split clusters with no signal anything went wrong
    */
  def components(edges: DataFrame, srcCol: String, dstCol: String,
                 maxIter: Int = 20): DataFrame = {
    val sym = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct()
      .localCheckpoint(true)
    var ckpt = sym.select(col("a").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    var labels = ckpt
    // one cheap count over the checkpointed edge blocks gates the
    // broadcast rounds below (see [[BroadcastBudget]]; labels are
    // node-grain ≤ |sym|)
    val hint = hintIf(sym.count() <= BroadcastBudget.Rows)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val neighborMin = sym
        .join(hint(labels.withColumnRenamed("id", "b2")),
          col("b") === col("b2"))
        .groupBy(col("a"))
        .agg(min(col("component")).as("nmin"))
      val updated = labels
        .join(hint(neighborMin), col("id") === col("a"), "left")
        .select(col("id"), col("component").as("__old"),
          least(col("component"), coalesce(col("nmin"), col("component")))
            .as("component"))
        .localCheckpoint(true)
      converged = updated
        .where(col("component") =!= col("__old")).limit(1).count() == 0
      CheckpointBridge.release(ckpt) // superseded generation — free now
      ckpt = updated
      labels = updated.select(col("id"), col("component"))
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within maxIter=$maxIter " +
          "rounds; labels would be split mid-propagation — raise maxIter " +
          "(rounds needed grows with component diameter)")
    // the result reads only the final checkpoint; the symmetrized edge
    // set served its last join in the loop above
    CheckpointBridge.release(sym)
    labels
  }

  /** Connected components by the ALTERNATING large-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the shape that survives 100 TB graphs.
    *
    * [[components]]' min-label propagation moves a label ONE hop per
    * round, so rounds = component diameter: a chain of 10⁶ near-dup docs
    * (pathological but real — template pages) would need 10⁶ shuffles.
    * Star operations instead rewire every node toward its neighborhood
    * minimum, halving-or-better the diameter each alternation: O(log² n)
    * rounds worst case, a handful in practice, independent of diameter.
    *
    * Per alternation: two groupBy-min passes and two co-keyed joins —
    * the same per-round shuffle budget as one label-propagation round.
    * Edges stay canonical (u, v) with u > v; at the fixpoint the edge set
    * is a star forest (child → component-minimum root), read off as the
    * labeling directly.
    *
    * Fixpoint probe: one aggregate per edge set — `(count,
    * sum(xxhash64(u, v)))` as an order-independent set signature —
    * and the previous round's signature is REUSED, so convergence costs
    * one job per alternation (the earlier `count + count + except` probe
    * cost three, one of them a distinct-aggregate over both sets; at
    * 100 TB the probe rivaled the star steps it guarded). Both sides are
    * distinct canonical sets, so equal signatures certify set equality up
    * to a 64-bit-per-row hash-sum collision (the sum accumulates in
    * DECIMAL(38,0): exact, order-independent, overflow-free, and immune
    * to ANSI-mode overflow throws under a user's session).
    *
    * The previous round's checkpoint blocks are released once the new
    * edge set is materialized — one generation of state in executor
    * memory, matching [[components]].
    *
    * Output contract matches [[components]]: (id, component) for every
    * node appearing in `edges`, component = min reachable node id.
    *
    * @throws IllegalStateException if `maxIter` alternations pass without
    *         the edge set reaching its star-forest fixpoint
    */
  def componentsAlternating(edges: DataFrame, srcCol: String, dstCol: String,
                            maxIter: Int = 25): DataFrame =
    componentsAlternatingCounted(edges, srcCol, dstCol, maxIter)._1

  /** [[componentsAlternating]] plus the number of alternations the
    * closure actually ran (known driver-side once the loop converges —
    * the labeling itself stays lazy). The count is what scale tests
    * assert against the O(log² n) bound: wall-clock on a contended
    * machine lies, the round count cannot.
    */
  def componentsAlternatingCounted(edges: DataFrame, srcCol: String,
                                   dstCol: String,
                                   maxIter: Int = 25): (DataFrame, Int) = {
    val nodes = edges.select(col(srcCol).as("id"))
      .union(edges.select(col(dstCol).as("id")))
      .distinct()
      .localCheckpoint(true)
    // canonical orientation: u = larger endpoint, v = smaller; self-loops
    // carry no connectivity and would emit (m, m) noise — drop them now
    var e = edges
      .select(greatest(col(srcCol), col(dstCol)).as("u"),
        least(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var eSig = edgeSignature(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // Once the contracting edge set fits the broadcast budget (count
      // free from the previous signature), the min tables broadcast and
      // both star joins run map-side — the raw neighbor/edge frames are
      // never exchanged (their aggregate-keyed exchange carries
      // partial-aggregated rows, so the join used to pay a SECOND
      // row-grain exchange of the same frame).
      val hint = hintIf(eSig._1 <= BroadcastBudget.Rows)
      // large-star: every node links its LARGER neighbors to the minimum
      // of its neighborhood (incl. itself). Emitted edges keep u > v:
      // b > a >= min(Γ(a) ∪ {a}) = m.
      val nbrs = e.select(col("u").as("a"), col("v").as("b"))
        .union(e.select(col("v").as("a"), col("u").as("b")))
      val mins = nbrs.groupBy(col("a"))
        .agg(min(col("b")).as("__nmin"))
        .select(col("a"), least(col("__nmin"), col("a")).as("m"))
      // NOT deduplicated (r12): duplicate (u, m) rows — several a's
      // linking the same pair — cannot change mins2's min and the final
      // `ss` distinct restores set semantics, so the mid-alternation
      // distinct bought one full exchange per alternation for nothing.
      val ls = nbrs.join(hint(mins), "a")
        .where(col("b") > col("a")) // b > a >= m, so u > v is preserved
        .select(col("b").as("u"), col("m").as("v"))
      // small-star: every node links its smaller neighbors AND itself to
      // the minimum of those neighbors. Input is canonical (u > v), so
      // grouping by u sees exactly the smaller neighborhood.
      val mins2 = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = ls.join(hint(mins2), "u")
        .select(col("v").as("n"), col("m"))
        .union(mins2.select(col("u").as("n"), col("m")))
        .where(col("n") =!= col("m"))
        .select(greatest(col("n"), col("m")).as("u"),
          least(col("n"), col("m")).as("v"))
        .distinct()
        .localCheckpoint(true)
      val ssSig = edgeSignature(ss)
      converged = ssSig == eSig
      CheckpointBridge.release(e) // superseded generation — free now
      e = ss
      eSig = ssSig
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"alternating connected components did not reach the star-forest " +
          s"fixpoint within maxIter=$maxIter alternations — raise maxIter " +
          "(worst case O(log^2 n) rounds)")
    // star forest: every non-root points at its root; roots (and nodes
    // that only appeared in self-loops) label themselves. At the
    // fixpoint |e| < |nodes|, so the same budget gates a broadcast here.
    val eFinal = hintIf(eSig._1 <= BroadcastBudget.Rows)(e)
    val labeled = nodes.join(eFinal, nodes("id") === eFinal("u"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("component"))
    (labeled, iter)
  }

  /** Order-independent set signature of a canonical edge set: one
    * aggregate job producing (row count, exact decimal sums of per-row
    * 64-bit hashes under TWO independent seeds). Equal signatures on two
    * DISTINCT sets certify equality up to a simultaneous collision of
    * both hash sums — the convergence probe is correctness-critical, and
    * the second seed squares the (already vanishing) collision odds for
    * one extra sum inside the same aggregate (round-5 advice).
    */
  private def edgeSignature(e: DataFrame)
      : (Long, java.math.BigDecimal, java.math.BigDecimal) = {
    val zero = lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")
    val row = e.agg(
      count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        zero).as("h"),
      coalesce(sum(xxhash64(lit(0x9e3779b97f4a7c15L), col("u"), col("v"))
        .cast("decimal(38,0)")), zero).as("h2"))
      .head()
    (row.getLong(0), row.getDecimal(1).stripTrailingZeros(),
      row.getDecimal(2).stripTrailingZeros())
  }
}
