package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge

import graft.ops.BroadcastBudget.hintIf

/** PageRank over an edge list — the authority signal corpus pipelines
  * weight documents by (host-graph rank is a standard pretraining
  * quality feature). Same Spark-first iteration discipline as
  * [[ConnectedComponents]]: every round is one join + one aggregation,
  * both keyed on node id; `localCheckpoint` cuts lineage per round and
  * the superseded generation's blocks are released immediately, so
  * executor memory holds ONE generation of ranks regardless of round
  * count.
  *
  * Semantics (classic damped power iteration):
  *   r'(v) = (1-d)/n + d · (Σ_{u→v} r(u)/outdeg(u) + dangling/n)
  * where `dangling` is the rank mass sitting on nodes with no
  * out-edges, redistributed uniformly — without it the ranks leak mass
  * and stop summing to 1 (asserted in the spec).
  *
  * Convergence = L1 delta below `tol` (one aggregate per round —
  * computed on the SAME frame the round materializes anyway, no extra
  * shuffle); throws past `maxIter` like the CC closures rather than
  * returning half-converged ranks.
  */
object PageRank {

  /** @param edges directed (src, dst) frame; parallel edges count once
    * @param maxIter L1 delta contracts at the DAMPING rate in the worst
    *        case (a pure 2-cycle decays exactly by `d` per round), so the
    *        budget must cover ln(tol)/ln(d) ≈ 113 rounds at the defaults
    *        — well-mixed graphs stop far earlier via the delta check
    * @return (id, rank) for every node appearing in `edges`; ranks sum
    *         to 1 up to double rounding
    */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
            damping: Double = 0.85, maxIter: Int = 150,
            tol: Double = 1e-8): DataFrame = {
    require(damping > 0 && damping < 1, s"damping=$damping")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint(true)
    val n = nodes.count()
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    // out-degree joins against ranks every round — denormalize it onto
    // the node table once (null degree = dangling node)
    val base = nodes.join(outDeg, nodes("id") === outDeg("src"), "left")
      .select(col("id"), col("__deg"))
      .localCheckpoint(true)
    // checkpointed so each generation's plan is exactly ONE LogicalRDD
    // leaf: releasing a superseded generation must never unpersist the
    // shared `base`/`e` leaves that later rounds still read
    var ckpt = base.withColumn("rank", lit(1.0 / n)).localCheckpoint(true)
    // node-grain state fits the broadcast budget → per-round joins run
    // map-side and the edge/node frames are never exchanged (count
    // already in hand)
    val hint = hintIf(n <= BroadcastBudget.Rows)
    var iter = 0
    var delta = Double.MaxValue
    while (delta > tol && iter < maxIter) {
      val prev = ckpt
      val dangling = prev.where(col("__deg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0)
      val contribs = e
        .join(hint(prev.withColumnRenamed("id", "__src2")),
          col("src") === col("__src2"))
        .select(col("dst"), (col("rank") / col("__deg")).as("__c"))
        .groupBy(col("dst")).agg(sum(col("__c")).as("__in"))
      val next = base
        .join(hint(contribs), base("id") === contribs("dst"), "left")
        .select(col("id"), col("__deg"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("__in"), lit(0.0)) + lit(dangling / n)))
            .as("rank"))
        .localCheckpoint(true)
      delta = next.join(hint(prev.select(col("id").as("__id2"),
            col("rank").as("__old"))),
          col("id") === col("__id2"))
        .agg(sum(abs(col("rank") - col("__old")))).head().getDouble(0)
      CheckpointBridge.release(prev) // superseded generation — free now
      ckpt = next
      iter += 1
    }
    if (delta > tol) {
      // release the shared leaves (and the last generation) BEFORE
      // throwing — a non-converged call must not strand cached blocks
      CheckpointBridge.release(e)
      CheckpointBridge.release(nodes)
      CheckpointBridge.release(base)
      CheckpointBridge.release(ckpt)
      throw new IllegalStateException(
        s"PageRank did not converge within maxIter=$maxIter (L1 delta $delta" +
          s" > tol $tol) — half-converged ranks would silently misweight" +
          " documents; raise maxIter or tol")
    }
    CheckpointBridge.release(e)
    CheckpointBridge.release(nodes)
    CheckpointBridge.release(base)
    ckpt.select(col("id"), col("rank"))
  }

  /** Fixed-point PageRank: the same damped power iteration in INTEGER
    * arithmetic (ranks in `unit` micro-units, damping as the rational
    * `dampNum/dampDen`, every division a floor `div`) for a FIXED
    * iteration count — bit-identical on any engine, so the graph
    * family's iterate-join-aggregate shape gets a real exact-hash
    * oracle ([[fixedPointSql]] is the ANSI twin; keep in lockstep).
    * [[ranks]] (converged doubles) stays the production path; this
    * variant exists because cross-engine double fixpoints are not
    * comparable, exactly like the integer-moments trend twin
    * ([[Trend]]) replacing `regr_slope`.
    *
    * Per iteration, identically in both engines:
    * {{{
    *   contrib(u→v) = r(u) div deg(u)            (per edge, floored)
    *   D            = Σ r(u) over deg-less nodes (dangling mass)
    *   r'(v) = ((dampDen-dampNum)·unit div dampDen) div n
    *         + (dampNum · (Σ contrib(·→v) + D div n)) div dampDen
    * }}}
    * Floors leak O(1) units per node per round — harmless (and
    * identical) at `unit` = 1e12.
    *
    * Same scale shape as [[ranks]]: each round is one edge⋈rank join +
    * one dst-grain aggregate, one generation of ranks live at a time.
    */
  def ranksFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
                      iters: Int = 3, unit: Long = 1000000000000L,
                      dampNum: Long = 85L, dampDen: Long = 100L,
                      assumeDistinct: Boolean = false): DataFrame =
    // every node a seed: |S| = n and [v ∈ S] = 1, so each term of the
    // personalized round below is the uniform round's term
    fixedPointRounds(edges, srcCol, dstCol, None, iters, unit, dampNum,
      dampDen, assumeDistinct)

  /** Personalized (seeded) fixed-point PageRank — TrustRank-style
    * quality propagation: the teleport mass returns ONLY to the seed
    * set instead of uniformly, so score flows outward from trusted
    * roots and a node's rank reads "how reachable am I from quality"
    * (the standard host-quality feature when a curated whitelist
    * exists; Gyöngyi et al. 2004). Same integer arithmetic, iteration
    * shape, and overflow envelope as [[ranksFixedPoint]] — the only
    * change is the restart vector:
    * {{{
    *   r'(v) = [v ∈ S]·((dampDen−dampNum)·unit div dampDen) div |S|
    *         + (dampNum · (Σ contrib(·→v) + D div |S| · [v ∈ S])) div dampDen
    * }}}
    * (dangling mass also restarts to the seeds). Non-seed nodes with
    * no in-links go to zero — exactly the spam-demotion property the
    * uniform teleport destroys.
    */
  def ranksPersonalizedFixedPoint(edges: DataFrame, srcCol: String,
                                  dstCol: String, seeds: DataFrame,
                                  seedCol: String, iters: Int = 3,
                                  unit: Long = 1000000000000L,
                                  dampNum: Long = 85L,
                                  dampDen: Long = 100L,
                                  assumeDistinct: Boolean = false): DataFrame =
    fixedPointRounds(edges, srcCol, dstCol, Some(seeds -> seedCol), iters,
      unit, dampNum, dampDen, assumeDistinct)

  /** The rounds of [[ranksPersonalizedFixedPoint]]; `seeds = None` makes
    * every node a seed, which is [[ranksFixedPoint]].
    */
  private def fixedPointRounds(edges: DataFrame, srcCol: String,
                               dstCol: String,
                               seeds: Option[(DataFrame, String)],
                               iters: Int, unit: Long, dampNum: Long,
                               dampDen: Long,
                               assumeDistinct: Boolean): DataFrame = {
    require(iters >= 1, s"iters=$iters")
    require(dampNum > 0 && dampNum < dampDen,
      s"damping $dampNum/$dampDen out of (0,1)")
    // assumeDistinct: caller certifies the (src, dst) pairs are already
    // distinct (e.g. derived from a distinct-and-checkpointed shared
    // edge memo), so the canonicalizing shuffle is skipped — one full
    // edge exchange saved per call, the same contract style as the
    // maxDegree caps (guide §2.4: remove shuffles outright)
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
    val e = (if (assumeDistinct) e0 else e0.distinct()).localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    val withDeg = nodes.join(deg, nodes("id") === deg("src"), "left")
      .select(nodes("id"), col("__deg"))
    val base = (seeds match {
      case Some((seedDf, seedCol)) =>
        val seedSet = seedDf.select(col(seedCol).cast("long").as("__sid"))
          .distinct()
        withDeg.join(seedSet.withColumn("__seed", lit(1L)),
            col("id") === col("__sid"), "left")
          .select(col("id"), col("__deg"),
            coalesce(col("__seed"), lit(0L)).as("__seed"))
      case None => withDeg.withColumn("__seed", lit(1L))
    }).localCheckpoint(true)
    // one aggregate row carries BOTH the seed count and the node count
    // (the node count gates the broadcast rounds below — no extra job)
    val seedRow = base.agg(coalesce(sum(col("__seed")), lit(0L)),
      count(lit(1))).head()
    val nSeeds = seedRow.getLong(0)
    val n = seedRow.getLong(1)
    if (seeds.isEmpty) require(n > 0, "empty graph")
    if (nSeeds == 0) {
      // no seed intersects the graph → zero trust everywhere. Return
      // the empty frame rather than throwing: a throwing query builder
      // poisons every all-query sweep (the r6 as-of lesson), and small
      // fixtures legitimately miss a seed cohort.
      CheckpointBridge.release(e)
      CheckpointBridge.release(base)
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      return edges.sparkSession.createDataFrame(
        edges.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("id", LongType),
          StructField("rank_fp", LongType))))
    }
    val basePart = ((dampDen - dampNum) * unit / dampDen) / nSeeds
    var cur = base.withColumn("rank",
        col("__seed") * lit(unit / nSeeds)).localCheckpoint(true)
    val hint = hintIf(n <= BroadcastBudget.Rows)
    (1 to iters).foreach { _ =>
      val prev = cur
      val dangPerSeed = prev.where(col("__deg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0L))).head().getLong(0) / nSeeds
      val contribs = e
        .join(hint(prev.select(col("id").as("__s"), col("rank"), col("__deg"))),
          col("src") === col("__s"))
        .select(col("dst"), expr("rank div __deg").as("__c"))
        .groupBy(col("dst")).agg(sum(col("__c")).as("__in"))
      cur = base.join(hint(contribs), base("id") === contribs("dst"), "left")
        .select(col("id"), col("__deg"), col("__seed"),
          (col("__seed") * lit(basePart) + expr(
            s"(${dampNum}L * (coalesce(__in, 0L)" +
              s" + __seed * ${dangPerSeed}L)) div ${dampDen}L"))
            .as("rank"))
        .localCheckpoint(true)
      CheckpointBridge.release(prev)
    }
    CheckpointBridge.release(e)
    CheckpointBridge.release(base)
    cur.select(col("id"), col("rank").as("rank_fp"))
  }

  /** ANSI-SQL twin of [[ranksPersonalizedFixedPoint]]; `edgesSql`
    * yields distinct (src, dst), `seedsSql` yields (id). Keep in
    * lockstep — including the zero-seed edge: the final select is
    * guarded by `ns > 0`, so when no seed intersects the graph both
    * engines return zero rows (the Scala side's empty-frame early
    * return) instead of the twin erroring on `x // 0`.
    */
  def personalizedFixedPointSql(edgesSql: String, seedsSql: String,
                                iters: Int,
                                unit: Long = 1000000000000L,
                                dampNum: Long = 85L,
                                dampDen: Long = 100L): String = {
    val rounds = (1 to iters).map { i =>
      s"""d$i AS MATERIALIZED (SELECT COALESCE(sum(rank), 0) // (SELECT ns FROM scnt) AS dps
         |        FROM r${i - 1} WHERE deg IS NULL),
         |c$i AS MATERIALIZED (SELECT e.dst AS id, sum(r.rank // r.deg) AS insum
         |        FROM e JOIN r${i - 1} r ON r.id = e.src GROUP BY 1),
         |r$i AS MATERIALIZED (SELECT b.id, b.deg, b.seed,
         |          b.seed * ((($dampDen - $dampNum) * $unit // $dampDen) // (SELECT ns FROM scnt))
         |          + ($dampNum * (COALESCE(c.insum, 0)
         |                         + b.seed * (SELECT dps FROM d$i))) // $dampDen AS rank
         |        FROM base b LEFT JOIN c$i c ON c.id = b.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($edgesSql),
       |nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
       |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
       |sd AS MATERIALIZED (SELECT DISTINCT id FROM ($seedsSql)),
       |base AS MATERIALIZED (
       |  SELECT n.id, d.deg,
       |         CASE WHEN sd.id IS NOT NULL THEN 1 ELSE 0 END AS seed
       |  FROM nodes n LEFT JOIN deg d ON d.src = n.id
       |  LEFT JOIN sd ON sd.id = n.id
       |),
       |scnt AS MATERIALIZED (SELECT CAST(sum(seed) AS BIGINT) AS ns FROM base),
       |r0 AS MATERIALIZED (SELECT id, deg, seed,
       |              seed * (SELECT $unit // ns FROM scnt) AS rank FROM base),
       |$rounds
       |SELECT id, CAST(rank AS BIGINT) AS rank_fp FROM r$iters
       |WHERE (SELECT ns FROM scnt) > 0 ORDER BY id""".stripMargin
  }

  /** ANSI-SQL twin of [[ranksFixedPoint]] (unrolled CTE per iteration);
    * `edgesSql` must yield distinct (src, dst). Keep in lockstep.
    */
  def fixedPointSql(edgesSql: String, iters: Int,
                    unit: Long = 1000000000000L, dampNum: Long = 85L,
                    dampDen: Long = 100L): String = {
    val rounds = (1 to iters).map { i =>
      s"""d$i AS MATERIALIZED (SELECT COALESCE(sum(rank), 0) AS dang FROM r${i - 1} WHERE deg IS NULL),
         |c$i AS MATERIALIZED (SELECT e.dst AS id, sum(r.rank // r.deg) AS insum
         |        FROM e JOIN r${i - 1} r ON r.id = e.src GROUP BY 1),
         |r$i AS MATERIALIZED (SELECT b.id, b.deg,
         |          ((($dampDen - $dampNum) * $unit // $dampDen) // (SELECT n FROM cnt))
         |          + ($dampNum * (COALESCE(c.insum, 0)
         |                         + ((SELECT dang FROM d$i) // (SELECT n FROM cnt)))) // $dampDen AS rank
         |        FROM base b LEFT JOIN c$i c ON c.id = b.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($edgesSql),
       |nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
       |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
       |base AS MATERIALIZED (SELECT n.id, d.deg FROM nodes n LEFT JOIN deg d ON d.src = n.id),
       |cnt AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |r0 AS MATERIALIZED (SELECT b.id, b.deg, (SELECT $unit // n FROM cnt) AS rank FROM base b),
       |$rounds
       |SELECT id, CAST(rank AS BIGINT) AS rank_fp FROM r$iters ORDER BY id""".stripMargin
  }
}
