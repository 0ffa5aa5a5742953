package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge

import graft.ops.BroadcastBudget.hintIf

/** HITS (hub/authority) scores over a directed edge list — the
  * bipartite-flavored companion to [[PageRank]]: authorities are nodes
  * pointed at by good hubs, hubs are nodes pointing at good
  * authorities. On a crawl/citation graph the authority side is the
  * standard "is this a canonical source" quality feature; on the
  * customer→supplier trade graph it separates broad buyers (hubs) from
  * widely-bought suppliers (authorities), which PageRank's single
  * score conflates.
  *
  * Same Spark-first iteration discipline as
  * [[PageRank.ranksFixedPoint]]: each half-round is ONE edge⋈score
  * equi-join + ONE node-grain aggregate, `localCheckpoint` per
  * generation with immediate release of the superseded one, so
  * executor memory holds a single generation of scores at any round
  * count — the shape that survives a 1000-executor graph.
  *
  * All arithmetic is INTEGER fixed-point (scores in `unit` units,
  * every division floored) for a FIXED iteration count, so the result
  * is bit-identical on any engine and gets a real exact-hash oracle
  * ([[fixedPointSql]] is the ANSI twin; keep in lockstep). Per
  * half-round, identically in both engines:
  * {{{
  *   araw(v) = Σ_{u→v} h(u);  A = Σ_v araw(v);  a(v) = araw(v)·unit div A
  *   hraw(u) = Σ_{u→v} a(v);  H = Σ_u hraw(u);  h(u) = hraw(u)·unit div H
  * }}}
  * The div-by-total renormalization (the classic L1 variant) keeps
  * every score ≤ unit, so `araw·unit ≤ unit²` bounds the only product
  * — `unit` = 1e9 keeps it at 1e18 < 2⁶³. Floors leak O(1) units per
  * node per round: harmless and identical across engines.
  */
object Hits {

  /** @param edges directed (src, dst) frame; parallel edges count once
    * @return (id, hub_fp, auth_fp) for every node in `edges`; each
    *         column sums to ~`unit` (minus floor leakage)
    */
  def scoresFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 3,
                       unit: Long = 1000000000L,
                       assumeDistinct: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters=$iters")
    // assumeDistinct: caller certifies distinct (src, dst) — skips the
    // canonicalizing shuffle (see PageRank.ranksFixedPoint)
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
    val e = (if (assumeDistinct) e0 else e0.distinct()).localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    val n = nodes.count()
    require(n > 0, "empty graph")
    require(n <= unit,
      s"$n nodes exceed unit=$unit: the per-node init floor would zero " +
        "out all mass (raise unit)")
    // init h = unit div n per node so Σh ≤ unit from round one — the
    // invariant the overflow bound rests on
    var hubs = nodes.withColumn("h", lit(unit / n)).localCheckpoint(true)
    var auths: DataFrame = null
    // node-grain generations fit the broadcast budget → both half-round
    // joins run map-side and neither the edge list nor the node table is
    // ever exchanged (see [[BroadcastBudget]]; the
    // checkpointed generations are stats-less LogicalRDDs the planner
    // never auto-broadcasts). Count already in hand — the gate is free.
    val hint = hintIf(n <= BroadcastBudget.Rows)
    (1 to iters).foreach { _ =>
      val prevH = hubs
      val prevA = auths
      // authority half-round: pull hub mass along edges, renormalize.
      // The L1 total rides the plan as a broadcast-joined 1-row
      // aggregate (PageRank's own discipline) instead of a driver
      // `.head()` — one job per half-round, not two. The total is
      // always ≥ 1: e is non-empty (n > 0 requires it) and every
      // generation's scores sum to ~unit, so the div is safe.
      val araw = e.join(hint(prevH.select(col("id").as("__s"), col("h"))),
          col("src") === col("__s"))
        .groupBy(col("dst")).agg(sum(col("h")).as("__araw"))
      val aTotF = araw.agg(sum(col("__araw")).as("__atot"))
      val nextA = nodes.join(hint(araw), nodes("id") === araw("dst"), "left")
        .crossJoin(broadcast(aTotF))
        .select(col("id"),
          expr(s"(coalesce(__araw, 0L) * ${unit}L) div __atot").as("a"))
        .localCheckpoint(true)
      // hub half-round: pull the NEW authority mass back, renormalize
      val hraw = e.join(hint(nextA.select(col("id").as("__d"), col("a"))),
          col("dst") === col("__d"))
        .groupBy(col("src")).agg(sum(col("a")).as("__hraw"))
      val hTotF = hraw.agg(sum(col("__hraw")).as("__htot"))
      val nextH = nodes.join(hint(hraw), nodes("id") === hraw("src"), "left")
        .crossJoin(broadcast(hTotF))
        .select(col("id"),
          expr(s"(coalesce(__hraw, 0L) * ${unit}L) div __htot").as("h"))
        .localCheckpoint(true)
      CheckpointBridge.release(prevH)
      if (prevA != null) CheckpointBridge.release(prevA)
      hubs = nextH
      auths = nextA
    }
    val out = hubs.join(hint(auths.select(col("id").as("__id2"), col("a"))),
        col("id") === col("__id2"))
      .select(col("id"), col("h").as("hub_fp"), col("a").as("auth_fp"))
    CheckpointBridge.release(e)
    CheckpointBridge.release(nodes)
    out
  }

  /** ANSI-SQL twin of [[scoresFixedPoint]] (unrolled CTE per
    * iteration); `edgesSql` must yield distinct (src, dst). Keep in
    * lockstep.
    */
  def fixedPointSql(edgesSql: String, iters: Int,
                    unit: Long = 1000000000L): String = {
    val rounds = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT e.dst AS id, sum(h.h) AS araw
         |         FROM e JOIN h${i - 1} h ON h.id = e.src GROUP BY 1),
         |a$i AS MATERIALIZED (SELECT n.id,
         |          (COALESCE(ar.araw, 0) * $unit) // (SELECT sum(araw) FROM ar$i) AS a
         |        FROM nodes n LEFT JOIN ar$i ar ON ar.id = n.id),
         |hr$i AS MATERIALIZED (SELECT e.src AS id, sum(a.a) AS hraw
         |         FROM e JOIN a$i a ON a.id = e.dst GROUP BY 1),
         |h$i AS MATERIALIZED (SELECT n.id,
         |          (COALESCE(hr.hraw, 0) * $unit) // (SELECT sum(hraw) FROM hr$i) AS h
         |        FROM nodes n LEFT JOIN hr$i hr ON hr.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($edgesSql),
       |nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
       |cnt AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |h0 AS MATERIALIZED (SELECT id, (SELECT $unit // n FROM cnt) AS h FROM nodes),
       |$rounds
       |SELECT h.id, CAST(h.h AS BIGINT) AS hub_fp, CAST(a.a AS BIGINT) AS auth_fp
       |FROM h$iters h JOIN a$iters a ON a.id = h.id ORDER BY h.id""".stripMargin
  }
}
