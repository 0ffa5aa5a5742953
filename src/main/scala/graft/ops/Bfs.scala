package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge

import graft.ops.BroadcastBudget.hintIf

/** Multi-source BFS depth — "how many hops is every node from this
  * seed set": crawl-frontier depth from trusted roots, influence
  * radius of a supplier cohort, blast radius of a bad-data source.
  * With depths in hand, "within k hops" is a filter, and a
  * TrustRank-style weighting is a map — this is the reachability
  * primitive [[ConnectedComponents]] (any-path) and [[PageRank]]
  * (stationary mass) both skip.
  *
  * Frontier-expansion iteration in the same Spark-first shape as the
  * rest of the graph family: each round joins the CURRENT FRONTIER
  * (not the full vertex set) against the edge list, anti-joins out
  * already-visited nodes, and checkpoints one generation at a time.
  * Work per round is O(frontier-adjacent edges) — the textbook
  * distributed BFS; `maxDepth` bounds the rounds, and unreached nodes
  * are simply absent from the output (their depth is not ∞ but
  * "unknown at this budget", which is what a bounded crawl means).
  */
object Bfs {

  /** @param edges directed (src, dst); traversal follows edge direction
    * @param seeds one column of seed node ids (depth 0)
    * @return (id, depth) for every node reachable within `maxDepth`
    */
  def depths(edges: DataFrame, srcCol: String, dstCol: String,
             seeds: DataFrame, seedCol: String, maxDepth: Int,
             assumeDistinct: Boolean = false): DataFrame = {
    require(maxDepth >= 0, s"maxDepth=$maxDepth")
    // assumeDistinct: caller certifies distinct (src, dst) — skips the
    // canonicalizing shuffle (see PageRank.ranksFixedPoint). Duplicate
    // edges would not change BFS results anyway, only frontier sizes.
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val e = (if (assumeDistinct) e0 else e0.distinct()).localCheckpoint(true)
    var visited = seeds.select(col(seedCol).cast("long").as("id")).distinct()
      .withColumn("depth", lit(0L)).localCheckpoint(true)
    var frontier = visited
    // full counts on the checkpointed generations replace the limit(1)
    // existence probe: same per-round job cost (a count over cached
    // node-grain blocks), and the counts gate EXPLICIT broadcasts of the
    // frontier (edge join) and visited set (anti-join) — checkpointed
    // generations are stats-less, so without the hint every round
    // sort-merges the edge list (see [[BroadcastBudget]])
    var frontierCount = frontier.count()
    var visitedCount = frontierCount
    var d = 0L
    while (d < maxDepth && frontierCount > 0) {
      d += 1
      val prevVisited = visited
      val prevFrontier = frontier
      val next = e.join(
          hintIf(frontierCount <= BroadcastBudget.Rows)(
            prevFrontier.select(col("id").as("__f"))),
          col("src") === col("__f"))
        .select(col("dst").as("id")).distinct()
        .join(hintIf(visitedCount <= BroadcastBudget.Rows)(
            prevVisited.select(col("id").as("__v"))),
          col("id") === col("__v"), "left_anti")
        .withColumn("depth", lit(d))
        .localCheckpoint(true)
      visited = prevVisited.unionByName(next).localCheckpoint(true)
      CheckpointBridge.release(prevVisited)
      if (d > 1) CheckpointBridge.release(prevFrontier)
      frontier = next
      frontierCount = frontier.count()
      visitedCount += frontierCount
    }
    CheckpointBridge.release(e)
    // the final frontier is already unioned into `visited` — release it
    // (unless the loop never advanced, in which case frontier IS the
    // seed checkpoint that `visited` still aliases) so one invocation
    // leaves exactly one cached generation behind, not two
    if (!(frontier eq visited)) CheckpointBridge.release(frontier)
    visited
  }

  /** ANSI-SQL twin of [[depths]] (unrolled frontier per round);
    * `edgesSql` yields (src, dst), `seedsSql` yields (id). Keep in
    * lockstep.
    */
  def depthsSql(edgesSql: String, seedsSql: String, maxDepth: Int): String = {
    val rounds = (1 to maxDepth).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS id FROM e JOIN f${i - 1} f ON e.src = f.id
         |  WHERE e.dst NOT IN (SELECT id FROM v${i - 1})
         |),
         |v$i AS MATERIALIZED (
         |  SELECT id, depth FROM v${i - 1}
         |  UNION ALL SELECT id, $i AS depth FROM f$i
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ($edgesSql)),
       |f0 AS MATERIALIZED (SELECT DISTINCT id FROM ($seedsSql)),
       |v0 AS MATERIALIZED (SELECT id, 0 AS depth FROM f0),
       |$rounds
       |SELECT id, CAST(depth AS BIGINT) AS depth
       |FROM v$maxDepth ORDER BY id""".stripMargin
  }
}
