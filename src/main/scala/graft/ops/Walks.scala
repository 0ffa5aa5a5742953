package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge

import graft.ops.BroadcastBudget.hintIf

/** Deterministic "random" walks over a graph — the corpus generator for
  * DeepWalk/node2vec-style graph embeddings (Perozzi et al. 2014): a
  * walk per seed node, each step moving to a pseudo-uniformly chosen
  * neighbor. The choice is the ARGMIN of a 60-bit md5 over
  * `(step, current, neighbor)` — hash-uniform across neighbors yet
  * fully deterministic, so the emitted corpus is reproducible across
  * runs AND exactly twin-checkable in SQL (the same md5 prefix idiom
  * every hash family in this repo shares; a seeded RNG would be
  * engine-private state no oracle could replay).
  *
  * Scale shape is the BFS frontier discipline: one active row per
  * walk, per step one edge equi-join (fan-out bounded by degree), one
  * walk-grain argmin (`min(struct(h, next))`), checkpoint per step
  * with the previous generation released. Walks at a dead end (no
  * out-edge) simply stop emitting. Steps are sequential by nature —
  * the walk count is the parallelism, exactly like the real workload
  * (millions of walks, single-digit steps).
  */
object Walks {

  /** @param edges directed edges (symmetrize upstream for undirected
    *        semantics); parallel edges count once
    * @param seeds one walk per row; `idCol` is both the start node and
    *        the walk id (callers wanting several walks per node offset
    *        ids upstream)
    * @return `walk_id, step, node` — step 0 is the seed itself;
    *         a walk that hits a sink stops early
    */
  def walks(edges: DataFrame, srcCol: String, dstCol: String,
            seeds: DataFrame, idCol: String, steps: Int,
            assumeDistinct: Boolean = false): DataFrame = {
    require(steps >= 1, s"steps=$steps")
    // assumeDistinct: duplicate edges would CHANGE walk selection (the
    // deterministic next-hop hash ranks neighbor multiset), so the
    // distinct is semantics here — only skip when the caller certifies
    // the input is already a set (see PageRank.ranksFixedPoint)
    val e0 = edges.select(col(srcCol).cast("long").as("__u"),
        col(dstCol).cast("long").as("__v"))
    val e = (if (assumeDistinct) e0 else e0.distinct())
      .localCheckpoint(true)
    var cur = seeds.select(col(idCol).cast("long").as("walk_id"))
      .distinct()
      .withColumn("node", col("walk_id"))
      .localCheckpoint(true)
    // the walk frontier is ≤ one row per seed and only ever shrinks
    // (dead ends stop emitting) — under the budget every step's edge
    // join broadcasts the frontier, so the edge list is never exchanged
    // (see [[BroadcastBudget]]; the count reads the
    // checkpointed seed blocks once)
    val hint = hintIf(cur.count() <= BroadcastBudget.Rows)
    // emitted rows fold into a checkpointed accumulator each round so a
    // generation's blocks can be released the moment the accumulator has
    // materialized its copy (releasing while the final union still reads
    // them loses the blocks — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    var acc = cur.select(col("walk_id"), lit(0L).as("step"), col("node"))
      .localCheckpoint(true)
    (1 to steps).foreach { s =>
      val prev = cur
      val prevAcc = acc
      val cand = hint(cur).join(e, col("node") === col("__u"))
        .withColumn("__h",
          conv(substring(md5(concat_ws(":",
            lit(s), col("node"), col("__v"))), 1, 15), 16, 10)
            .cast("long"))
      cur = cand.groupBy(col("walk_id"))
        .agg(min(struct(col("__h"), col("__v"))).as("__w"))
        .select(col("walk_id"), col("__w.__v").as("node"))
        .localCheckpoint(true)
      acc = prevAcc
        .unionByName(cur.select(col("walk_id"), lit(s.toLong).as("step"),
          col("node")))
        .localCheckpoint(true)
      CheckpointBridge.release(prevAcc)
      CheckpointBridge.release(prev)
    }
    CheckpointBridge.release(cur)
    CheckpointBridge.release(e)
    acc
  }

  /** ANSI-SQL twin of [[walks]] (unrolled CTE per step); `edgesSql`
    * must yield (src, dst), `seedsSql` one `id` column. Keep in
    * lockstep.
    */
  def walksSql(edgesSql: String, seedsSql: String, steps: Int): String = {
    val rounds = (1 to steps).map { s =>
      s"""w$s AS MATERIALIZED (
         |  SELECT walk_id, node FROM (
         |    SELECT c.walk_id, e.dst AS node,
         |           row_number() OVER (PARTITION BY c.walk_id
         |             ORDER BY ('0x' || substr(md5($s || ':' || c.node || ':' || e.dst), 1, 15))::BIGINT,
         |                      e.dst) AS rn
         |    FROM w${s - 1} c JOIN e ON e.src = c.node)
         |  WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    val emits = (0 to steps).map { s =>
      s"SELECT walk_id, CAST($s AS BIGINT) AS step, node FROM w$s"
    }.mkString("\nUNION ALL\n")
    s"""WITH raw AS MATERIALIZED ($edgesSql),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw),
       |w0 AS MATERIALIZED (
       |  SELECT DISTINCT CAST(id AS BIGINT) AS walk_id,
       |         CAST(id AS BIGINT) AS node
       |  FROM ($seedsSql)
       |),
       |$rounds
       |$emits
       |ORDER BY walk_id, step""".stripMargin
  }
}
