package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge

import graft.ops.BroadcastBudget.hintIf

/** Label-propagation community detection — the cheap, near-linear
  * community pass (Raghavan et al. 2007) that groups a host/citation
  * graph into densely-connected regions; on corpus pipelines it is the
  * standard "same community of sites" feature next to PageRank's
  * authority and [[KCore]]'s density. [[ConnectedComponents]] answers
  * "reachable at all"; label propagation answers "densely attached",
  * which splits a connected graph into meaningful parts.
  *
  * This is the SYNCHRONOUS, deterministic variant: every node starts
  * as its own label; each round, every node simultaneously adopts the
  * label most frequent among its neighbors, ties broken to the
  * SMALLEST label; a fixed `iters` rounds (classic async LPA converges
  * faster but its result depends on visit order — useless as a
  * contract, impossible to oracle). Determinism means the unrolled SQL
  * twin ([[labelPropagationSql]]) reproduces the labels bit-for-bit.
  *
  * Scale shape: identical to [[PageRank]] — each round is one
  * edge⋈label equi-join, one (node, label)-grain count, one per-node
  * argmax window at label-candidate grain (bounded by degree, never
  * all nodes in one partition); `localCheckpoint` per generation with
  * immediate release, one generation live at a time.
  */
object Communities {

  /** @param edges undirected input, one row per edge (symmetrized
    *        internally; self-loops dropped; parallel edges count once)
    * @return (id, label) — nodes sharing a label after `iters`
    *         synchronous rounds
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 3,
                       assumeCanonical: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters=$iters")
    val raw = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // assumeCanonical: caller certifies the input is distinct,
    // self-loop-free, and direction-disjoint (src/dst key spaces never
    // overlap, e.g. offset supplier ids), so the symmetrized union has
    // no duplicates or loops by construction and the canonicalizing
    // where+distinct shuffle is skipped
    val sym0 = raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
    val sym = (if (assumeCanonical) sym0
               else sym0.where(col("src") =!= col("dst")).distinct())
      .localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    // one cheap count on the checkpointed node table gates the broadcast
    // rounds (see [[BroadcastBudget]]: checkpointed label
    // generations are stats-less, so the planner never auto-broadcasts
    // them and each round would sort-merge the full edge list)
    val hint = hintIf(labels.count() <= BroadcastBudget.Rows)
    (1 to iters).foreach { _ =>
      val prev = labels
      val counts = sym
        .join(hint(prev.select(col("id").as("__s"), col("label"))),
          col("dst") === col("__s"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("__c"))
      // argmax as min(struct(−count, label)): identical to the previous
      // row_number() OVER (PARTITION BY src ORDER BY __c DESC, label)
      // = 1 selection, but the aggregate PARTIAL-combines map-side, so
      // the exchange carries ~one row per node instead of one row per
      // (node, candidate label) — and the per-partition window sort
      // disappears (guide §2.3 aggregate-before-shuffle)
      labels = counts
        .groupBy(col("src"))
        .agg(min(struct((-col("__c")).as("nc"), col("label").as("l")))
          .as("__w"))
        .select(col("src").as("id"), col("__w.l").as("label"))
        .localCheckpoint(true)
      CheckpointBridge.release(prev)
    }
    CheckpointBridge.release(sym)
    labels
  }

  /** Exact-integer modularity decomposition of the labeling
    * [[labelPropagation]] produces after `iters` rounds — the standard
    * "did the communities actually capture density?" eval (Newman 2006).
    * With E = |directed symmetrized edges| = 2m, per community c:
    * `q_num_part = E·intra_dir_c − degree_sum_c²`, so the global
    * modularity is exactly `Σ q_num_part / E²` — every reported column
    * is a BIGINT (E up to ~3e9 before int64 overflow in E·intra_dir;
    * nine decades above the bench graph), the float is left to the
    * reader. Shapes: the same symmetrize/distinct build, two label
    * equi-joins at edge grain, one label-grain aggregate, and a 1-row
    * total broadcast — nothing beyond the LPA pass itself.
    *
    * @return `label, n_nodes, intra_pairs, degree_sum, q_num_part`
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 iters: Int = 3): DataFrame =
    modularityOf(edges, srcCol, dstCol,
      labelPropagation(edges, srcCol, dstCol, iters))

  /** [[modularity]] over a precomputed `(id, label)` labeling — callers
    * that already ran [[labelPropagation]] (or any other labeler: CC,
    * k-core shells) score it without paying the rounds again.
    */
  def modularityOf(edges: DataFrame, srcCol: String, dstCol: String,
                   labels: DataFrame,
                   assumeCanonical: Boolean = false): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // assumeCanonical: see labelPropagation
    val sym0 = raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
    val sym = (if (assumeCanonical) sym0
               else sym0.where(col("src") =!= col("dst")).distinct())
      .localCheckpoint(true)
    val tot = sym.agg(count(lit(1)).as("__E"))
    // the labeling is node-grain and typically a checkpointed frame with
    // no stats — under the node budget both edge⋈label joins broadcast
    // instead of exchanging the symmetrized edge list twice (the gate
    // count reads the checkpointed sym blocks: one cheap job)
    val hint = hintIf(sym.count() <= 2 * BroadcastBudget.Rows)
    val joined = sym
      .join(hint(labels.select(col("id").as("src"), col("label").as("__lsrc"))), Seq("src"))
      .join(hint(labels.select(col("id").as("dst"), col("label").as("__ldst"))), Seq("dst"))
    val perC = joined.groupBy(col("__lsrc").as("label"))
      .agg(count(lit(1)).as("degree_sum"),
        sum(when(col("__lsrc") === col("__ldst"), 1L).otherwise(0L))
          .as("__intra_dir"))
    val nNodes = labels.groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
    perC.join(hint(nNodes), Seq("label")).crossJoin(broadcast(tot))
      .select(col("label"), col("n_nodes"),
        // symmetric table ⇒ intra_dir is even; div keeps it BIGINT
        expr("__intra_dir div 2").as("intra_pairs"),
        col("degree_sum"),
        (col("__E") * col("__intra_dir") -
          col("degree_sum") * col("degree_sum")).as("q_num_part"))
  }

  /** Shared unrolled-CTE chain for the SQL twins, ending at
    * `l<iters>(id, label)` over `e(src, dst)`. `AS MATERIALIZED`
    * everywhere: DuckDB inlines multi-referenced CTEs, which turns an
    * unrolled fixed point multiplicative.
    */
  private def lpCtes(edgesSql: String, iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT e.src, l.label, count(*) AS c
         |  FROM e JOIN l${i - 1} l ON l.id = e.dst GROUP BY 1, 2
         |),
         |l$i AS MATERIALIZED (
         |  SELECT src AS id, label FROM (
         |    SELECT src, label,
         |           row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rn
         |    FROM c$i) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""raw AS MATERIALIZED ($edgesSql),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw)
       |  WHERE src <> dst
       |),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM e),
       |$rounds""".stripMargin
  }

  /** ANSI-SQL twin of [[labelPropagation]] (unrolled CTE per round);
    * `edgesSql` must yield (src, dst). Keep in lockstep.
    */
  def labelPropagationSql(edgesSql: String, iters: Int): String =
    s"""WITH ${lpCtes(edgesSql, iters)}
       |SELECT id, CAST(label AS BIGINT) AS label
       |FROM l$iters ORDER BY id""".stripMargin

  /** ANSI-SQL twin of [[modularity]]. Keep in lockstep. */
  def modularitySql(edgesSql: String, iters: Int): String =
    s"""WITH ${lpCtes(edgesSql, iters)},
       |lab AS MATERIALIZED (SELECT id, label FROM l$iters),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS E FROM e),
       |j AS (
       |  SELECT a.label AS lsrc, b.label AS ldst
       |  FROM e JOIN lab a ON a.id = e.src JOIN lab b ON b.id = e.dst
       |), perc AS (
       |  SELECT lsrc AS label, CAST(count(*) AS BIGINT) AS degree_sum,
       |         CAST(sum(CASE WHEN lsrc = ldst THEN 1 ELSE 0 END) AS BIGINT)
       |           AS intra_dir
       |  FROM j GROUP BY 1
       |), nn AS (
       |  SELECT label, CAST(count(*) AS BIGINT) AS n_nodes FROM lab GROUP BY 1
       |)
       |SELECT p.label, nn.n_nodes, p.intra_dir // 2 AS intra_pairs,
       |       p.degree_sum,
       |       (SELECT E FROM tot) * p.intra_dir -
       |         p.degree_sum * p.degree_sum AS q_num_part
       |FROM perc p JOIN nn USING (label)
       |ORDER BY p.label""".stripMargin
}
