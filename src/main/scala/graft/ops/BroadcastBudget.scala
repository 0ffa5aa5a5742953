package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The one broadcast budget of the iterative operators (suffix doubling
  * and its LCP lift, the CC closures, PageRank/TrustRank/HITS, LPA, BFS,
  * walks): at or below [[Rows]] rows a round's state table joins via an
  * EXPLICIT broadcast instead of exchanging the row-grain frames it
  * meets (r13; guide §3.1). Per-round state is checkpointed, and a
  * checkpoint is a LogicalRDD leaf with no stats, so the planner never
  * auto-broadcasts it and every round would otherwise pay sort-merge
  * exchanges of frames known driver-side to be tiny.
  *
  * An ABSOLUTE budget (~16–32 MB of long pairs at 2^20 rows, far under
  * the 8 GB relation cap), not a scale tune: the gating count is already
  * in hand driver-side, so the switch costs no extra job, fires exactly
  * when the state is executor-small, and corpus-scale rounds keep the
  * shuffle path unchanged.
  */
object BroadcastBudget {
  val Rows: Long = 1L << 20

  def hintIf(small: Boolean): DataFrame => DataFrame =
    if (small) broadcast(_) else identity
}
