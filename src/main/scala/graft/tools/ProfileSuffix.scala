package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only profiling harness (not part of the driver contract, never
  * invoked by Bench/Verify): splits suffix_dup_positions' cost into
  * build / adjacentLcp / final query. Both optimization rounds (r12,
  * r13) drove their suffix decisions from this harness — it stays
  * because the suffix family remains the most expensive surface and
  * the next round will need the same measurements (r12 ADVICE asked
  * to move/delete it; kept, documented, since the repo has no separate
  * dev source set and the main is ~50 lines with zero production
  * callers).
  */
object ProfileSuffix {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession()
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    // warmup
    graft.SparkEntry.queries("staging_events_monthly")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

    for (pass <- 1 to 2) {
      println(s"== pass $pass ==")
      graft.Memos.clearAll()
      val raw = graft.Tables.load(spark, sfDir, "documents")
      val want = spark.sparkContext.defaultParallelism
      val docs = if (raw.rdd.getNumPartitions < want) raw.repartition(want) else raw
      val res = timed("build (seq+rounds)") {
        graft.llm.SuffixArray.build(docs, "doc_id", "text")
      }
      println(s"[profile] n=${res.n} levels=${res.levels.size}")
      val lcp = timed("adjacentLcp") {
        val l = graft.llm.SuffixArray.adjacentLcp(res)
        l.count(); l
      }
      timed("dupPositions+final") {
        graft.llm.SuffixArray.dupPositionsFrom(res, lcp, "doc_id", w = 5)
          .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_w_pos"))
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
