package graft.pdq

import java.io.IOException
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Casts
import graft.sinks.{Idempotent, Upsert}
import graft.sources.{Dsv, RawStore}

/** The reference's whole DAG as library calls (entry point A,
  * SURVEY.md §3.1): extract `.dsv` → raw JSON layer → typed staging →
  * curated star → DQ gates, all month-sliced and idempotent.
  *
  * Orchestration-level mapping (X2): Airflow task boundaries become
  * function boundaries inside one SparkSession, and the DAG's fan-out
  * becomes Spark actions submitted concurrently from the driver
  * ([[runMonth]]). Every layer write replaces a month slice, so re-running
  * a month is the same delete-slice-then-insert the reference does with
  * psycopg2 + JDBC appends (dags/pdq_etl_dag.py:514-516;
  * transform_operator.py:16-31).
  */
object Pipeline {

  /** DQ gate results (X4): the caller decides throw-vs-log. */
  case class DqReport(
      negativeOperator: Long, negativeLease: Long,
      duplicateOperatorKeys: Long, duplicateLeaseKeys: Long,
      rollupMismatches: Long)

  private val Measures = Seq("oil_bbl", "gas_mcf", "cond_bbl", "csgd_mcf")

  /** Extract a `.dsv` into the raw layer: all-string read with null-token
    * normalization (S1/S2/P10), month-key derivation over the naming
    * variants (P8), validity floor (P4), JSON-encode (S6), idempotent
    * month-slice write (S7; a month absent from the export empties the
    * slice). Mirrors dags/pdq_etl_dag.py:183-249.
    */
  def extract(spark: SparkSession, dsvPath: String, schemaCols: Seq[String],
              rawPath: String, yyyymm: Int): Unit = {
    val src = Dsv.read(spark, dsvPath, schemaCols)
    def c(name: String) =
      if (src.columns.contains(name)) col(name) else lit(null).cast("string")
    val withMonth = src.withColumn("__yyyymm",
      Casts.yyyymmFromVariants(c("CYCLE_YEAR_MONTH"), c("CYCLE_YEAR_MONTH_NO"),
        c("CYCLE_YR_MO"), c("CYCLE_YEAR"), c("CYCLE_MONTH")))
    val sliced = withMonth
      .where(Casts.validMonth(col("__yyyymm")) && col("__yyyymm") === yyyymm)
      .withColumnRenamed("__yyyymm", "yyyymm")
    writeMonth(RawStore.encode(sliced), rawPath, yyyymm)
  }

  /** SCD1 upsert of a dimension path (S8, model_curated.py:72-101 as a
    * file-sink merge). "First load" is decided by an explicit
    * path-existence probe, NOT by catching the read exception: a transient
    * IO/permission/corruption error while reading an EXISTING dim must
    * propagate — treating it as first-load would overwrite the path with
    * only the incoming rows and silently discard everything previously
    * merged (round-2 advice).
    *
    * A first load writes `df` to the path. A merge reads the dim with
    * `df`'s schema (no footer-inference job) and writes the merged rows
    * to the hidden sibling `.<name>.next`, then deletes the dim and renames
    * the sibling into its place, so the old files stay until the merged
    * ones are complete. A swap cut between its delete and its rename
    * leaves a complete sibling (`_SUCCESS`) and no dim; the next call
    * promotes that sibling first, instead of taking the missing dim for a
    * first load and losing its rows. A sibling without `_SUCCESS` is an
    * unfinished merge write: ignored, and overwritten by the next merge.
    */
  def upsertDim(spark: SparkSession, df: DataFrame, keys: Seq[String],
                path: String): Unit = {
    val dim = new Path(path)
    val fs = dim.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = new Path(dim.getParent, s".${dim.getName}.next")
    def swapIn(): Unit =
      if (!fs.rename(next, dim)) throw new IOException(s"cannot rename $next to $dim")
    if (!fs.exists(dim) && fs.exists(new Path(next, "_SUCCESS"))) swapIn()
    if (!fs.exists(dim)) df.write.mode("overwrite").parquet(path) // first load
    else {
      Upsert.merge(spark.read.schema(df.schema).parquet(path), df, keys)
        .write.mode("overwrite").parquet(next.toString)
      fs.delete(dim, true)
      swapIn()
    }
  }

  /** Run one month end-to-end from two `.dsv` exports into a parquet
    * warehouse laid out as `raw_* / staging_* / dim_* / fact_*`, and
    * return the DQ gate counts.
    *
    * The month runs as the reference DAG's two stages, each stage's
    * independent Spark actions submitted at once from the driver:
    *  1. the operator and the lease branch side by side, each extract →
    *     raw re-read → cached monthly frame → staging write;
    *  2. once both have filled their caches, the four dim upserts, the two
    *     fact writes and the DQ count action together.
    *
    * A `yyyymm` below the extract floor (200001) or with a month outside
    * 1..12 throws `IllegalArgumentException` before anything is written.
    */
  def runMonth(spark: SparkSession, operatorDsv: String, leaseDsv: String,
               warehouse: String, yyyymm: Int): DqReport = {
    require(yyyymm >= 200001 && (1 to 12).contains(yyyymm % 100),
      s"yyyymm=$yyyymm is not a month at or after 200001")
    // the monthly frames cached so far, dropped however the month ends
    val cached = new ConcurrentLinkedQueue[DataFrame]
    /** Extract (extract_raw_*) and transform (spark_transform_*) one
      * source; the counts-only DQ gate (non-negativity) rides the staging
      * write.
      */
    def branch(dsv: String, fields: Seq[String], name: String)(
        monthly: DataFrame => DataFrame): () => (DataFrame, Observation) = () => {
      extract(spark, dsv, fields, s"$warehouse/raw_$name", yyyymm)
      val raw = spark.read.schema(RawStore.Schema).parquet(s"$warehouse/raw_$name")
        .where(col("yyyymm") === yyyymm)
      val m = monthly(raw).cache()
      cached.add(m)
      val (staged, obs) = Dq.observedMetrics(m, Nil, Measures)
      writeMonth(staged, s"$warehouse/staging_$name", yyyymm)
      (m, obs)
    }
    try {
      val Seq((opMonthly, opObs), (leaseMonthly, leaseObs)) = concurrently(Seq(
        branch(operatorDsv, Staging.OperatorRawFields :+ "CYCLE_YEAR_MONTH_NO", "operator")(
          Staging.operatorMonthly(_, Some(yyyymm))),
        branch(leaseDsv, Staging.LeaseRawFields, "lease")(raw =>
          Staging.leaseMonthly(Staging.leaseWide(raw, Some(yyyymm))))))

      // model curated (spark_model_curated) beside the DQ gates
      // (dq_non_negative, dq_uniques, dq_rollup_log)
      def write(f: => Unit): () => Seq[Long] = () => { f; Nil }
      val Seq(dupOp, dupLease, mismatches) = concurrently(Seq(
        write(upsertDim(spark, Curated.dimOperator(opMonthly), Seq("operator_no"), s"$warehouse/dim_operator")),
        write(upsertDim(spark, Curated.dimDistrict(leaseMonthly), Seq("district_no"), s"$warehouse/dim_district")),
        write(upsertDim(spark, Curated.dimField(leaseMonthly), Seq("field_no"), s"$warehouse/dim_field")),
        write(upsertDim(spark, Curated.dimLease(leaseMonthly), Seq("lease_key"), s"$warehouse/dim_lease")),
        write(writeMonth(Curated.factOperatorMonthly(opMonthly),
          s"$warehouse/fact_operator_monthly", yyyymm)),
        write(writeMonth(Curated.factLeaseMonthly(leaseMonthly),
          s"$warehouse/fact_lease_monthly", yyyymm)),
        () => Dq.counts(Seq(
          Dq.duplicateKeys(opMonthly, Seq("operator_no", "yyyymm")),
          Dq.duplicateKeys(leaseMonthly, Seq("lease_key", "yyyymm")),
          Dq.reconcile(
            opMonthly.select(col("operator_no") +: Measures.map(col): _*),
            leaseMonthly.select(col("operator_no") +: Measures.map(col): _*),
            "operator_no", Measures, tol = 0.5, checkType = "operator_vs_lease"))))).last
      def negatives(obs: Observation) = obs.get("n_negative").asInstanceOf[Long]
      DqReport(negatives(opObs), negatives(leaseObs), dupOp, dupLease, mismatches)
    } finally cached.asScala.foreach(_.unpersist())
  }

  /** [[Idempotent.writeMonthSlice]] of month `yyyymm` that also replaces
    * the month when `df` is empty. A dynamic overwrite replaces only the
    * months it writes rows for, so an empty write would leave the old
    * slice in place; here that slice is deleted instead, as the
    * reference deletes a month before it inserts. The row count is
    * observed on the write, so it costs no job.
    */
  private def writeMonth(df: DataFrame, path: String, yyyymm: Int): Unit = {
    val rows = Observation()
    Idempotent.writeMonthSlice(df.observe(rows, count(lit(1)).as("n")), path)
    if (rows.get("n") == 0L) {
      val slice = new Path(path, s"yyyymm=$yyyymm")
      slice.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).delete(slice, true)
    }
  }

  /** Runs `thunks` at once, one thread each, and returns their results in
    * order. The pool is made per call and its threads by the calling
    * thread, so they inherit its active session and SparkContext local
    * properties. Every thunk is waited for before the first failure (in
    * thunk order) is rethrown as the thunk threw it, so no job outlives
    * the call.
    */
  private def concurrently[A](thunks: Seq[() => A]): Seq[A] = {
    val n = new AtomicInteger
    val pool = Executors.newFixedThreadPool(thunks.size,
      (r: Runnable) => new Thread(r, s"pdq-month-${n.incrementAndGet()}"))
    try {
      val done = thunks.map(t => pool.submit(() => t())).map(f => Try(f.get()))
      done.map {
        case Success(a) => a
        case Failure(e: ExecutionException) => throw e.getCause
        case Failure(e) => throw e
      }
    } finally pool.shutdown()
  }
}
