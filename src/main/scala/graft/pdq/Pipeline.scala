package graft.pdq

import java.io.IOException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Casts
import graft.sinks.{Idempotent, Upsert}
import graft.sources.{Dsv, RawStore}

/** The reference's whole DAG as sequential library calls (entry point A,
  * SURVEY.md §3.1): extract `.dsv` → raw JSON layer → typed staging →
  * curated star → DQ gates, all month-sliced and idempotent.
  *
  * Orchestration-level mapping (X2): Airflow task boundaries become
  * function boundaries inside one SparkSession; every layer write is a
  * dynamic-partition month-slice overwrite, so re-running a month is the
  * same delete-slice-then-insert the reference does with psycopg2 + JDBC
  * appends (dags/pdq_etl_dag.py:514-516; transform_operator.py:16-31).
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
    * month-slice write (S7). Mirrors dags/pdq_etl_dag.py:183-249.
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
    Idempotent.writeMonthSlice(RawStore.encode(sliced), rawPath)
  }

  /** SCD1 upsert of a dimension path (S8, model_curated.py:72-101 as a
    * file-sink merge). "First load" is decided by an explicit
    * path-existence probe, NOT by catching the read exception: a transient
    * IO/permission/corruption error while reading an EXISTING dim must
    * propagate — treating it as first-load would overwrite the path with
    * only the incoming rows and silently discard everything previously
    * merged (round-2 advice).
    *
    * A first load writes `df` to the path. A merge writes the merged rows
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
      Upsert.merge(spark.read.parquet(path), df, keys)
        .write.mode("overwrite").parquet(next.toString)
      fs.delete(dim, true)
      swapIn()
    }
  }

  /** Run one month end-to-end from two `.dsv` exports into a parquet
    * warehouse laid out as `raw_* / staging_* / dim_* / fact_*`, and
    * return the DQ gate counts.
    */
  def runMonth(spark: SparkSession, operatorDsv: String, leaseDsv: String,
               warehouse: String, yyyymm: Int): DqReport = {
    // ---- extract (Airflow extract_raw_* tasks) ----
    extract(spark, operatorDsv, Staging.OperatorRawFields :+ "CYCLE_YEAR_MONTH_NO",
      s"$warehouse/raw_operator", yyyymm)
    extract(spark, leaseDsv, Staging.LeaseRawFields,
      s"$warehouse/raw_lease", yyyymm)

    // ---- transform (spark_transform_* jobs) ----
    // the counts-only DQ gate (non-negativity) rides each staging write
    val rawOp = spark.read.parquet(s"$warehouse/raw_operator")
      .where(col("yyyymm") === yyyymm)
    val opMonthly = Staging.operatorMonthly(rawOp, Some(yyyymm)).cache()
    val (opStaged, opObs) = Dq.observedMetrics(opMonthly, Nil, Measures)
    Idempotent.writeMonthSlice(opStaged, s"$warehouse/staging_operator")

    val rawLease = spark.read.parquet(s"$warehouse/raw_lease")
      .where(col("yyyymm") === yyyymm)
    val leaseMonthly = Staging.leaseMonthly(Staging.leaseWide(rawLease, Some(yyyymm))).cache()
    val (leaseStaged, leaseObs) = Dq.observedMetrics(leaseMonthly, Nil, Measures)
    Idempotent.writeMonthSlice(leaseStaged, s"$warehouse/staging_lease")

    // ---- model curated (spark_model_curated job) ----
    upsertDim(spark, Curated.dimOperator(opMonthly), Seq("operator_no"), s"$warehouse/dim_operator")
    upsertDim(spark, Curated.dimDistrict(leaseMonthly), Seq("district_no"), s"$warehouse/dim_district")
    upsertDim(spark, Curated.dimField(leaseMonthly), Seq("field_no"), s"$warehouse/dim_field")
    upsertDim(spark, Curated.dimLease(leaseMonthly), Seq("lease_key"), s"$warehouse/dim_lease")
    Idempotent.writeMonthSlice(Curated.factOperatorMonthly(opMonthly),
      s"$warehouse/fact_operator_monthly")
    Idempotent.writeMonthSlice(Curated.factLeaseMonthly(leaseMonthly),
      s"$warehouse/fact_lease_monthly")

    // ---- DQ gates (dq_non_negative, dq_uniques, dq_rollup_log) ----
    val Seq(dupOp, dupLease, mismatches) = Dq.counts(Seq(
      Dq.duplicateKeys(opMonthly, Seq("operator_no", "yyyymm")),
      Dq.duplicateKeys(leaseMonthly, Seq("lease_key", "yyyymm")),
      Dq.reconcile(
        opMonthly.select(col("operator_no") +: Measures.map(col): _*),
        leaseMonthly.select(col("operator_no") +: Measures.map(col): _*),
        "operator_no", Measures, tol = 0.5, checkType = "operator_vs_lease")))
    def negatives(obs: Observation) = obs.get("n_negative").asInstanceOf[Long]
    opMonthly.unpersist(); leaseMonthly.unpersist()
    DqReport(negatives(opObs), negatives(leaseObs), dupOp, dupLease, mismatches)
  }
}
