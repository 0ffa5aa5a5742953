package graft.pdq

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Casts
import graft.sources.RawStore

/** Raw → staging transforms: the reference's two PySpark jobs re-expressed
  * as pure `DataFrame => DataFrame` stages.
  *
  *  - [[operatorMonthly]] ≙ reference/spark_jobs/transform_operator.py
  *  - [[leaseMonthly]]    ≙ reference/spark_jobs/transform_lease.py
  *
  * Differences by design (SURVEY.md §4): the Python `to_int` UDF
  * (transform_operator.py:76) is a codegen'd rlike expression here; the
  * duplicate diagnostic is [[duplicateGroups]], a separate plan a caller
  * runs only when it wants the groups, so the staging path never pays for
  * it (`Pipeline.runMonth` caches only the two monthly frames).
  */
object Staging {

  /** Tolerant parse-schema field lists (transform_operator.py:55-65,
    * transform_lease.py:62-80 — note the lease volume-name variants).
    */
  val OperatorRawFields: Seq[String] = Seq(
    "OPERATOR_NO", "OPERATOR_NAME",
    "CYCLE_YEAR", "CYCLE_MONTH", "CYCLE_YEAR_MONTH",
    "OPER_OIL_PROD_VOL", "OPER_GAS_PROD_VOL",
    "OPER_COND_PROD_VOL", "OPER_CSGD_PROD_VOL")

  val LeaseRawFields: Seq[String] = Seq(
    "OPERATOR_NO", "DISTRICT_NO", "FIELD_NO", "LEASE_NO", "LEASE_NAME",
    "CYCLE_YEAR", "CYCLE_MONTH", "CYCLE_YEAR_MONTH",
    "OIL_PROD_VOL", "GAS_PROD_VOL", "COND_PROD_VOL", "CSGD_PROD_VOL",
    "LEASE_OIL_PROD_VOL", "LEASE_GAS_PROD_VOL",
    "LEASE_COND_PROD_VOL", "LEASE_CSGD_PROD_VOL")

  /** transform_operator.py:41-96 — raw operator cycles → typed
    * `staging.operator_monthly` rows at (operator_no, yyyymm) grain.
    *
    * @param raw frame with columns (yyyymm int, raw string-JSON)
    * @param month optional month slice (None = all months; the reference
    *        always runs one month, P3's redundant re-filter)
    */
  def operatorMonthly(raw: DataFrame, month: Option[Int] = None): DataFrame = {
    val parsed = RawStore.decode(raw, "raw", OperatorRawFields)
    val typed = parsed.select(
      // P6 strict digit-only cast (the reference's lone Python UDF) + P9 default
      coalesce(Casts.toIntStrict(col("OPERATOR_NO")), lit(0)).as("operator_no"),
      trim(col("OPERATOR_NAME")).as("operator_name"),
      // P8: prefer stored yyyymm, else CYCLE_YEAR*100 + CYCLE_MONTH
      Casts.yyyymmOrDerived(col("yyyymm").cast("string"),
        col("CYCLE_YEAR"), col("CYCLE_MONTH")).as("yyyymm"),
      // P7: null/blank → 0.0 measures
      Casts.toNumZero(col("OPER_OIL_PROD_VOL")).as("oil_bbl"),
      Casts.toNumZero(col("OPER_GAS_PROD_VOL")).as("gas_mcf"),
      Casts.toNumZero(col("OPER_COND_PROD_VOL")).as("cond_bbl"),
      Casts.toNumZero(col("OPER_CSGD_PROD_VOL")).as("csgd_mcf"))
    month.fold(typed)(m => typed.where(col("yyyymm") === m))
  }

  /** transform_lease.py:52-109 — raw lease cycles → the wide typed frame
    * (pre-aggregation), including the `lease_key` surrogate
    * `"{district_no}-{lease_no}"` (P2, transform_lease.py:106-109) and the
    * volume-variant coalesce (OIL_PROD_VOL vs LEASE_OIL_PROD_VOL).
    */
  def leaseWide(raw: DataFrame, month: Option[Int] = None): DataFrame = {
    val parsed = RawStore.decode(raw, "raw", LeaseRawFields)
    def measure(a: String, b: String): org.apache.spark.sql.Column =
      Casts.toNumZero(coalesce(Casts.normNull(col(a)), Casts.normNull(col(b))))
    val typed = parsed.select(
      // P5 tolerant cast (lease job uses plain cast, not the strict UDF) + P9
      Casts.keyDefault(col("OPERATOR_NO")).as("operator_no"),
      Casts.toIntTolerant(col("DISTRICT_NO")).as("district_no"),
      Casts.toIntTolerant(col("FIELD_NO")).as("field_no"),
      Casts.toIntTolerant(col("LEASE_NO")).as("lease_no"),
      trim(col("LEASE_NAME")).as("lease_name"),
      Casts.yyyymmOrDerived(col("yyyymm").cast("string"),
        col("CYCLE_YEAR"), col("CYCLE_MONTH")).as("yyyymm"),
      measure("LEASE_OIL_PROD_VOL", "OIL_PROD_VOL").as("oil_bbl"),
      measure("LEASE_GAS_PROD_VOL", "GAS_PROD_VOL").as("gas_mcf"),
      measure("LEASE_COND_PROD_VOL", "COND_PROD_VOL").as("cond_bbl"),
      measure("LEASE_CSGD_PROD_VOL", "CSGD_PROD_VOL").as("csgd_mcf"))
      .withColumn("lease_key",
        concat_ws("-", col("district_no").cast("string"), col("lease_no").cast("string")))
    month.fold(typed)(m => typed.where(col("yyyymm") === m))
  }

  /** A3 — duplicate-group diagnostic (transform_lease.py:111-118):
    * source groups that would violate the (lease_key, yyyymm) PK.
    */
  def duplicateGroups(wide: DataFrame, keys: Seq[String]): DataFrame =
    graft.ops.DedupeAgg.duplicateGroups(wide, keys)

  /** A1 — dedupe-agg to PK grain (transform_lease.py:121-134):
    * `first(ignoreNulls)` for attributes, `sum` for measures.
    *
    * `first` is order-nondeterministic (same as the reference); pass
    * `deterministic = true` to use `min` instead — identical results when
    * attributes are group-constant (the real data's intent) and safe for
    * hash-compared oracles.
    */
  def leaseMonthly(wide: DataFrame, deterministic: Boolean = false): DataFrame =
    graft.ops.DedupeAgg.dedupeAgg(
      wide,
      keys = Seq("lease_key", "yyyymm"),
      attrs = Seq("operator_no", "district_no", "field_no", "lease_no", "lease_name"),
      measures = Seq("oil_bbl", "gas_mcf", "cond_bbl", "csgd_mcf"),
      deterministic = deterministic)
}
