package graft.pdq

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Data-quality gates + rollup reconciliation
  * (reference dags/pdq_etl_dag.py:254-429).
  *
  * The engine returns violation DataFrames; throw-vs-log is the caller's
  * policy (X4). All checks are pure plans — no driver-side row iteration,
  * so every gate scales with partitions.
  */
object Dq {

  /** A5 — non-negativity gate (dags/pdq_etl_dag.py:383-400): rows where
    * any measure is negative. `.count() == 0` is the pass condition.
    */
  def negativeMeasures(df: DataFrame, measures: Seq[String]): DataFrame =
    df.where(measures.map(col(_) < 0).reduce(_ || _))

  /** A4 — uniqueness gate (dags/pdq_etl_dag.py:402-429): key groups with
    * more than one row. `.count() == 0` is the pass condition.
    */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).count().where(col("count") > 1)

  /** Single-pass DQ metrics piggybacked on the frame's OWN action via
    * `Dataset.observe`: row count, per-key null counts, per-measure
    * negative counts and `n_negative` (rows with any negative measure —
    * the [[negativeMeasures]] count, 0 on an empty frame) materialize
    * with the write/collect that consumes the frame — no second scan. The
    * reference runs each gate as its own Postgres query after loading
    * (dags/pdq_etl_dag.py:383-429); at 100 TB a separate gate pass
    * re-reads the table, this one is free.
    *
    * The returned [[Observation]] yields its metric map after the first
    * action on the returned frame (`obs.get` blocks until then). Gates
    * that must SELECT the violating rows ([[negativeMeasures]],
    * [[duplicateKeys]]) still exist for diagnosis; this is the
    * counts-only fast path for the pass/fail decision.
    */
  def observedMetrics(df: DataFrame, keyCols: Seq[String],
                      measureCols: Seq[String]): (DataFrame, Observation) = {
    val obs = Observation()
    val aggs = count(lit(1)).as("n_rows") +:
      (keyCols.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c")) ++
        measureCols.map(c =>
          sum(when(col(c) < 0, 1L).otherwise(0L)).as(s"neg_$c")) ++
        measureCols.map(col(_) < 0).reduceOption(_ || _)
          .map(count_if(_).as("n_negative")))
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  /** Row counts of several frames from ONE action rather than a
    * `.count()` per frame — the counts-only form of the gates that must
    * shuffle ([[duplicateKeys]], [[reconcile]]).
    */
  def counts(frames: Seq[DataFrame]): Seq[Long] = {
    val byIndex = frames.zipWithIndex
      .map { case (f, i) => f.agg(lit(i).as("i"), count(lit(1)).as("n")) }
      .reduce(_ unionByName _).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    frames.indices.map(byIndex)
  }

  /** A2 + J1-J4 + U1 + O2 — rollup reconciliation
    * (dags/pdq_etl_dag.py:254-380): totals at a coarse grain vs the same
    * measures rolled up from a fine grain, tolerance-filtered, one report
    * per reconciliation key, stitched with a `check_type` discriminator.
    *
    * @param coarse   totals frame already at `key` grain
    * @param fine     detail frame to roll up to `key` grain
    * @param key      reconciliation key column name
    * @param measures measure column names present in both frames
    * @param tol      per-measure absolute tolerance (reference: 0.5)
    */
  def reconcile(coarse: DataFrame, fine: DataFrame, key: String,
                measures: Seq[String], tol: Double = 0.5,
                checkType: String = "reconcile"): DataFrame = {
    val aggs = measures.map(m => sum(coalesce(col(m), lit(0))).as(m))
    val rolled = fine.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
    val rolledRenamed = rolled.select(
      col(key) +: measures.map(m => col(m).as(s"${m}_fine")): _*)
    val joined = coarse
      .select(col(key) +: measures.map(m => col(m).as(s"${m}_coarse")): _*)
      .join(rolledRenamed, Seq(key), "left")
    val mismatch: Column = measures
      .map(m => abs(coalesce(col(s"${m}_coarse"), lit(0)) -
                    coalesce(col(s"${m}_fine"), lit(0))) > tol)
      .reduce(_ || _)
    joined.where(mismatch).select(
      lit(checkType).as("check_type") +: col(key).cast("string").as("key") +:
        measures.flatMap(m => Seq(col(s"${m}_coarse"), col(s"${m}_fine"))): _*)
  }

  /** U1 + O2 — stitch several [[reconcile]] reports (the reference unions
    * operator/district/field reports and orders by check_type,
    * dags/pdq_etl_dag.py:332,349,365).
    */
  def reconciliationReport(reports: Seq[DataFrame]): DataFrame =
    reports.reduce(_ unionByName _).orderBy(col("check_type"), col("key"))
}
