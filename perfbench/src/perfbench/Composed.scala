package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pdq.{Curated, Dq, Pipeline, Staging}
import graft.pdq.Pipeline.DqReport
import graft.sinks.Idempotent

/** `Pipeline.runMonth` re-composed from the same layer calls, in the same
  * order, with a span around each layer. The traced run checks that this
  * gives the same DqReport and table contents as `runMonth` itself, so the
  * composition has to be kept in step with `runMonth`.
  *
  * Counters that need extra Spark work (existing dim rows, changed dim
  * rows, files per slice) run inside `probe` spans, which the report
  * leaves out of every layer's numbers.
  */
object Composed {
  private val Measures = Checks.Measures

  def month(spark: SparkSession, t: Tracer, operatorDsv: String, leaseDsv: String,
            wh: String, yyyymm: Int): DqReport = t.span("month") {
    t.span("extract") {
      Pipeline.extract(spark, operatorDsv, Staging.OperatorRawFields :+ "CYCLE_YEAR_MONTH_NO",
        s"$wh/raw_operator", yyyymm)
      Pipeline.extract(spark, leaseDsv, Staging.LeaseRawFields, s"$wh/raw_lease", yyyymm)
    }

    val (opMonthly, wide, leaseMonthly) = t.span("staging") {
      val rawOp = spark.read.parquet(s"$wh/raw_operator").where(col("yyyymm") === yyyymm)
      val opMonthly = Staging.operatorMonthly(rawOp, Some(yyyymm)).cache()
      Idempotent.writeMonthSlice(opMonthly, s"$wh/staging_operator")
      val rawLease = spark.read.parquet(s"$wh/raw_lease").where(col("yyyymm") === yyyymm)
      val wide = Staging.leaseWide(rawLease, Some(yyyymm)).cache()
      val leaseMonthly = Staging.leaseMonthly(wide).cache()
      Idempotent.writeMonthSlice(leaseMonthly, s"$wh/staging_lease")
      t.count("cached_bytes", spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum.toDouble)
      (opMonthly, wide, leaseMonthly)
    }

    t.span("curated.dims") {
      def dim(df: DataFrame, keys: Seq[String], name: String): Unit = {
        val path = s"$wh/$name"
        // a checkpoint, not a cache: overwriting the path re-caches
        // cached reads of it with the new rows
        val before = t.span("probe") {
          if (Idempotent.pathExists(spark, path)) {
            val old = spark.read.parquet(path).localCheckpoint(true)
            Some((old, old.count()))
          } else None
        }
        Pipeline.upsertDim(spark, df, keys, path)
        val (existing, changed) = t.span("probe") {
          val now = spark.read.parquet(path)
          before match {
            case Some((old, n)) => (n, now.exceptAll(old).count())
            case None => (0L, now.count())
          }
        }
        t.count("rows_existing", existing.toDouble)
        t.count("rows_changed", changed.toDouble)
      }
      dim(Curated.dimOperator(opMonthly), Seq("operator_no"), "dim_operator")
      dim(Curated.dimDistrict(leaseMonthly), Seq("district_no"), "dim_district")
      dim(Curated.dimField(leaseMonthly), Seq("field_no"), "dim_field")
      dim(Curated.dimLease(leaseMonthly), Seq("lease_key"), "dim_lease")
    }

    t.span("curated.facts") {
      Idempotent.writeMonthSlice(Curated.factOperatorMonthly(opMonthly),
        s"$wh/fact_operator_monthly")
      Idempotent.writeMonthSlice(Curated.factLeaseMonthly(leaseMonthly),
        s"$wh/fact_lease_monthly")
      val files = t.span("probe") {
        Seq("fact_operator_monthly", "fact_lease_monthly")
          .map(f => Checks.sliceFiles(spark, s"$wh/$f", yyyymm)).sum
      }
      t.count("files_written", files.toDouble)
    }

    val report = t.span("dq") {
      val negOp = Dq.negativeMeasures(opMonthly, Measures).count()
      val negLease = Dq.negativeMeasures(leaseMonthly, Measures).count()
      val dupOp = Dq.duplicateKeys(opMonthly, Seq("operator_no", "yyyymm")).count()
      val dupLease = Dq.duplicateKeys(leaseMonthly, Seq("lease_key", "yyyymm")).count()
      val mismatches = Dq.reconcile(
        opMonthly.select(col("operator_no") +: Measures.map(col): _*),
        leaseMonthly.select(col("operator_no") +: Measures.map(col): _*),
        "operator_no", Measures, tol = 0.5, checkType = "operator_vs_lease").count()
      DqReport(negOp, negLease, dupOp, dupLease, mismatches)
    }
    wide.unpersist(); opMonthly.unpersist(); leaseMonthly.unpersist()
    report
  }
}
