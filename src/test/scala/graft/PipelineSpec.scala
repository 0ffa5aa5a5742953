package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pdq.{Dq, Pipeline}

/** End-to-end reference DAG on FIXTURES.md §A-shaped .dsv inputs:
  * extract → raw → staging → curated → DQ, twice (idempotency).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def write(path: String, lines: String*): String = {
    val w = new java.io.PrintWriter(path)
    lines.foreach(w.println); w.close(); path
  }

  test("full month run: layers land, DQ gates pass, re-run is idempotent") {
    val root = Files.createTempDirectory("pdq").toString
    val opDsv = write(s"$root/op.dsv",
      "OPERATOR_NO}OPERATOR_NAME}CYCLE_YEAR}CYCLE_MONTH}CYCLE_YEAR_MONTH}OPER_OIL_PROD_VOL}OPER_GAS_PROD_VOL}OPER_COND_PROD_VOL}OPER_CSGD_PROD_VOL",
      "123456}ACME OPERATING CO}2024}01}202401}1500.25}32000}0}12.5",
      "789012}NULL}2024}01}202401}} 250 }NaN}0",
      // pre-2000 row dropped by the extract validity floor (P4)
      "999999}ANCIENT CO}1999}12}199912}1}1}1}1")
    val leaseDsv = write(s"$root/lease.dsv",
      "OPERATOR_NO}DISTRICT_NO}FIELD_NO}LEASE_NO}LEASE_NAME}CYCLE_YEAR}CYCLE_MONTH}CYCLE_YEAR_MONTH}OIL_PROD_VOL}GAS_PROD_VOL}COND_PROD_VOL}CSGD_PROD_VOL}LEASE_OIL_PROD_VOL}LEASE_GAS_PROD_VOL}LEASE_COND_PROD_VOL}LEASE_CSGD_PROD_VOL",
      // duplicate (8-11111, 202401) rows on purpose → dedupe-agg collapses
      "123456}08}54321}11111}SMITH UNIT}2024}01}202401}}}}}750.10}16000}0}6.25",
      "123456}08}54321}11111}SMITH UNIT}2024}01}202401}}}}}750.15}16000}0}6.25",
      "789012}02}9}22222}JONES}2024}01}202401}10}}}}}}}")
    val wh = s"$root/wh"

    val dq = Pipeline.runMonth(spark, opDsv, leaseDsv, wh, 202401)
    // hard gates pass; rollup reconciliation flags exactly operator
    // 789012 (gas 250 vs 0, oil 0 vs 10) — ACME's lease rows roll up to
    // its operator totals by fixture design
    assert(dq.negativeOperator === 0 && dq.negativeLease === 0)
    assert(dq.duplicateOperatorKeys === 0 && dq.duplicateLeaseKeys === 0)
    assert(dq.rollupMismatches === 1)

    val stagingOp = spark.read.parquet(s"$wh/staging_operator")
    assert(stagingOp.count() === 2) // ancient row dropped
    val acme = stagingOp.where($"operator_no" === 123456).collect()(0)
    assert(acme.getAs[Double]("oil_bbl") === 1500.25)
    val lease = spark.read.parquet(s"$wh/staging_lease")
    assert(lease.count() === 2) // dup group collapsed
    val smith = lease.where($"lease_key" === "8-11111").collect()(0)
    assert(math.abs(smith.getAs[Double]("oil_bbl") - 1500.25) < 1e-9)
    assert(spark.read.parquet(s"$wh/dim_operator").count() === 2)
    assert(spark.read.parquet(s"$wh/dim_lease").count() === 2)
    assert(spark.read.parquet(s"$wh/fact_lease_monthly").count() === 2)

    // idempotency: the reference's core property — re-run the month,
    // nothing double-counts
    val dq2 = Pipeline.runMonth(spark, opDsv, leaseDsv, wh, 202401)
    assert(dq2 === dq)
    assert(spark.read.parquet(s"$wh/staging_lease").count() === 2)
    assert(spark.read.parquet(s"$wh/fact_lease_monthly").count() === 2)
    assert(spark.read.parquet(s"$wh/dim_operator").count() === 2)
    val smith2 = spark.read.parquet(s"$wh/staging_lease")
      .where($"lease_key" === "8-11111").collect()(0)
    assert(math.abs(smith2.getAs[Double]("oil_bbl") - 1500.25) < 1e-9)
  }

  test("upsertDim: read failure on an existing dim propagates, does not wipe it") {
    val root = Files.createTempDirectory("pdqdim").toString
    val path = s"$root/dim_x"
    val v1 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    Pipeline.upsertDim(spark, v1, Seq("k"), path)
    assert(spark.read.parquet(path).count() === 2)

    // merge path works: upsert (2 -> b2) + insert (3 -> c)
    Pipeline.upsertDim(spark, Seq((2, "b2"), (3, "c")).toDF("k", "v"), Seq("k"), path)
    val merged = spark.read.parquet(path).orderBy("k").collect()
    assert(merged.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "a"), (2, "b2"), (3, "c")))

    // corrupt the EXISTING dim: parquet footers unreadable → the read
    // inside the merge must throw, and the path must NOT be overwritten
    // with only the incoming rows (the old catch-all treated any failure
    // as "first load" and silently discarded prior state)
    val dir = new java.io.File(path)
    dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { pf =>
      val w = new java.io.PrintWriter(pf); w.print("not parquet"); w.close()
    }
    intercept[Exception] {
      Pipeline.upsertDim(spark, Seq((9, "z")).toDF("k", "v"), Seq("k"), path)
    }
    // the corrupt files are still there — nothing got wiped/overwritten
    assert(dir.listFiles().exists(pf =>
      pf.getName.endsWith(".parquet") && pf.length() === "not parquet".length))
  }

  private val Measures = Seq("oil_bbl", "gas_mcf", "cond_bbl", "csgd_mcf")

  test("non-zero DQ gates: runMonth's report equals the gates run on the staged slices") {
    val root = Files.createTempDirectory("pdqdq").toString
    val opDsv = write(s"$root/op.dsv",
      "OPERATOR_NO}OPERATOR_NAME}CYCLE_YEAR}CYCLE_MONTH}CYCLE_YEAR_MONTH}OPER_OIL_PROD_VOL}OPER_GAS_PROD_VOL}OPER_COND_PROD_VOL}OPER_CSGD_PROD_VOL",
      "123456}ACME}2024}01}202401}100}200}0}0",
      // the same operator row twice: staging keeps both, a duplicate key
      "123456}ACME}2024}01}202401}100}200}0}0",
      "789012}JONES}2024}01}202401}50}0}0}0")
    val leaseDsv = write(s"$root/lease.dsv",
      "OPERATOR_NO}DISTRICT_NO}FIELD_NO}LEASE_NO}LEASE_NAME}CYCLE_YEAR}CYCLE_MONTH}CYCLE_YEAR_MONTH}OIL_PROD_VOL}GAS_PROD_VOL}COND_PROD_VOL}CSGD_PROD_VOL",
      "123456}08}54321}11111}SMITH}2024}01}202401}100}200}0}0",
      // a negative measure, and JONES' only lease: -5 vs its 50 mismatches
      "789012}02}9}22222}JONES}2024}01}202401}-5}0}0}0")
    val wh = s"$root/wh"

    val dq = Pipeline.runMonth(spark, opDsv, leaseDsv, wh, 202401)
    val so = spark.read.parquet(s"$wh/staging_operator").where($"yyyymm" === 202401)
    val sl = spark.read.parquet(s"$wh/staging_lease").where($"yyyymm" === 202401)
    val gates = Pipeline.DqReport(
      Dq.negativeMeasures(so, Measures).count(),
      Dq.negativeMeasures(sl, Measures).count(),
      Dq.duplicateKeys(so, Seq("operator_no", "yyyymm")).count(),
      Dq.duplicateKeys(sl, Seq("lease_key", "yyyymm")).count(),
      Dq.reconcile(so.select(($"operator_no" +: Measures.map(col)): _*),
        sl.select(($"operator_no" +: Measures.map(col)): _*),
        "operator_no", Measures, tol = 0.5).count())
    assert(dq === gates)
    assert(dq === Pipeline.DqReport(0, 1, 1, 0, 1))
  }

  test("upsertDim: an interrupted swap is promoted, an unfinished sibling is overwritten") {
    val root = Files.createTempDirectory("pdqswap").toString
    val path = s"$root/dim_x"
    val next = s"$root/.dim_x.next"
    def rows(p: String) = spark.read.parquet(p).orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    def exists(p: String) = new java.io.File(p).exists()

    // cut between delete and rename: the merged dim is complete in the
    // sibling and the dim is gone. It is promoted, then merged into —
    // not taken for a first load that would drop rows 1 and 2
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(next)
    assert(exists(s"$next/_SUCCESS") && !exists(path))
    Pipeline.upsertDim(spark, Seq((2, "b2"), (3, "c")).toDF("k", "v"), Seq("k"), path)
    assert(rows(path) === Seq((1, "a"), (2, "b2"), (3, "c")))
    assert(!exists(next))

    // cut during the merge write: the sibling has no _SUCCESS. It is not
    // promoted; the next merge overwrites it and swaps in the right rows
    new java.io.File(next).mkdirs()
    val w = new java.io.PrintWriter(s"$next/part-00000.parquet"); w.print("partial"); w.close()
    Pipeline.upsertDim(spark, Seq((4, "d")).toDF("k", "v"), Seq("k"), path)
    assert(rows(path) === Seq((1, "a"), (2, "b2"), (3, "c"), (4, "d")))
    assert(!exists(next))
  }
}
