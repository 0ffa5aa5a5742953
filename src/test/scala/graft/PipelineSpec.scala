package graft

import java.io.{File, FileNotFoundException}
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.pdq.{Dq, Pipeline}
import graft.sources.RawStore

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

  private val OpHeader = "OPERATOR_NO}OPERATOR_NAME}CYCLE_YEAR}CYCLE_MONTH}CYCLE_YEAR_MONTH}OPER_OIL_PROD_VOL}OPER_GAS_PROD_VOL}OPER_COND_PROD_VOL}OPER_CSGD_PROD_VOL"
  private val LeaseHeader = "OPERATOR_NO}DISTRICT_NO}FIELD_NO}LEASE_NO}LEASE_NAME}CYCLE_YEAR}CYCLE_MONTH}CYCLE_YEAR_MONTH}OIL_PROD_VOL}GAS_PROD_VOL}COND_PROD_VOL}CSGD_PROD_VOL"
  private def opRow(m: Int) = s"123456}ACME}${m / 100}}${m % 100}}$m}100}200}0}0"
  private def leaseRow(m: Int) = s"123456}08}54321}11111}SMITH}${m / 100}}${m % 100}}$m}100}200}0}0"
  /** An operator and a lease export holding one ACME row per month. */
  private def exports(dir: String, months: Int*): (String, String) = {
    new File(dir).mkdirs()
    (write(s"$dir/op.dsv", OpHeader +: months.map(opRow): _*),
     write(s"$dir/lease.dsv", LeaseHeader +: months.map(leaseRow): _*))
  }
  private val MonthTables = Seq("raw_operator", "raw_lease", "staging_operator",
    "staging_lease", "fact_operator_monthly", "fact_lease_monthly")

  test("an empty month slice replaces the month; other months stay untouched") {
    val root = Files.createTempDirectory("pdqempty").toString
    val (op12, lease12) = exports(s"$root/jan-feb", 202401, 202402)
    val (op2, lease2) = exports(s"$root/feb", 202402)
    def months(wh: String, t: String): Seq[Int] =
      new File(s"$wh/$t").list().filter(_.startsWith("yyyymm="))
        .map(_.stripPrefix("yyyymm=").toInt).sorted.toSeq
    // every file of month m's slices, by name (a fresh write has fresh names)
    def files(wh: String, m: Int): Set[(String, Long)] = MonthTables.flatMap { t =>
      new File(s"$wh/$t/yyyymm=$m").listFiles().map(f => (s"$t/${f.getName}", f.length()))
    }.toSet
    val empty = Pipeline.DqReport(0, 0, 0, 0, 0)

    // a first run of a month absent from the export: every slice reads as
    // empty, and the warehouse still takes the next month
    val first = s"$root/wh-first"
    assert(Pipeline.runMonth(spark, op2, lease2, first, 202401) === empty)
    MonthTables.foreach(t => assert(months(first, t) === Nil, t))
    assert(spark.read.schema(RawStore.Schema).parquet(s"$first/raw_lease").count() === 0)
    Pipeline.runMonth(spark, op2, lease2, first, 202402)
    MonthTables.foreach(t => assert(months(first, t) === Seq(202402), t))
    assert(spark.read.parquet(s"$first/dim_lease").count() === 1)

    // a re-run of a loaded month against an export that no longer holds
    // it: the month's slices go, February's files are not touched
    val rerun = s"$root/wh-rerun"
    Pipeline.runMonth(spark, op12, lease12, rerun, 202401)
    Pipeline.runMonth(spark, op12, lease12, rerun, 202402)
    MonthTables.foreach(t => assert(months(rerun, t) === Seq(202401, 202402), t))
    val feb = files(rerun, 202402)
    assert(Pipeline.runMonth(spark, op2, lease2, rerun, 202401) === empty)
    MonthTables.foreach(t => assert(months(rerun, t) === Seq(202402), t))
    assert(files(rerun, 202402) === feb)
    assert(spark.read.parquet(s"$rerun/staging_lease").count() === 1)
  }

  test("runMonth: a failing branch throws its own exception and leaves no job, thread or cache") {
    val root = Files.createTempDirectory("pdqfail").toString
    val (op, _) = exports(root, 202401)
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.keySet
    def poolThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("pdq-month-") && t.isAlive)
    intercept[FileNotFoundException] {
      Pipeline.runMonth(spark, op, s"$root/missing.dsv", s"$root/wh", 202401)
    }
    // the operator branch was waited for: it staged its month
    assert(new File(s"$root/wh/staging_operator/yyyymm=202401").isDirectory)
    ListenerBridge.drain(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    assert(sc.getPersistentRDDs.keySet.subsetOf(cachedBefore))
    eventually(timeout(10.seconds)) { assert(poolThreads.isEmpty) }
  }

  test("runMonth fires at most the measured number of jobs") {
    val root = Files.createTempDirectory("pdqjobs").toString
    val (op, lease) = exports(root, 202401)
    val counter = new Bench.Counter(spark)
    def jobs(): Long = {
      val before = counter.read().jobs
      Pipeline.runMonth(spark, op, lease, s"$root/wh", 202401)
      counter.read().jobs - before
    }
    try {
      // measured on this fixture: 21 and 25 (the re-run merges four dims)
      assert(jobs() <= 21, "first load")
      assert(jobs() <= 25, "re-run")
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}
