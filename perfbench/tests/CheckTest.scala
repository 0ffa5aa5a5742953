import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

import graft.pdq.Pipeline
import graft.sinks.Idempotent
import perfbench.{Checks, Main}

/** The expected-answer check passes on a tiny generated month, and fails
  * once one fact row is perturbed. Driven by test_checks.py.
  *
  * Usage: CheckTest <inputs dir> <work dir>
  */
object CheckTest {
  def main(args: Array[String]): Unit = {
    val Array(inputs, work) = args
    val exp = new ObjectMapper().readTree(new File(s"$inputs/expected.json"))
    val month = exp.get("month_list").get(0).asInt
    val wh = s"$work/wh"
    val spark = Main.session()
    def check(dq: Map[String, Long]): Seq[String] =
      Checks.months(spark, wh, exp, Map(month -> dq))(month) ++
        Checks.dims(Checks.hashes(spark, wh), month, exp)

    val report = Pipeline.runMonth(spark, s"$inputs/operator.dsv", s"$inputs/lease.dsv",
      wh, month)
    val dq = Checks.dqOf(report)
    val clean = check(dq)
    println(s"clean: ${clean.mkString("; ")}")

    val facts = s"$wh/fact_lease_monthly"
    val first = spark.read.parquet(facts).agg(min(col("lease_key"))).head().getString(0)
    val perturbed = spark.read.parquet(facts)
      .withColumn("oil_bbl", when(col("lease_key") === first, col("oil_bbl") + 0.01)
        .otherwise(col("oil_bbl")))
      .localCheckpoint(true)
    Idempotent.writeMonthSlice(perturbed, facts)
    val after = check(dq)
    println(s"perturbed: ${after.mkString("; ")}")
    spark.stop()

    val ok = clean.isEmpty && after.size == 1 &&
      after.head.contains("fact_lease_monthly.oil_bbl")
    println(if (ok) "PASS" else "FAIL")
    if (!ok) sys.exit(1)
  }
}
