package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pdq.Pipeline.DqReport

/** Output checks against the generator's expected answer (`expected.json`).
  * Each check returns the list of mismatches it found; empty means pass.
  */
object Checks {
  val Measures: Seq[String] = Seq("oil_bbl", "gas_mcf", "cond_bbl", "csgd_mcf")
  val Tables: Seq[String] = Seq(
    "raw_operator", "raw_lease", "staging_operator", "staging_lease",
    "dim_operator", "dim_district", "dim_field", "dim_lease",
    "fact_operator_monthly", "fact_lease_monthly")

  def dqOf(r: DqReport): Map[String, Long] = Map(
    "negativeOperator" -> r.negativeOperator, "negativeLease" -> r.negativeLease,
    "duplicateOperatorKeys" -> r.duplicateOperatorKeys,
    "duplicateLeaseKeys" -> r.duplicateLeaseKeys,
    "rollupMismatches" -> r.rollupMismatches)

  /** Month `m`'s DqReport counts against the expected answer. */
  def report(m: Int, dq: Map[String, Long], exp: JsonNode): Seq[String] = {
    val e = exp.get("months").get(m.toString).get("dq")
    dq.toSeq.sorted.collect {
      case (k, v) if v != e.get(k).asLong => s"$m dq.$k=$v expected ${e.get(k).asLong}"
    }
  }

  /** Each month's DqReport, staging and fact row counts, and measure sums
    * (to the cent) against the expected answer, for all of `dq`'s months
    * in one query. Returns the mismatches per month.
    */
  def months(spark: SparkSession, wh: String, exp: JsonNode,
             dq: Map[Int, Map[String, Long]]): Map[Int, Seq[String]] = {
    val ms = dq.keys.toSeq.sorted
    def e(m: Int) = exp.get("months").get(m.toString)
    val tables = Seq(
      ("staging_operator", "staging_operator_rows", "operator_cents"),
      ("fact_operator_monthly", "staging_operator_rows", "operator_cents"),
      ("staging_lease", "staging_lease_rows", "lease_cents"),
      ("fact_lease_monthly", "staging_lease_rows", "lease_cents"))
    val aggs = count(lit(1)) +: Measures.map(m => sum(col(m)))
    val got = tables.map { case (t, _, _) =>
        spark.read.parquet(s"$wh/$t").where(col("yyyymm").isin(ms: _*))
          .select(lit(t).as("t") +: col("yyyymm") +: Measures.map(col): _*)
      }.reduce(_ union _)
      .groupBy("t", "yyyymm").agg(aggs.head, aggs.tail: _*).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    ms.map { m =>
      m -> (report(m, dq(m), exp) ++ tables.flatMap { case (t, rowsKey, centsKey) =>
        got.get((t, m)) match {
          case None => Seq(s"$m $t: no rows")
          case Some(row) =>
            val rows = row.getLong(2)
            val want = e(m).get(rowsKey).asLong
            (if (rows == want) Nil else Seq(s"$m $t rows=$rows expected $want")) ++
              Measures.zipWithIndex.flatMap { case (c, i) =>
                val cents = if (row.isNullAt(i + 3)) 0L else math.round(row.getDouble(i + 3) * 100)
                val wantC = e(m).get(centsKey).get(c).asLong
                if (cents == wantC) Nil else Seq(s"$m $t.$c cents=$cents expected $wantC")
              }
        }
      })
    }.toMap
  }

  /** Dimension row counts after loading months up to `yyyymm`, taken
    * from a [[hashes]] result.
    */
  def dims(hashes: Map[String, (Long, Long)], yyyymm: Int, exp: JsonNode): Seq[String] = {
    val e = exp.get("months").get(yyyymm.toString).get("dims_after")
    Seq("dim_operator", "dim_district", "dim_field", "dim_lease").flatMap { d =>
      val n = hashes(d)._1
      if (n == e.get(d).asLong) Nil else Seq(s"$d rows=$n after $yyyymm expected ${e.get(d).asLong}")
    }
  }

  /** Order-insensitive content hash of every table, in one query:
    * table -> (row count, wrapping sum of a 64-bit hash of each row).
    * `ingested_at` is the load time and differs between loads of the same
    * data, so it is left out.
    */
  def hashes(spark: SparkSession, wh: String): Map[String, (Long, Long)] = {
    val got = Tables.map { t =>
        val df = spark.read.parquet(s"$wh/$t")
        val cols = df.columns.filterNot(_ == "ingested_at").sorted.map(col).toIndexedSeq
        df.select(lit(t).as("t"), xxhash64(cols: _*).as("h"))
      }.reduce(_ union _)
      .groupBy("t").agg(count(lit(1)), sum(col("h"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    Tables.map(t => t -> got.getOrElse(t, (0L, 0L))).toMap
  }

  def sameHashes(what: String, a: Map[String, (Long, Long)],
                 b: Map[String, (Long, Long)]): Seq[String] =
    Tables.collect { case t if a(t) != b(t) => s"$what: $t hash ${b(t)} != ${a(t)}" }

  /** Parquet files written into one month slice of a table. */
  def sliceFiles(spark: SparkSession, path: String, yyyymm: Int): Int = {
    val p = new Path(s"$path/yyyymm=$yyyymm")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .count(_.getPath.getName.endsWith(".parquet"))
  }
}
