package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType, TimestampType}

/** Raw-layer encode/decode (S4/S6 — reference raw.* JSONB tables).
  *
  * The reference stores each extracted source row as a whole JSON document
  * plus the `yyyymm` partition key and an ingestion timestamp
  * (sql/schema.sql:11-25), serialized row-by-row in Python
  * (dags/pdq_etl_dag.py:143-158, 224-244). Spark-first replacement:
  * `to_json(struct(...))` distributed encode, `from_json` tolerant decode —
  * no driver-side loops, so the encode scales with partitions.
  */
object RawStore {

  /** S6 — encode every payload column into one JSON `raw` column next to
    * the month key + ingestion timestamp. All values arrive stringified
    * (the extractor runs [[graft.ops.Casts.normNullAll]] first), matching
    * the reference's all-string JSONB documents.
    */
  def encode(df: DataFrame, yyyymmCol: String = "yyyymm"): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.filterNot(_ == yyyymmCol).map(col): _*)
    df.select(
      col(yyyymmCol).cast("int").as("yyyymm"),
      to_json(payload).as("raw"),
      current_timestamp().as("ingested_at"))
  }

  /** The schema of a raw table [[encode]] wrote month-partitioned by
    * `yyyymm` (the partition column last, as Spark reads it back). Reading
    * with it fires no footer-inference job, and a table holding no data
    * file reads as empty instead of failing schema inference.
    */
  val Schema: StructType = StructType(Seq(
    StructField("raw", StringType), StructField("ingested_at", TimestampType),
    StructField("yyyymm", IntegerType)))

  /** Tolerant all-string parse schema over an expected-field superset
    * (the reference declares both `OIL_PROD_VOL` and `LEASE_OIL_PROD_VOL`
    * variants and lets `from_json` null whatever is absent,
    * transform_lease.py:62-80).
    */
  def stringSchema(fields: Seq[String]): StructType =
    StructType(fields.map(StructField(_, StringType, nullable = true)))

  /** S4 — parse the `raw` JSON column with a tolerant schema and flatten
    * the struct (`from_json` + `select("j.*")`,
    * transform_operator.py:55-73).
    */
  def decode(df: DataFrame, rawCol: String, fields: Seq[String]): DataFrame = {
    val keep = df.columns.filterNot(_ == rawCol).map(col)
    df.select((keep :+ from_json(col(rawCol), stringSchema(fields)).as("j")).toIndexedSeq: _*)
      .select((keep :+ col("j.*")).toIndexedSeq: _*)
  }
}
