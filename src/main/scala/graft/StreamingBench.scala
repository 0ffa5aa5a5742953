package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{CdcDedupStream, DedupStream, NearDupStream,
  SegmentDedupStream, SessionizeStream}

/** Streaming-scale bench (round-10 verdict: the batch side has four
  * decades of artifacts, the streaming side had parity specs only):
  * drives the streaming dedup ladder + sessionization through a
  * multi-micro-batch file replay on the ROCKSDB state backend and
  * measures what a 100 TB/day operator actually lives or dies by —
  * ingest throughput, micro-batch latency, and STATE SIZE against its
  * designed bound.
  *
  * Per op it reports: input rows, wall seconds, rows/s, micro-batch
  * count and p50/max batch ms, final state rows, state bytes (RocksDB
  * SST + memtable custom metrics, plus the provider's
  * `memoryUsedBytes`), bytes/state-row — and a MEASURED bound check:
  * the op's state-row count must not exceed the bound its design
  * claims (exact/segment/CDC dedup: distinct fingerprints; near-dup:
  * min(band rows, buckets × maxPerBucket); sessionize: distinct
  * users), each bound computed batch-side from the same input. A
  * violated bound fails the process — state growth is the one claim
  * this artifact exists to measure, not assert.
  *
  * Ingest = `SPARK_GRAFT_STREAM_COPIES` (default 10) key-offset copies
  * of the `SPARK_GRAFT_SF_DIR` (default sf0.1) corpus — 10 copies =
  * the sf1-equivalent 50k docs / 1M events — replayed id-ordered in
  * `SPARK_GRAFT_STREAM_BATCHES` (default 10) single-file micro-batches
  * (`maxFilesPerTrigger=1` under `Trigger.AvailableNow`). The copy
  * offsets reuse the scale-ladder stride (10 000 docs / 1 000 000
  * events), so dedup multiplicity matches the sf1 fixtures.
  *
  * Emits ONE JSON line and writes it to `BENCH_STREAMING.json`
  * (`SPARK_GRAFT_STREAM_OUT` overrides).
  */
object StreamingBench {

  private final case class OpStats(
      name: String, rowsIn: Long, wallSec: Double, batches: Int,
      batchP50Ms: Long, batchMaxMs: Long, stateRows: Long,
      stateBytes: Long, memoryUsedBytes: Long, boundRows: Long) {
    def json: String = {
      val perKey =
        if (stateRows > 0) stateBytes.toDouble / stateRows else 0.0
      f"""{"rows_in":$rowsIn,"wall_sec":$wallSec%.3f,""" +
        f""""rows_per_sec":${rowsIn / math.max(wallSec, 1e-9)}%.0f,""" +
        s""""batches":$batches,"batch_p50_ms":$batchP50Ms,""" +
        s""""batch_max_ms":$batchMaxMs,"state_rows":$stateRows,""" +
        s""""state_bytes":$stateBytes,"memory_used_bytes":$memoryUsedBytes,""" +
        f""""state_bytes_per_row":$perKey%.1f,"bound_rows":$boundRows,""" +
        s""""bounded":${stateRows <= boundRows}}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_STREAM_COPIES", "10").toInt
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "10").toInt
    val spark = GraftSession(extra = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))

    val root = Files.createTempDirectory("graft_stream_bench").toString

    // ---- replicated, id-ordered inputs (the scale-ladder strides) ----
    val docStride = 10000L
    val evStride = 1000000L
    def replicate(t: DataFrame, idCols: Map[String, Long]): DataFrame =
      (0 until copies).map { c =>
        idCols.foldLeft(t) { case (df, (idc, stride)) =>
          df.withColumn(idc, col(idc) + lit(c * stride))
        }
      }.reduce(_ unionAll _)

    val docs = replicate(Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text")), Map("doc_id" -> docStride))
      .localCheckpoint(true)
    val events = replicate(Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"), col("ts")),
        Map("event_id" -> evStride, "user_id" -> docStride))
      .localCheckpoint(true)

    // id-ordered single-file chunks (file modification times ascend
    // with the write order, so maxFilesPerTrigger=1 replays them in id
    // order): chunk boundaries from exact id quantiles computed once —
    // no per-chunk global sort
    def writeRangeChunks(df: DataFrame, idCol: String, dir: String): Long = {
      val n = df.count()
      val bounds = df.stat.approxQuantile(
        idCol, (1 to nBatches).map(_.toDouble / nBatches).toArray, 0.0)
      var lo = Long.MinValue
      bounds.zipWithIndex.foreach { case (hi, b) =>
        val hiL = hi.toLong
        df.where(col(idCol) > lo && col(idCol) <= hiL)
          .coalesce(1).write.mode("overwrite").parquet(f"$dir/c$b%03d")
        lo = hiL
      }
      n
    }

    val docsIn = s"$root/docs_in"
    val evIn = s"$root/events_in"
    val nDocs = writeRangeChunks(docs, "doc_id", docsIn)
    val nEvents = writeRangeChunks(events, "event_id", evIn)
    val docSchema = spark.read.parquet(s"$docsIn/c000").schema
    val evSchema = spark.read.parquet(s"$evIn/c000").schema

    // ---- batch-side state bounds (measured, from the same input) ----
    def distinctCount(df: DataFrame): Long =
      df.distinct().count()
    val dupFpBound = distinctCount(docs.select(
      graft.llm.TextStats.fingerprint(col("text"))))
    val segFpBound = distinctCount(
      graft.llm.SegmentDedup.segments(docs, "doc_id", "text", w = 16)
        .select(col("seg_fp")))
    val cdcFpBound = distinctCount(
      graft.llm.CdcChunks.chunksMapOnly(docs, "doc_id", "text", 3, 8)
        .select(col("fp")))
    val sigs = graft.llm.MinHash.signatures(docs, "doc_id", "text", 3, 8)
    val bandRows = 4L * nDocs // k=8, rowsPerBand=2 -> 4 bands per doc
    val buckets = distinctCount(sigs.select(
        graft.llm.MinHash.bandCols(8, 2): _*)
      .select(posexplode(array((0 until 4).map(b => col(s"band_$b")): _*))
        .as(Seq("bi", "bv"))))
    val nearBound = math.min(bandRows, buckets * 1000L)
    val userBound = distinctCount(events.select(col("user_id")))

    // ---- drive one op through the replay and harvest progress ----
    def run(name: String, in: String, schema: org.apache.spark.sql.types.StructType,
            boundRows: Long)(build: DataFrame => DataFrame): OpStats = {
      val chk = s"$root/chk_$name"
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$in/*")
      val t0 = System.nanoTime()
      val q = build(stream).writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", chk)
        .format("noop")
        .start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      val rowsIn = progress.map(_.numInputRows).sum
      val durs = progress.map(_.batchDuration).sorted
      val last = progress.lastOption
      val ops = last.toSeq.flatMap(_.stateOperators.toSeq)
      val stateRows = ops.map(_.numRowsTotal).sum
      val mem = ops.map(_.memoryUsedBytes).sum
      // RocksDB's own size telemetry: on-disk SST bytes + pinned block
      // memory (the provider's custom-metric names in Spark 4.1)
      val custom = ops.flatMap(o =>
        o.customMetrics.entrySet().toArray.toSeq
          .map(_.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]]))
      val stateBytes = custom.filter { e =>
        val k = e.getKey
        k == "rocksdbSstFileSize" || k == "rocksdbPinnedBlocksMemoryUsage"
      }.map(_.getValue.longValue()).sum
      val st = OpStats(name, rowsIn, wall, progress.length,
        if (durs.isEmpty) 0L else durs(durs.length / 2),
        if (durs.isEmpty) 0L else durs.max,
        stateRows, stateBytes, mem, boundRows)
      System.err.println(s"[stream-bench] $name: ${st.json}")
      st
    }

    val stats = Seq(
      run("dedup_exact_stream", docsIn, docSchema, dupFpBound) { s =>
        // watermark needs an event-time column: stamp arrival order
        DedupStream.dropDupsStream(
          s.withColumn("ts", timestamp_seconds(col("doc_id") / lit(1000.0))),
          "text", "ts", watermarkDelay = "1 hour")
      },
      run("neardup_stream", docsIn, docSchema, nearBound) { s =>
        NearDupStream.nearDupVerdicts(s, "doc_id", "text").toDF()
      },
      run("segment_dedup_stream", docsIn, docSchema, segFpBound) { s =>
        SegmentDedupStream.segmentVerdicts(s, "doc_id", "text", w = 16).toDF()
      },
      run("cdc_dedup_stream", docsIn, docSchema, cdcFpBound) { s =>
        CdcDedupStream.chunkVerdicts(s, "doc_id", "text", k = 3, modulus = 8)
          .toDF()
      },
      run("sessionize_stream", evIn, evSchema, userBound) { s =>
        SessionizeStream.sessions(s, "user_id", "ts",
          gapSeconds = 1800L, watermarkDelay = "1 hour").toDF()
      })

    val opsJson = stats.map(s => s"""\"${s.name}\":${s.json}""")
      .mkString("{", ",", "}")
    val violated = stats.filter(s => s.stateRows > s.boundRows).map(_.name)
    val json =
      s"""{"metric":"streaming_bench","sf":"$sfDir","copies":$copies,""" +
        s""""n_docs":$nDocs,"n_events":$nEvents,"n_batches":$nBatches,""" +
        s""""backend":"rocksdb","ops":$opsJson,""" +
        s""""bound_violations":${violated.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""note":"id-ordered file replay, maxFilesPerTrigger=1, Trigger.AvailableNow, noop sink; state_rows/state_bytes from the FINAL batch's state operators (rocksdbSstFileSize + rocksdbPinnedBlocksMemoryUsage; memory_used_bytes is the provider's own gauge); bound_rows is the op's designed state bound MEASURED from the same input (distinct fingerprints / min(band rows, buckets x cap) / distinct users) — any op exceeding it fails this process"}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_STREAM_OUT", "BENCH_STREAMING.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
    if (violated.nonEmpty) {
      System.err.println(
        s"[stream-bench] STATE BOUND VIOLATED: ${violated.mkString(", ")}")
      sys.exit(1)
    }
  }
}
