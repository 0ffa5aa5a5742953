package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.pdq.Pipeline

/** Runs one PDQ workload in one JVM and writes what it measured as JSON.
  * `run.py` generates the inputs, starts this, derives the metrics and
  * prints them.
  *
  * One client sends one month load at a time (a closed loop). The timed
  * operation (`--op`) either loads the export's first month into an empty
  * warehouse, or replays the last of the `--preload` months over a
  * warehouse holding them. Set-up ends after the first, untimed load of
  * that month; a run then times `--ops` operations, fewer only once
  * `--seconds` is used up.
  *
  * That first load is checked in full against `expected.json`; every
  * operation after it must give the expected DqReport and leave every
  * table's content as that load did. With `--trace 1` the operation runs
  * twice: through `Pipeline.runMonth`, and through [[Composed]], which
  * records a span per layer. Both are held to the same checks, and must
  * give the same DqReport.
  *
  * Usage: Main --workload W --inputs DIR --work DIR --seconds N
  *        --trace 0|1 --preload P --op load|replay --ops N --out FILE
  */
object Main {
  final case class Op(kind: String, month: Int, traced: Boolean, s: Double,
                      errors: mutable.ArrayBuffer[String], dq: Map[String, Long])

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.rdd.compress", "true")
      .config("spark.io.compression.codec", "lz4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  /** Heap still in use after a full collection, in MiB. Spark's context
    * cleaner frees blocks, broadcasts and shuffles asynchronously once a
    * collection finds their handles unreachable; the pause lets it run
    * before the collection that is measured, so repeated readings agree.
    */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val inputs = args("inputs")
    val work = args("work")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val exp = mapper.readTree(new File(s"$inputs/expected.json"))
    val months = (0 until exp.get("month_list").size).map(exp.get("month_list").get(_).asInt)
    val preload = months.take(args("preload").toInt)
    val replay = args("op") == "replay"
    val nOps = args("ops").toInt
    // a load takes the export's first month; a replay re-runs the last
    // preloaded month
    val month = if (replay) preload.last else months.head
    val operatorDsv = s"$inputs/operator.dsv"
    val leaseDsv = s"$inputs/lease.dsv"

    val spark = session()
    val off = new Tracer(spark.sparkContext, "", enabled = false)
    val ops = mutable.ArrayBuffer.empty[Op]
    var heapPeak = 0.0

    /** Run month `m` into `wh` and record it as an operation of `kind`. */
    def run(kind: String, wh: String, m: Int, t: Tracer): Op = {
      val t0 = System.nanoTime()
      val r = Try(
        if (t.enabled) Composed.month(spark, t, operatorDsv, leaseDsv, wh, m)
        else Pipeline.runMonth(spark, operatorDsv, leaseDsv, wh, m))
      val s = (System.nanoTime() - t0) / 1e9
      heapPeak = math.max(heapPeak, heapAfterGcMb())
      val op = Op(kind, m, t.enabled, s, mutable.ArrayBuffer.empty, Map.empty)
      val done = r match {
        case Success(rep) => op.copy(dq = Checks.dqOf(rep))
        case Failure(e) => op.errors += e.toString; op
      }
      ops += done
      done
    }

    /** Load `ms` in order into `wh` and check the result in full against
      * the expected answer: each month's report, row counts and measure
      * sums, then the dimensions. Returns the checked tables' hashes.
      */
    def loadChecked(kind: String, wh: String, ms: Seq[Int]): Map[String, (Long, Long)] = {
      val done = ms.map(run(kind, wh, _, off))
      val ok = done.filter(_.errors.isEmpty)
      if (ok.nonEmpty) {
        val errs = Checks.months(spark, wh, exp, ok.map(o => o.month -> o.dq).toMap)
        ok.foreach(o => o.errors ++= errs(o.month))
      }
      val h = Checks.hashes(spark, wh)
      done.last.errors ++= Checks.dims(h, ms.last, exp)
      h
    }

    // ---- set-up: JVM start to a warmed-up session. A load starts from an
    // empty warehouse, a replay from one holding the preloaded months. The
    // first load of the operation's month, untimed, is the warm-up: Spark
    // generates and compiles its code, the JIT compiles Spark's. It is
    // checked in full, and its tables' hashes become the reference ----
    require(replay || preload.isEmpty, "a load starts from an empty warehouse")
    val wh = s"$work/wh"
    delete(wh)
    val ref =
      if (replay) loadChecked("preload", wh, preload)
      else loadChecked("warmup", wh, Seq(month))

    /** The operation on `wh`. Its report must match the expected answer,
      * and afterwards every table must hash as in the reference state: a
      * load into an empty warehouse rebuilds it, a replay leaves it as it
      * found it, which also means it lost no dim row.
      */
    def op(kind: String, t: Tracer): Op = {
      if (!replay) delete(wh)
      val o = run(kind, wh, month, t)
      if (o.errors.isEmpty) {
        o.errors ++= Checks.report(month, o.dq, exp)
        o.errors ++= Checks.sameHashes(kind, ref, Checks.hashes(spark, wh))
      }
      o
    }

    val setupS = System.currentTimeMillis() / 1e3 -
      ManagementFactory.getRuntimeMXBean.getStartTime / 1e3

    val recorder = new Recorder
    spark.sparkContext.addSparkListener(recorder)
    val tracer = new Tracer(spark.sparkContext, s"$workload-${exp.get("seed").asLong}", traced)
    val kind = if (replay) "replay" else "load"

    if (!traced) {
      // a fixed count keeps the median's make-up the same from run to
      // run; `--seconds` only stops a run on a much slower machine early
      var n = 0
      var used = 0.0
      while (n < nOps && (n == 0 || used < seconds)) {
        used += op(kind, off).s
        n += 1
      }
    } else {
      // the operation through runMonth, then composed and traced; both
      // must give the same report and leave the same tables
      val r = op(kind, off)
      val c = op(kind, tracer)
      if (r.dq != c.dq) c.errors += s"traced ${c.kind} ${c.month} DqReport ${c.dq} != ${r.dq}"
    }
    PerfbenchBus.drain(spark.sparkContext)

    val result = Map(
      "workload" -> workload,
      "setup_s" -> setupS,
      "months" -> (preload :+ month).distinct,
      "warehouse" -> wh,
      "heap_peak_mb" -> heapPeak,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "month" -> o.month,
        "traced" -> o.traced, "s" -> o.s, "errors" -> o.errors.toSeq)),
      "trace" -> (if (!traced) Map.empty[String, Any] else Map(
        "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "run" -> s.run, "start_us" -> s.start,
          "end_us" -> s.end, "counts" -> s.counts.toMap)),
        "jobs" -> recorder.jobs.map(j => Map("id" -> j.id, "span" -> j.span,
          "start_ms" -> j.start, "end_ms" -> j.end)),
        "tasks" -> recorder.tasks.map(t => Map("span" -> t.span, "stage" -> t.stage,
          "dur_ms" -> t.durMs, "shuffle_write_bytes" -> t.shuffleWriteBytes,
          "spill_bytes" -> t.spillBytes, "records_written" -> t.recordsWritten,
          "bytes_written" -> t.bytesWritten, "file_scan_rows" -> t.fileScanRows,
          "cache_scan_rows" -> t.cacheScanRows)))))
    mapper.writeValue(new File(args("out")), result)
    spark.stop()
  }
}
