package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder behind every harness main and the test
  * suites, so their configs cannot drift apart:
  *
  *  - UTC session time zone and ANSI off (the reference's semantics);
  *  - no UI;
  *  - `spark.sql.shuffle.partitions` from `SPARK_GRAFT_SHUFFLE_PARTITIONS`,
  *    else the core count. Shuffle parallelism scales with DATA, not
  *    cores: at sf100full 32 partitions put ~20M rows in each shuffle
  *    hash build and the graph fixed-points OOM, 256 keeps per-partition
  *    state executor-sized;
  *  - compressed serialized RDD blocks and a 2-minute periodic GC. The
  *    ContextCleaner reclaims shuffle files and blocks only after their
  *    RDDs are garbage-collected, which a large heap may put off for an
  *    hour; without both, the sf100full graph family's checkpoint
  *    generations overran a 59 GB scratch disk. Both cost nothing
  *    measurable on small runs;
  *  - log level WARN.
  */
object GraftSession {

  private def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** @param cores local cores: `SPARK_GRAFT_CPUS`, else every core,
    *        unless the caller's output must not depend on the machine
    * @param codec block/shuffle codec. lz4 (Spark's default) for timed
    *        runs: local-mode shuffles never cross a NIC, and zstd cost a
    *        measured ~8% on the shuffle-heavy families at sf0.1. zstd for
    *        the correctness dump, which is untimed and, at the full-table
    *        decades, scratch-disk-bound, where zstd's ratio is the point
    * @param extra further configs a caller adds on top (a state-store
    *        provider, a warehouse dir)
    */
  def apply(cores: Int = envCores, codec: String = "lz4",
            extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.rdd.compress", "true")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.io.compression.codec", codec)
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
