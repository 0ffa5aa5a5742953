package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared session config, and the per-query counts `Bench` writes. */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("the test session carries the harnesses' shared config") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.master") === "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.ansi.enabled") === "false")
    assert(conf.get("spark.ui.enabled") === "false")
    assert(conf.get("spark.rdd.compress") === "true")
    assert(conf.get("spark.cleaner.periodicGC.interval") === "2min")
    assert(conf.get("spark.io.compression.codec") === "lz4")
    assert(spark.conf.get("spark.sql.shuffle.partitions") ===
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "4"))
  }

  test("Bench counts one job, one stage and two tasks for a 2-partition noop write") {
    val counter = new Bench.Counter(spark)
    try {
      val before = counter.read()
      spark.range(0, 10, 1, 2).write.format("noop").mode("overwrite").save()
      assert(counter.read() - before === Bench.Counts(jobs = 1, stages = 1, tasks = 2))
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}
