package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Similarity

/** [[Memo]]'s registry, session eviction, one-training-per-key and
  * training count.
  */
class MemosSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Runs `f` on `n` threads at once and returns each thread's result. */
  private def onThreads[T](n: Int)(f: => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CountDownLatch(1)
    try {
      val fs = Seq.fill(n)(Future { start.await(); f })
      start.countDown()
      Await.result(Future.sequence(fs), 2.minutes)
    } finally { pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS) }
  }

  test("clearAll empties every registered memo, one declared here too") {
    val local = new Memo[String]("memos-spec-local")
    local("k")("v")
    val df = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    Similarity.kMeansCentroidsCached("memos-spec-clear", df, "vec_id",
      "embedding", k = 2, iters = 0)
    assert(local.get("k") === Some("v"))
    assert(Similarity.trainedCentroids("memos-spec-clear").isDefined)
    Memos.clearAll()
    assert(local.get("k") === None)
    assert(Similarity.trainedCentroids("memos-spec-clear") === None)
  }

  test("a key of another session is evicted on the next insert, not on a hit") {
    val m = new Memo[Int]("memos-spec-session")
    assert(m.session(spark, "a")(1) === 1)
    m("app-gone:0:old")(0)
    assert(m.session(spark, "a")(2) === 1) // a hit keeps the foreign key
    assert(m.get("app-gone:0:old") === Some(0))
    assert(m.session(spark, "b")(3) === 3) // an insert evicts it
    assert(m.get("app-gone:0:old") === None)
    assert(m.peek("old") === None)
    assert(m.peek("a") === Some(1) && m.peek("b") === Some(3))
  }

  test("two threads asking one key train exactly once") {
    val m = new Memo[Array[Int]]("memos-spec-race")
    val runs = new AtomicInteger
    val got = onThreads(2) {
      m("k") { runs.incrementAndGet(); Thread.sleep(200); Array(1) }
    }
    assert(runs.get === 1 && m.trained === 1)
    assert(got(0) eq got(1))
  }

  test("two threads training one PQ tag get the same codebooks from one training") {
    val df = Seq((0L, Array(1f, 0f, 0f, 1f)), (1L, Array(0f, 1f, 1f, 0f)),
      (2L, Array(1f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val ev0 = Memos.trainedEvents
    val got = onThreads(2) {
      Similarity.pqCodebooksCached("memos-spec-pq", df, "vec_id",
        "embedding", dims = 4, m = 2, k = 2, iters = 1)
    }
    assert(Memos.trainedEvents - ev0 === 1)
    assert(got(0) eq got(1))
    assert(Similarity.trainedCodebooks("memos-spec-pq", m = 2).exists(_ eq got(0)))
  }

  test("trainedEvents rises by one per training and by zero on a hit") {
    val m = new Memo[String]("memos-spec-count")
    val ev0 = Memos.trainedEvents
    m("x")("1")
    assert(Memos.trainedEvents - ev0 === 1)
    m("x")("2")
    assert(Memos.trainedEvents - ev0 === 1)
    m("y")("3")
    m.session(spark, "z")("4")
    assert(Memos.trainedEvents - ev0 === 3 && m.trained === 3)
  }
}
