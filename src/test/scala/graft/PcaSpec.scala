package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Pca

/** Fixed-point power iteration: floor-division portability, planted-
  * direction accuracy, and determinism.
  */
class PcaSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("floorDivQ matches Math.floorDiv on signed operands") {
    val cases = for {
      a <- Seq(-1000001L, -17L, -1L, 0L, 1L, 17L, 999999L, 1000001L)
      b <- Seq(3L, 7L, 10000L, 1000000L)
    } yield (a, b)
    val got = cases.toDF("a", "b")
      .select(Pca.floorDivQ(col("a"), col("b")).as("q")).as[Long]
      .collect().toSeq
    assert(got === cases.map { case (a, b) => Math.floorDiv(a, b) })
  }

  test("recovers a planted dominant direction") {
    // u is a fixed 8-dim unit-ish direction; 200 vectors = spread·t·u +
    // small deterministic noise → eigengap is large and 5 iterations
    // must align with u
    val u = Array(0.5f, -0.3f, 0.2f, 0.6f, -0.1f, 0.4f, -0.2f, 0.25f)
    val rows = (0 until 200).map { k =>
      val t = (k % 9) - 4 // -4..4 spread along u
      val vec = Array.tabulate(8) { i =>
        val noise = (((k * 131 + i * 17) % 23) - 11) / 230.0f // ±0.05
        t * u(i) + noise
      }
      (k.toLong, vec)
    }
    val df = rows.toDF("vec_id", "embedding")
    val loadings = Pca.topComponentFixedPoint(df, "vec_id", "embedding",
        iters = 5)
      .orderBy("dim").select("loading").as[Double].collect()
    val nl = math.sqrt(loadings.map(x => x * x).sum)
    val nu = math.sqrt(u.map(x => x.toDouble * x).sum)
    val cos = loadings.zip(u).map { case (l, x) => l * x }.sum / (nl * nu)
    assert(math.abs(cos) > 0.99, s"cos=$cos loadings=${loadings.toSeq}")
    // sign orientation: the largest-|loading| component is positive
    val lead = loadings.maxBy(math.abs)
    assert(lead > 0)
  }

  test("is deterministic across runs") {
    val df = (0 until 50).map { k =>
      (k.toLong, Array.tabulate(4)(i => ((k * 7 + i * 3) % 13 - 6) / 6.0f))
    }.toDF("vec_id", "embedding")
    def run() = Pca.topComponentFixedPoint(df, "vec_id", "embedding", iters = 4)
      .orderBy("dim").select("loading").as[Double].collect().toSeq
    assert(run() === run())
  }

  test("driver-side iteration is bit-equal to the distributed loop") {
    // driverIterDims = 0 forces the distributed path (the SuffixArray
    // broadcastTies idiom); the default path must reproduce its exact
    // integer arithmetic bit-for-bit, floors and sign flip included
    val df = (0 until 120).map { k =>
      val t = (k % 7) - 3
      (k.toLong, Array.tabulate(6) { i =>
        t * (if (i % 2 == 0) 0.4f else -0.3f) +
          (((k * 37 + i * 11) % 19) - 9) / 95.0f
      })
    }.toDF("vec_id", "embedding")
    def run(bound: Int) = Pca.topComponentFixedPoint(df, "vec_id",
        "embedding", iters = 5, driverIterDims = bound)
      .orderBy("dim").select("dim", "loading").as[(Int, Double)]
      .collect().toSeq
    assert(run(1024) === run(0))
  }

  test("refuses ragged vectors instead of reading dims from one row") {
    val ragged = Seq((1L, Array(1.0f, 2.0f, 3.0f)), (2L, Array(1.0f, 2.0f)),
      (3L, Array(0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    for (bound <- Seq(1024, 0)) {
      val ex = intercept[IllegalArgumentException] {
        Pca.topComponentFixedPoint(ragged, "vec_id", "embedding", iters = 2,
          driverIterDims = bound)
      }
      assert(ex.getMessage.contains("ragged"))
    }
    // null vectors are not ragged: they explode to nothing, as before
    val withNull = Seq((1L, Array(1.0f, 0.0f)), (2L, null), (3L, Array(0.0f, 1.0f)),
      (4L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")
    assert(Pca.topComponentFixedPoint(withNull, "vec_id", "embedding", iters = 2)
      .count() === 2)
  }
}
