package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.pdq.Dq

/** DQ gates + rollup reconciliation (dags/pdq_etl_dag.py:254-429). */
class DqSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("negativeMeasures flags any negative measure (A5)") {
    val df = Seq((1, 1.0, 2.0), (2, -0.5, 0.0), (3, 0.0, -1.0))
      .toDF("k", "oil", "gas")
    val viol = Dq.negativeMeasures(df, Seq("oil", "gas"))
    assert(viol.select("k").as[Int].collect().toSet === Set(2, 3))
  }

  test("duplicateKeys flags PK violations (A4)") {
    val df = Seq((1, 202401), (1, 202401), (2, 202401)).toDF("k", "yyyymm")
    val dup = Dq.duplicateKeys(df, Seq("k", "yyyymm")).collect()
    assert(dup.length === 1 && dup(0).getLong(2) === 2L)
  }

  test("reconcile: tolerance filter keeps only real mismatches (J4)") {
    // coarse totals vs fine detail: key 1 matches (within 0.5), key 2 off
    // by 1.0, key 3 has no fine rows (null → 0 coalesce)
    val coarse = Seq((1, 10.0), (2, 10.0), (3, 5.0)).toDF("k", "m")
    val fine = Seq((1, 6.0), (1, 4.2), (2, 9.0)).toDF("k", "m")
    val out = Dq.reconcile(coarse, fine, "k", Seq("m"), tol = 0.5, checkType = "t")
      .orderBy("key").collect()
    assert(out.map(_.getString(1)).toSeq === Seq("2", "3"))
    assert(out(0).getString(0) === "t")
  }

  test("reconciliationReport unions and orders (U1+O2)") {
    val coarse = Seq((1, 10.0)).toDF("k", "m")
    val fine = Seq((1, 1.0)).toDF("k", "m")
    val a = Dq.reconcile(coarse, fine, "k", Seq("m"), checkType = "b_check")
    val b = Dq.reconcile(coarse, fine, "k", Seq("m"), checkType = "a_check")
    val rep = Dq.reconciliationReport(Seq(a, b)).collect()
    assert(rep.map(_.getString(0)).toSeq === Seq("a_check", "b_check"))
  }

  test("profile: one-pass null/distinct counts per column") {
    val df = Seq(
      (Some(1), Some("a")), (Some(1), None), (Some(2), Some("b")), (None, Some("a"))
    ).toDF("k", "v")
    val p = graft.ops.Profile.profile(df, Seq("k", "v"))
      .orderBy("column").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(p.toSeq === Seq(("k", 4L, 1L, 2L), ("v", 4L, 1L, 2L)))
  }

  test("observedMetrics: DQ counts arrive with the frame's own action, no second scan") {
    val path = java.nio.file.Files.createTempDirectory("obs").toString + "/t"
    val df = Seq(
      (Some(1L), 10.0), (Some(2L), -3.0), (None, 5.0), (Some(4L), -0.5)
    ).toDF("k", "v")
    val (observed, obs) = graft.pdq.Dq.observedMetrics(df, Seq("k"), Seq("v"))
    // the WRITE is the only action — metrics must ride along with it
    observed.write.parquet(path)
    val m = obs.get
    assert(m("n_rows") === 4L)
    assert(m("null_k") === 1L)
    assert(m("neg_v") === 2L)
    assert(m("n_negative") === 2L)
    // and the written data is untouched by the observation
    assert(spark.read.parquet(path).count() === 4)

    // n_negative counts ROWS with any negative measure, as
    // negativeMeasures does; an empty frame gives 0, not null
    val two = Seq((1L, -1.0, -2.0), (2L, 0.0, -1.0), (3L, 1.0, 1.0)).toDF("k", "a", "b")
    for (frame <- Seq(two, two.limit(0))) {
      val (o, ob) = graft.pdq.Dq.observedMetrics(frame, Seq("k"), Seq("a", "b"))
      o.write.mode("overwrite").parquet(path)
      assert(ob.get("n_negative") === Dq.negativeMeasures(frame, Seq("a", "b")).count())
    }
  }

  test("counts: several frames' row counts from one action, empty frames included") {
    val df = Seq(1, 2, 2, 3, 3, 3).toDF("k")
    val frames = Seq(df, df.where($"k" > 9), Dq.duplicateKeys(df, Seq("k")))
    assert(Dq.counts(frames) === frames.map(_.count()))
    assert(Dq.counts(frames) === Seq(6L, 0L, 2L))
  }

  test("equi-width histogram: integer edges, explicit under/overflow, counts sum to group size") {
    import graft.ops.Profile
    // [0, 100) in 10 buckets of width 10
    val df = Seq(("g", -5L), ("g", 0L), ("g", 9L), ("g", 10L), ("g", 55L),
      ("g", 99L), ("g", 100L), ("g", 250L)).toDF("grp", "v")
    val h = Profile.histogram(df, Seq("grp"), col("v"), 0L, 100L, 10)
      .orderBy("bucket").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(h.toSeq === Seq(
      (-1, 1L, -5L, -5L),   // underflow
      (0, 2L, 0L, 9L),      // 0 inclusive, 9 in bucket 0
      (1, 1L, 10L, 10L),    // edge value starts bucket 1
      (5, 1L, 55L, 55L),
      (9, 1L, 99L, 99L),    // hi-1 is the last in-range bucket
      (10, 2L, 100L, 250L)  // hi and beyond → overflow
    ))
    assert(h.map(_._2).sum === 8L)
    // non-divisible range: ceil width covers the whole of [0, hi)
    val h2 = Profile.histogram(Seq(("g", 94L)).toDF("grp", "v"),
        Seq("grp"), col("v"), 0L, 95L, 10) // width ceil(95/10)=10
      .select("bucket").collect().map(_.getInt(0)).toSeq
    assert(h2 === Seq(9))
  }

  test("equi-depth histogram: near-equal depths, boundary ties go down, per-group edges") {
    import graft.ops.Profile
    // 1..10 in 2 buckets: median boundary 5.5 splits 5/5
    val even = (1L to 10L).map(("g", _)).toDF("grp", "v")
    val h = Profile.equiDepthHistogram(even, Seq("grp"), col("v"), 2)
      .orderBy("bucket").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(h.toSeq === Seq((1, 5L, 1L, 5L), (2, 5L, 6L, 10L)))
    // duplicate run straddling the edge lands in ONE (lower) bucket
    val dup = Seq(1L, 1L, 1L, 1L, 2L, 3L).map(("g", _)).toDF("grp", "v")
    val hd = Profile.equiDepthHistogram(dup, Seq("grp"), col("v"), 2)
      .orderBy("bucket").collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(hd === Seq((1, 4L), (2, 2L))) // boundary=1.0; all four 1s go down
    // boundaries are each group's own: same values shifted per group
    val two = ((1L to 8L).map(("a", _)) ++ (101L to 108L).map(("b", _)))
      .toDF("grp", "v")
    val ht = Profile.equiDepthHistogram(two, Seq("grp"), col("v"), 4)
      .orderBy("grp", "bucket").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(ht === Seq(("a", 1, 2L), ("a", 2, 2L), ("a", 3, 2L), ("a", 4, 2L),
      ("b", 1, 2L), ("b", 2, 2L), ("b", 3, 2L), ("b", 4, 2L)))
  }

  test("k-anonymity: small groups reported, null combos are groups, stats add up") {
    import graft.ops.Privacy
    val df = (Seq(("tx", Some("a"))) ++                    // unique → risk
      Seq.fill(3)(("ca", Some("b"))) ++                    // 3 < k=5 → risk
      Seq.fill(12)(("ny", Some("c"))) ++                   // safe
      Seq(("tx", None), ("tx", None))                      // null combo, 2 rows
      ).toDF("state", "seg")
    val v = Privacy.kAnonymityViolations(df, Seq("state", "seg"), 5L)
      .orderBy("n_rows").collect()
    assert(v.map(_.getLong(2)).toSeq === Seq(1L, 2L, 3L))
    // the null quasi-combo is its own (reported) group
    assert(v.exists(r => r.getString(0) == "tx" && r.isNullAt(1)))
    val s = Privacy.kAnonymityStats(df, Seq("state", "seg"), 5L).head()
    assert((s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3),
      s.getLong(4)) === ((4L, 18L, 3L, 6L, 1L)))
    val e = intercept[IllegalArgumentException] {
      Privacy.kAnonymityStats(df, Seq("state"), 1L)
    }
    assert(e.getMessage.contains("k >= 2"))
  }

  test("l-diversity: size is no protection when the group agrees on the secret") {
    import graft.ops.Privacy
    val df = (
      Seq.fill(20)(("ny", "x")) ++                       // 20 rows, 1 value → violates
      (1 to 6).map(i => ("ca", s"v$i")) ++               // 6 rows, 6 values → safe
      Seq(("tx", "a"), ("tx", "a"), ("tx", "b"))         // 3 rows, 2 values → violates
      ).toDF("state", "diag")
    val s = Privacy.lDiversityStats(df, Seq("state"), "diag", l = 3L).head()
    assert((s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3),
      s.getLong(4)) === ((3L, 29L, 2L, 23L, 1L)))
    val e = intercept[IllegalArgumentException] {
      Privacy.lDiversityStats(df, Seq("state", "diag"), "diag", 3L)
    }
    assert(e.getMessage.contains("cannot also be a quasi-identifier"))
  }

  test("DP noisy counts: deterministic under the seed, noise centered and bounded") {
    import graft.ops.Privacy
    val df = (1 to 1000).map(i => (s"g${i % 50}", i)).toDF("g", "v")
    val a = Privacy.dpNoisyCounts(df, Seq("g"), epsilon = 1.0, seed = 7L)
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1)))
    val b = Privacy.dpNoisyCounts(df.repartition(13), Seq("g"),
        epsilon = 1.0, seed = 7L)
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(a.toSeq === b.toSeq, "seeded release must be partition-invariant")
    // every group has 20 rows; Laplace(1) noise at the md5 uniform is
    // within ±42 always (ln 1e-18 floor) and small on average
    assert(a.forall { case (_, v) => math.abs(v - 20.0) < 42.0 })
    val meanAbs = a.map { case (_, v) => math.abs(v - 20.0) }.sum / a.length
    assert(meanAbs > 0.01 && meanAbs < 5.0, s"meanAbs=$meanAbs")
    // a different seed is a different release
    val c = Privacy.dpNoisyCounts(df, Seq("g"), epsilon = 1.0, seed = 8L)
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(c.toSeq !== a.toSeq)
    // tighter epsilon → larger noise scale on the same uniforms
    val wide = Privacy.dpNoisyCounts(df, Seq("g"), epsilon = 0.1, seed = 7L)
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1)))
    a.zip(wide).foreach { case ((g, v1), (_, v10)) =>
      assert(math.abs(v10 - 20.0) > math.abs(v1 - 20.0) * 5 ||
        math.abs(v1 - 20.0) < 1e-9, s"$g: $v1 vs $v10")
    }
  }
}
