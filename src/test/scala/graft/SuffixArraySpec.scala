package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.SuffixArray

/** Distributed suffix array (prefix doubling) against an in-memory
  * brute force: exact rank permutation, exact adjacent LCPs, duplicated
  * w-gram positions, sentinel isolation across document boundaries, and
  * agreement with the independent shingle-count algorithm.
  */
class SuffixArraySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Brute-force ground truth mirroring the build's key construction:
    * per-doc tokens + unique sentinel, vocab ranks by token order,
    * suffix ranks by full key-sequence sort.
    */
  private def brute(docs: Seq[(Long, String)]) = {
    val sorted = docs.sortBy(_._1)
    val toks = sorted.map { case (id, t) =>
      id -> t.trim.split("[ \\t\\n\\u000B\\f\\r]+").filter(_.nonEmpty).toSeq
    }
    val vocab = toks.flatMap(_._2).distinct.sorted.zipWithIndex
      .map { case (t, i) => t -> (i + 1L) }.toMap
    val d = sorted.size.toLong
    // (key, docId, pos, isTok, rem)
    val seq = toks.zipWithIndex.flatMap { case ((id, ws), di) =>
      ws.zipWithIndex.map { case (w, p) =>
        (d + vocab(w), id, p + 1L, true, (ws.size - p).toLong)
      } :+ ((di + 1L, id, ws.size + 1L, false, 0L))
    }
    val keys = seq.map(_._1).toArray
    val n = keys.length
    val order = (0 until n).sortWith { (a, b) =>
      val cmp = Iterator.from(0)
        .map(k => (a + k, b + k))
        .map { case (i, j) =>
          if (i >= n && j >= n) 0
          else if (i >= n) -1 else if (j >= n) 1
          else java.lang.Long.compare(keys(i), keys(j))
        }
        .find(_ != 0)
      cmp.exists(_ < 0)
    }
    val rank = new Array[Long](n)
    order.zipWithIndex.foreach { case (i, r) => rank(i) = r + 1L }
    val lcps = order.zip(order.drop(1)).map { case (a, b) =>
      var l = 0L
      while (a + l < n && b + l < n && keys((a + l).toInt) == keys((b + l).toInt)) l += 1
      (a, b, l)
    }
    (seq, rank, lcps, n)
  }

  private def buildOn(docs: Seq[(Long, String)]) =
    SuffixArray.build(docs.toDF("doc_id", "text"), "doc_id", "text", numRanges = 4)

  private val tiny = Seq(
    (10L, "b a n a n a"),
    (20L, "a n a b"),
    (30L, "n a b a n"))

  test("rank permutation matches brute force on a tiny corpus") {
    val res = buildOn(tiny)
    val (seq, rank, _, n) = brute(tiny)
    assert(res.n === n)
    val got = res.seq.join(res.sa, Seq("g"))
      .select(col("doc_id"), col("pos"), col("r"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exp = seq.zipWithIndex.map { case ((_, id, pos, _, _), i) =>
      (id, pos, rank(i))
    }.toSet
    assert(got === exp)
  }

  test("rank permutation matches brute force on a seeded random corpus") {
    val rnd = new scala.util.Random(42)
    val vocab = Seq("aa", "ab", "b", "c", "dd")
    val docs = (1L to 40L).map { id =>
      val len = 3 + rnd.nextInt(25)
      id -> Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val res = buildOn(docs)
    val (seq, rank, _, _) = brute(docs)
    val got = res.seq.join(res.sa, Seq("g"))
      .select(col("doc_id"), col("pos"), col("r"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exp = seq.zipWithIndex.map { case ((_, id, pos, _, _), i) =>
      (id, pos, rank(i))
    }.toSet
    assert(got === exp)
  }

  test("adjacent LCPs are exact (binary lifting vs brute force)") {
    val rnd = new scala.util.Random(7)
    val vocab = Seq("x", "y", "z")
    val docs = (1L to 25L).map { id =>
      val len = 2 + rnd.nextInt(20)
      id -> Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val res = buildOn(docs)
    val (_, _, lcps, _) = brute(docs)
    val got = SuffixArray.adjacentLcp(res)
      .select(col("rank_hi"), col("lcp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val exp = lcps.zipWithIndex.map { case ((_, _, l), i) => (i + 2L, l) }.toMap
    assert(got === exp)
  }

  test("LCP never crosses a document boundary (unique sentinels)") {
    // doc 2's text IS a suffix of doc 1 followed by doc 3's prefix in
    // corpus order — any cross-sentinel match would overshoot
    val docs = Seq(
      (1L, "p q r s"),
      (2L, "r s"),          // shares "r s" with doc 1's tail
      (3L, "p q"))          // doc 2's corpus successor starts with p q
    val res = buildOn(docs)
    val (_, _, lcps, _) = brute(docs)
    val maxLcp = SuffixArray.adjacentLcp(res).agg(max(col("lcp"))).head.getLong(0)
    assert(maxLcp === lcps.map(_._3).max)
    assert(maxLcp === 2L) // "r s" / "p q", never "r s p q"
  }

  test("dupPositions == independent shingle-count algorithm") {
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "x x a b c d e"),      // shares the 5-gram "a b c d e"
      (3L, "m m m m m m m m"),    // in-doc repeats count too (pos 1..4)
      (4L, "q w e r t"))          // clean
    val w = 5
    val res = buildOn(docs)
    val got = SuffixArray.dupPositions(res, "doc_id", w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute: gram occurs >= 2 times anywhere
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }
    val counts = toks.flatMap { case (_, ws) =>
      ws.sliding(w).filter(_.size == w).map(_.mkString(" "))
    }.groupBy(identity).map { case (k, v) => k -> v.size }
    val exp = toks.flatMap { case (id, ws) =>
      ws.sliding(w).filter(_.size == w).zipWithIndex.collect {
        case (g, i) if counts(g.mkString(" ")) >= 2 => (id, i + 1L)
      }
    }.toSet
    assert(got === exp)
    assert(exp.contains((3L, 1L)) && exp.contains((3L, 4L)))
    assert(!exp.exists(_._1 == 4L))
  }

  test("repeat families: a passage shared by 3 docs yields shifted families") {
    // 12-token passage P in three docs; threshold semantics (L=6) group
    // SUFFIXES: start positions share all 12 tokens, the +1 shifts share
    // 11, ... down to shifts sharing exactly 6 — seven families of
    // size 3, shared_len 12..6
    val p = "k1 k2 k3 k4 k5 k6 k7 k8 k9 k10 k11 k12"
    val docs = Seq(
      (1L, s"$p x y"),
      (2L, s"a b $p"),
      (3L, s"c $p d"))
    val L = 6
    val res = buildOn(docs)
    val lcp = SuffixArray.adjacentLcp(res)
    val conn = lcp.where(col("lcp") >= L)
    val fam = graft.ops.ConnectedComponents.components(
      conn.select((col("rank_hi") - 1L).as("src"), col("rank_hi").as("dst")),
      "src", "dst")
    val sizes = fam.groupBy(col("component")).count()
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(sizes === Seq.fill(12 - L + 1)(3L))
    val sharedLens = conn
      .join(fam.select(col("id").as("rank_hi"), col("component")), Seq("rank_hi"))
      .groupBy(col("component")).agg(min(col("lcp")).as("sl"))
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(sharedLens === (L.toLong to 12L))
  }

  test("shuffle (big) path == broadcast path: ranks, levels and LCPs") {
    // broadcastTies = 0 forces every round and every lift level onto the
    // corpus-grain shuffle path that 100 TB early rounds take; the
    // default build takes the broadcast path on a corpus this small.
    // Both must produce the identical structure.
    val rnd = new scala.util.Random(99)
    val vocab = Seq("aa", "ab", "b", "c")
    val docs = (1L to 30L).map { id =>
      val len = 2 + rnd.nextInt(22)
      id -> Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val df = docs.toDF("doc_id", "text")
    val small = SuffixArray.build(df, "doc_id", "text", numRanges = 4)
    val big = SuffixArray.build(df, "doc_id", "text", numRanges = 4,
      broadcastTies = 0L)
    def ranks(r: graft.llm.SuffixArrayResult) =
      r.sa.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(ranks(small) === ranks(big))
    assert(small.levels.map(l => (l.prefixLen, l.nTied)) ===
      big.levels.map(l => (l.prefixLen, l.nTied)))
    def lcps(r: graft.llm.SuffixArrayResult, bt: Long) =
      SuffixArray.adjacentLcp(r, broadcastTies = bt)
        .collect().map(x => (x.getLong(0), x.getLong(3))).toSet
    assert(lcps(small, graft.ops.BroadcastBudget.Rows) === lcps(big, 0L))
  }

  test("empty and single-token documents are handled") {
    val docs = Seq((1L, "a"), (2L, "   "), (3L, "a b a"))
    val res = buildOn(docs)
    val (seq, rank, _, n) = brute(docs)
    assert(res.n === n) // doc 2 contributes only its sentinel
    val got = res.seq.join(res.sa, Seq("g"))
      .select(col("doc_id"), col("pos"), col("r"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exp = seq.zipWithIndex.map { case ((_, id, pos, _, _), i) =>
      (id, pos, rank(i))
    }.toSet
    assert(got === exp)
  }
}
