package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Bpe

/** BPE training-scale bench: the THREE trainers on the SAME word
  * table, at a vocabulary size where the ROUND COUNT (not data volume)
  * is the cost — the regime a production 32k-merge tokenizer training
  * lives in.
  *
  *  - [[graft.llm.Bpe.learnMerges]] — fully distributed, structurally
  *    one Spark round per merge;
  *  - [[graft.llm.Bpe.learnMergesBatched]] — top-K symbol-disjoint
  *    merges per round under exactness-preserving rules. The bench
  *    EXPOSED its limit: on zipfian data the 2·M equality barrier
  *    truncates almost every batch to one merge, so it does not beat
  *    sequential here (kept as the fully-distributed fallback for
  *    uncollectable word tables);
  *  - [[graft.llm.Bpe.learnMergesLocal]] — the production hybrid:
  *    distributed corpus pass, bounded vocab-grain collect, in-memory
  *    exact greedy. This is the one that removes the round cap.
  *
  * All three must produce a BIT-IDENTICAL merge table — asserted here,
  * not assumed (and oracle-certified by the `bpe_merges*` contract
  * queries).
  *
  * Emits ONE JSON line and writes it to `BENCH_BPE.json`
  * (`SPARK_GRAFT_BPE_OUT` overrides).
  *
  * Env: `SPARK_GRAFT_SF_DIR` (default /root/testdata/sf0.1),
  * `SPARK_GRAFT_BPE_MERGES` (default 512),
  * `SPARK_GRAFT_BPE_BATCHK` (default 16), `SPARK_GRAFT_CPUS`.
  */
object BpeBench {

  /** A REALISTIC-vocabulary word table from the deterministic corpus.
    *
    * The fixture text draws from ~31 distinct words — fine for the
    * 20-merge contract queries, degenerate for a training-scale bench
    * (training exhausts at ~93 merges and every round's candidates
    * share symbols, so batching has nothing to batch). Fusing each
    * document's consecutive word TRIGRAMS into surrogate words keeps
    * the input deterministic and corpus-derived while yielding a
    * zipfian vocabulary of ~20k forms — the shape a real tokenizer
    * trains on. Fused words are pure `[a-z]` (no separator), so the
    * `</w>` marker stays collision-free; words longer than 2·passes
    * symbols under-merge identically in BOTH trainers (the same
    * iterated-replace applications compose in rank order), so the
    * sequential≡batched assertion is unaffected.
    */
  private def words(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(expr(
        "filter(split(lower(text), '[^a-z]+'), x -> x <> '')").as("__t"))
      .select(explode(expr(
        "zip_with(slice(__t, 1, greatest(size(__t) - 2, 0)), " +
          "zip_with(slice(__t, 2, greatest(size(__t) - 2, 0)), " +
          "slice(__t, 3, greatest(size(__t) - 2, 0)), " +
          "(y, z) -> concat(y, z)), (x, yz) -> concat(x, yz))"))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val numMerges = sys.env.getOrElse("SPARK_GRAFT_BPE_MERGES", "512").toInt
    val batchK = sys.env.getOrElse("SPARK_GRAFT_BPE_BATCHK", "16").toInt
    val spark = GraftSession()

    // One corpus pass, shared by both trainers: the bench isolates the
    // TRAINING loops (the quantity under test), not the tokenize+count.
    val wordTable = words(spark, sfDir).localCheckpoint(true)
    val nForms = wordTable.count()

    def collectMerges(df: DataFrame): Seq[(Long, String, String, Long)] =
      df.orderBy(col("rank")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq

    val t0 = System.nanoTime()
    val seq = collectMerges(
      Bpe.learnMerges(wordTable, "word", "cnt", numMerges, passes = 8))
    val seqSec = (System.nanoTime() - t0) / 1e9
    val seqRounds = Bpe.lastTrainRounds

    val t1 = System.nanoTime()
    val bat = collectMerges(
      Bpe.learnMergesBatched(wordTable, "word", "cnt", numMerges,
        passes = 8, batchK = batchK))
    val batSec = (System.nanoTime() - t1) / 1e9
    val batRounds = Bpe.lastTrainRounds
    // per-round KEPT batch width: the collapse mechanism made visible —
    // width 1 means the 2·M barrier (or a symbol conflict) truncated
    // the round to sequential behavior
    val widths = Bpe.lastBatchWidths
    val widthMean =
      if (widths.isEmpty) 0.0 else widths.sum.toDouble / widths.size
    val widthMax = if (widths.isEmpty) 0 else widths.max
    val width1Rounds = widths.count(_ == 1)

    // the hybrid trainer: the same word table collected once (bounded,
    // vocab-grain), exact greedy in memory — zero Spark training rounds
    val t2 = System.nanoTime()
    val loc = Bpe.learnMergesLocal(wordTable, "word", "cnt", numMerges,
        passes = 8)
      .map(m => (m.rank, m.lft, m.rgt, m.pairCount))
    val locSec = (System.nanoTime() - t2) / 1e9

    val identical = seq == bat && seq == loc
    val json =
      s"""{"metric":"bpe_train","sf":"$sfDir","num_merges":$numMerges,""" +
        s""""batch_k":$batchK,"word_forms":$nForms,""" +
        f""""seq_sec":$seqSec%.3f,"seq_rounds":$seqRounds,""" +
        f""""batched_sec":$batSec%.3f,"batched_rounds":$batRounds,""" +
        f""""batched_width_mean":$widthMean%.3f,""" +
        s""""batched_width_max":$widthMax,""" +
        s""""batched_width1_rounds":$width1Rounds,""" +
        f""""local_sec":$locSec%.3f,""" +
        f""""local_speedup":${seqSec / locSec}%.1f,""" +
        f""""batched_speedup":${seqSec / batSec}%.2f,""" +
        s""""identical":$identical}"""
    println(json)
    val out = sys.env.getOrElse("SPARK_GRAFT_BPE_OUT", "BENCH_BPE.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    // a non-identical merge table is a correctness failure, not a bench
    // number — fail the process so a gate script can't miss it
    if (!identical) {
      System.err.println("[bpe-bench] batched merge table != sequential")
      sys.exit(1)
    }
  }
}
