package graft.sources

import java.io.{BufferedReader, FileNotFoundException, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.TextInputFormat
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, lit, size, split}
import org.apache.spark.sql.types.StringType
import graft.ops.Casts

/** `}`-delimited DSV reader (S1/S2 — reference dags/pdq_etl_dag.py:193-206).
  *
  * The reference reads the RRC PDQ `.dsv` exports with pandas in 1M-row
  * chunks, all columns as strings, literal quoting, and a null-token list.
  * Spark-first replacement: the lines are read as Hadoop text splits (at
  * least one per core, whatever the file size), each file's first line is
  * dropped as its header, and the rest are parsed as CSV against the
  * header's all-string schema. The multi-token null normalization the
  * pandas reader does via `na_values` becomes a post-read column pass
  * (Spark CSV supports a single `nullValue`, so the rest of the tokens are
  * normalized by [[graft.ops.Casts.normNull]]).
  */
object Dsv {

  /** Read `}`-delimited data: a file, a directory of files or a glob, each
    * file headed by its header row. Every column is `StringType`, quotes
    * are literal (pandas `quoting=3`), null tokens `"", NULL, null, NaN,
    * nan` → null, header names trimmed (S2). The column names come from
    * the first file's header; every file's header line (its line at byte
    * offset 0) is dropped, and a data line byte-equal to a header is kept
    * as data. Hidden files (`_`/`.` prefix, like `_SUCCESS`) are skipped.
    *
    * @param schemaCols optional declared column list. Binding is BY HEADER
    *        NAME, like the reference's pandas `read_csv` — an explicit
    *        Spark CSV schema would bind positionally and silently mislabel
    *        a file whose column order differs from the declaration
    *        (round-2 advice). Declared columns present in the header are
    *        selected in declared order; declared columns absent from the
    *        file come back as null columns (the tolerant-declared style
    *        the pipeline relies on for optional variant columns); file
    *        columns not declared are dropped.
    */
  def read(spark: SparkSession, path: String,
           schemaCols: Seq[String] = Nil): DataFrame = {
    val sc = spark.sparkContext
    val parsed = header(spark, path) match {
      case None => spark.emptyDataFrame // no file holds a line
      case Some(h) =>
        val lines = sc.hadoopFile[LongWritable, Text, TextInputFormat](
            path, sc.defaultParallelism)
          .flatMap { case (offset, line) =>
            if (offset.get == 0L) None else Some(line.toString) }
        spark.read
          .schema(RawStore.stringSchema(headerNames(h)))
          .option("sep", "}")
          // pandas csv.QUOTE_NONE analog: \u0000 quote char disables quoting
          .option("quote", "\u0000")
          .option("mode", "PERMISSIVE")
          .csv(spark.createDataset(lines)(Encoders.STRING))
    }
    // P10: normalize null tokens + trim values.
    val bound =
      if (schemaCols.nonEmpty) {
        val present = parsed.columns.toSet
        parsed.select(schemaCols.map { c =>
          val name = c.trim
          if (present.contains(name)) col(name)
          else lit(null).cast(StringType).as(name)
        }: _*)
      } else parsed
    Casts.normNullAll(bound)
  }

  /** Column names from a header line as Spark's CSV header reader names
    * them (an empty name becomes `_c<i>`, names that repeat
    * case-insensitively get their index appended), then trimmed (S2).
    */
  private def headerNames(header: String): Seq[String] = {
    val names = header.split("\\}", -1).toSeq
    val lower = names.map(_.toLowerCase)
    val repeated = lower.diff(lower.distinct).toSet
    names.zipWithIndex.map { case (n, i) =>
      (if (n.isEmpty) s"_c$i" else if (repeated(n.toLowerCase)) s"$n$i" else n).trim
    }
  }

  /** The first line of the first file under `path` (in name order) that
    * has one, skipping hidden files as Hadoop's input formats do. Read
    * through the filesystem: a multi-split read makes no first-line
    * promise.
    */
  private def header(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(p)).getOrElse(Array.empty)
    if (matched.isEmpty) throw new FileNotFoundException(s"Path does not exist: $path")
    matched.toSeq
      .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s))
      .filter(s => s.isFile && !"_.".contains(s.getPath.getName.head))
      .map(_.getPath).sortBy(_.toString)
      .iterator.flatMap(firstLine(fs, _)).nextOption()
  }

  /** A file's first line without a UTF-8 byte-order mark (Hadoop's line
    * reader skips one too); None for an empty file.
    */
  private def firstLine(fs: FileSystem, file: Path): Option[String] = {
    val in = new BufferedReader(new InputStreamReader(fs.open(file), StandardCharsets.UTF_8))
    try Option(in.readLine()).map(_.stripPrefix("\uFEFF")) finally in.close()
  }

  /** Shape-reject audit: raw lines whose `}`-token count differs from the
    * header's. PERMISSIVE CSV silently pads short rows with nulls and
    * truncates long ones — correct for tolerant ingest ([[read]]), but an
    * export whose row shapes drift deserves a visible signal, and neither
    * mode surfaces it (`_corrupt_record` only marks unparseable rows,
    * which an all-string schema never has).
    *
    * A deliberate SECOND pass over the raw file (pure column expressions,
    * one `split` per line): run it as an audit next to the ingest when
    * shape drift matters, not unconditionally at 100 TB.
    *
    * `path` must be a SINGLE file: a directory/glob interleaves several
    * files whose first rows are all headers, and "the header" is no
    * longer well-defined (audit per file instead). No header-equality
    * filter is needed: the header (and any data line byte-equal to it)
    * carries exactly the header's token count, so the shape predicate can
    * never emit it.
    *
    * @return (line, n_tokens) for each line with a token count ≠ the
    *         header's
    */
  def shapeRejects(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.getFileStatus(p).isFile,
      s"shapeRejects audits a single file; '$path' is not one — run it per file")
    val nCols = firstLine(fs, p).getOrElse("").split("\\}", -1).length
    spark.read.text(path)
      .select(col("value").as("line"), size(split(col("value"), "\\}", -1)).as("n_tokens"))
      .where(col("n_tokens") =!= lit(nCols))
  }
}
