package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Dsv

/** S1/S2/P10 — `}`-delimited reader semantics (dags/pdq_etl_dag.py:193-206). */
class DsvSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("reads }-delimited with header trim, literal quotes, null tokens") {
    val dir = Files.createTempDirectory("dsv").toFile
    val f = new java.io.File(dir, "op.dsv")
    val w = new java.io.PrintWriter(f)
    w.println(" OPERATOR_NO }OPERATOR_NAME}OIL")
    w.println("""123456}ACME "QUOTED" CO}1500.25""")
    w.println("""789012}NULL} 250 """)
    w.println("""345678}NaN}""")
    w.close()
    val df = Dsv.read(spark, f.getAbsolutePath)
    assert(df.columns.toSeq === Seq("OPERATOR_NO", "OPERATOR_NAME", "OIL"))
    val rows = df.orderBy("OPERATOR_NO").collect()
    assert(rows.length === 3)
    // rows sorted by string key: 123456, 345678, 789012
    // quotes survive literally (pandas quoting=3)
    assert(rows(0).getString(1) === """ACME "QUOTED" CO""")
    // null tokens → null ("NaN" name, "" oil)
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2))
    // "NULL" name → null; value trim (P10): " 250 " → "250"
    assert(rows(2).isNullAt(1) && rows(2).getString(2) === "250")
  }

  test("declared all-string schema nulls missing trailing columns") {
    val dir = Files.createTempDirectory("dsv2").toFile
    val f = new java.io.File(dir, "l.dsv")
    val w = new java.io.PrintWriter(f)
    w.println("A}B")
    w.println("1}x")
    w.close()
    val df = Dsv.read(spark, f.getAbsolutePath, schemaCols = Seq("A", "B", "C"))
    val r = df.collect()(0)
    assert(r.getString(0) === "1" && r.getString(1) === "x" && r.isNullAt(2))
  }

  test("declared columns bind by header name, not position (pandas semantics)") {
    val dir = Files.createTempDirectory("dsv3").toFile
    val f = new java.io.File(dir, "r.dsv")
    val w = new java.io.PrintWriter(f)
    // file order differs from the declared (A, B, C); EXTRA is undeclared
    w.println("B} A }EXTRA}C")
    w.println("bee}1}ignored}sea")
    w.close()
    val df = Dsv.read(spark, f.getAbsolutePath, schemaCols = Seq("A", "B", "C", "D"))
    assert(df.columns.toSeq === Seq("A", "B", "C", "D"))
    val r = df.collect()(0)
    // by-name: A="1" (despite being 2nd in the file), B="bee", C="sea";
    // declared-but-absent D is null; EXTRA is dropped
    assert(r.getString(0) === "1")
    assert(r.getString(1) === "bee")
    assert(r.getString(2) === "sea")
    assert(r.isNullAt(3))
  }

  test("shapeRejects flags rows whose token count drifts from the header") {
    val path = java.nio.file.Files.createTempDirectory("dsvrej").toString + "/f.dsv"
    val w = new java.io.PrintWriter(path)
    w.println("A}B}C")
    w.println("1}x}y")      // ok
    w.println("2}x")        // short → PERMISSIVE pads, audit must flag
    w.println("3}x}y}z")    // long → PERMISSIVE truncates, audit must flag
    w.println("4}}")        // empty tokens but right shape → ok
    w.println("A}B}C")      // data line byte-equal to the header: shape-OK
    w.close()
    val rejects = graft.sources.Dsv.shapeRejects(spark, path)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(rejects === Set(("2}x", 2), ("3}x}y}z", 4)))
    // and the tolerant reader still reads all 5 data rows
    assert(graft.sources.Dsv.read(spark, path).count() === 5)
    // a directory is not a well-defined audit target (every file has its
    // own header line) — the API refuses instead of guessing
    val ex = intercept[IllegalArgumentException] {
      graft.sources.Dsv.shapeRejects(spark,
        new java.io.File(path).getParent)
    }
    assert(ex.getMessage.contains("single file"))
  }

  private def writeLines(f: java.io.File, lines: Seq[String]): String = {
    val w = new java.io.PrintWriter(f)
    lines.foreach(w.println); w.close(); f.getAbsolutePath
  }

  test("a file of a few thousand lines reads as several splits, rows as Spark CSV's") {
    val dir = Files.createTempDirectory("dsvsplit").toFile
    val header = "ID}NAME}OIL"
    val path = writeLines(new java.io.File(dir, "big.dsv"), header +:
      (0 until 4000).map(i => if (i == 2000) header else s"$i}name ${i % 37}}${i * 0.25}"))
    val df = Dsv.read(spark, path)
    assert(df.rdd.getNumPartitions > 1)
    val ref = spark.read.option("header", "true").option("sep", "}").csv(path)
    assert(df.columns.toSeq === ref.columns.toSeq)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(df.count() === 4000)
    assert(rows(df) === rows(ref))
    // the data line byte-equal to the header is data, not a second header
    assert(df.where(org.apache.spark.sql.functions.col("ID") === "ID").count() === 1)
  }

  test("a directory of headered files yields every file's data rows and no header") {
    val dir = Files.createTempDirectory("dsvdir").toFile
    writeLines(new java.io.File(dir, "part-0.dsv"), Seq("A}B", "1}x", "2}y"))
    writeLines(new java.io.File(dir, "part-1.dsv"), Seq("A}B", "3}z"))
    writeLines(new java.io.File(dir, "_SUCCESS"), Nil)
    val got = Dsv.read(spark, dir.getAbsolutePath).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("1", "x"), ("2", "y"), ("3", "z")))
  }

  test("an empty file yields no rows with the declared columns") {
    val dir = Files.createTempDirectory("dsvempty").toFile
    val path = writeLines(new java.io.File(dir, "empty.dsv"), Nil)
    val df = Dsv.read(spark, path, schemaCols = Seq("A", "B"))
    assert(df.columns.toSeq === Seq("A", "B"))
    assert(df.count() === 0)
  }

  test("empty and repeated header names are named as Spark's CSV header reader names them") {
    val dir = Files.createTempDirectory("dsvnames").toFile
    val path = writeLines(new java.io.File(dir, "n.dsv"), Seq("A}a} B }", "1}2}3}4"))
    val ref = spark.read.option("header", "true").option("sep", "}").csv(path)
    val df = Dsv.read(spark, path)
    assert(df.columns.toSeq === ref.columns.toSeq.map(_.trim))
    assert(df.columns.toSeq === Seq("A0", "a1", "B", "_c3"))
    assert(df.collect().map(_.toSeq).toSeq === Seq(Seq("1", "2", "3", "4")))
  }
}
