package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Dump the formatted physical plan of every contract query — the plan
  * review artifact (pushdown/pruning/broadcast/codegen inspection).
  * Usage: runMain graft.Explain <sfDir> <outFile>
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    // 4 cores, not the machine's: the committed plans must not depend on it
    val spark = GraftSession(cores = 4)
    val sb = new StringBuilder
    sb.append(s"# Physical plans (formatted) — $sfDir\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      sb.append(s"\n## $name\n\n```\n")
      try sb.append(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
      catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}") }
      sb.append("```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
