package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites: the harnesses' config
  * ([[GraftSession]]) on a fixed 4 cores, so results do not depend on
  * the machine.
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession(cores = 4, extra = Map(
    "spark.app.name" -> "graft-test",
    // fresh warehouse per JVM: managed-table dirs must not leak across
    // test runs (LOCATION_ALREADY_EXISTS on re-create)
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString))
}
