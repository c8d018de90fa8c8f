package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** One shared local session across all suites (keeps `sbt test` fast —
  * Spark startup is ~5s and every suite's data is tiny).
  */
object SharedSpark {
  /** Fixed, not `GraftSession.cpus`: partition counts in the specs must
    * not depend on the box the suite runs on. */
  val Cpus = 4

  lazy val spark: SparkSession = {
    // per-run warehouse: a previous INTERRUPTED run leaves managed-table
    // directories under ./spark-warehouse that a fresh metastore doesn't
    // know about, so DROP TABLE IF EXISTS is a no-op and the next CTAS
    // dies with LOCATION_ALREADY_EXISTS. A unique tmp dir makes every
    // test run hermetic regardless of how the last one ended.
    val warehouse = java.nio.file.Files
      .createTempDirectory("graft-test-warehouse").toString
    val s = GraftSession.builder(Cpus)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SharedSpark.spark
}
