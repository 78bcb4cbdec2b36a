package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the suite (one JVM-wide session — Spark's
  * getOrCreate makes this cheap across specs within the forked test JVM).
  * `Tables.configure` runs before the session's first query: it sizes the
  * JVM-wide codegen cache, which any earlier compile would fix at Spark's
  * default (CodegenCacheSpec). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.sources.Tables.configure(s)
    s
  }
}
