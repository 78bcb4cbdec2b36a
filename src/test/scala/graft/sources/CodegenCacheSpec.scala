package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.internal.StaticSQLConf

/** [[Tables.configure]] sizes Spark's JVM-wide generated-class cache before
  * its first use, so a long-lived session stops recompiling code it already
  * compiled. Every session the suite builds goes through `configure` before
  * its first query (SparkSpec, GraftExtensionsSpec), so whichever spec runs
  * first, the cache is built at [[Tables.CodegenCacheEntries]]. */
class CodegenCacheSpec extends SparkSpec {

  private val maxEntries = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES

  /** One single-row projection whose generated class inlines `i`. */
  private def project(i: Int): Long =
    spark.range(0, 1, 1, 1).select((col("id") + lit(i)).as("v")).head().getLong(0)

  test("the codegen cache holds more classes than Spark's default 100 entries") {
    // 150 distinct classes, each compiled on the driver and on a task
    // thread: ~300 keys, three times Spark's default capacity.
    (0 until 150).foreach(i => assert(project(i) === i))
    val before = CodeGenerator.compileTime
    (0 until 20).foreach(i => assert(project(i) === i))
    assert(CodeGenerator.compileTime - before === 0L,
      "re-running the first 20 projections recompiled their classes: the cache " +
        "was evicted (a WARN is logged if code compiled before Tables.configure)")
  }

  test("configure raises the session's maxEntries to the target, never lowers it") {
    val target = Tables.CodegenCacheEntries
    assert(spark.sessionState.conf.getConf(maxEntries) >= target)
    assert(spark.conf.get(maxEntries.key).toInt >= target, "the session reports the effective size")

    val fresh = spark.newSession()
    assert(fresh.sessionState.conf.getConf(maxEntries) < target)
    Tables.configure(fresh)
    assert(fresh.sessionState.conf.getConf(maxEntries) === target)

    val larger = spark.newSession()
    larger.sessionState.conf.setConf(maxEntries, target * 4)
    Tables.configure(larger)
    Tables.configure(larger)
    assert(larger.sessionState.conf.getConf(maxEntries) === target * 4)
  }
}
