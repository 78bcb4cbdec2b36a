package graft

import org.apache.spark.sql.SparkSession

/** The benchmark's door to Bench's between-query hygiene, which is private
  * to the `graft` package: delete this process's sink output, drop its
  * warehouse tables, `sync`. */
object PerfbenchHygiene {
  def sweep(spark: SparkSession): Unit = BenchHygiene.sweep(spark)
}
