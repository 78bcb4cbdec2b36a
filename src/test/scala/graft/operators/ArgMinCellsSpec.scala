package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** [[graft.functions.ArgMinCells]] null semantics: a null vector element
  * makes the result null and a null centroid element skips its cell —
  * the literal form's (its l2sq is null there) — never a 0.0 read. Pinned
  * through whole-stage codegen (`doGenCode`) and through the interpreted
  * path (`nullSafeEval`). */
class ArgMinCellsSpec extends SparkSpec {

  private val cellsType = ArrayType(StructType(Seq(
    StructField("cid", LongType),
    StructField("c", ArrayType(DoubleType)))))

  /** One row per case; the frame reads from an RDD so the projection is
    * neither folded nor evaluated as a local relation. */
  private def argmin(vecType: DataType, rows: Seq[Row]): DataFrame = {
    val schema = StructType(Seq(
      StructField("case", IntegerType),
      StructField("vec", ArrayType(vecType)),
      StructField("cells", cellsType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .select(col("case"), ColumnBridge.column(graft.functions.ArgMinCells(
        ColumnBridge.expression(col("vec")),
        ColumnBridge.expression(col("cells")))).as("best"))
  }

  private def cell(cid: java.lang.Long, c: Seq[java.lang.Double]): Row =
    Row(cid, c)

  // (0,0) is the nearer point only if a null centroid element read as 0.0
  private val nullElemCell = cell(1L, Seq(null, 0.0))
  private val farCell = cell(2L, Seq(3.0, 4.0))

  private def checkNullSemantics(wholeStage: Boolean): Unit = {
    val doubles = argmin(DoubleType, Seq(
      Row(1, Seq(0.0, 0.0), Seq(nullElemCell, farCell)),
      Row(2, Seq(1.0, null), Seq(nullElemCell, farCell)),
      Row(3, Seq(1.0, 1.0), Seq(nullElemCell)),
      Row(4, Seq(0.0, 0.0), Seq(null, cell(null, Seq(0.0, 0.0)),
        cell(3L, null), farCell))))
    assert(doubles.queryExecution.executedPlan
      .exists(_.isInstanceOf[WholeStageCodegenExec]) == wholeStage)
    val got = doubles.collect().map(r =>
      r.getInt(0) -> Option(r.getStruct(1)).map(s => (s.getDouble(0), s.getLong(1))))
      .toMap
    assert(got == Map(
      1 -> Some((25.0, 2L)), // null-element cell skipped
      2 -> None,             // null vector element: no distance exists
      3 -> None,             // the only cell is skipped
      4 -> Some((25.0, 2L)))) // null cell, null cid, null centroid skipped
    val floats = argmin(FloatType, Seq(
      Row(1, Seq(0.0f, null), Seq(farCell)),
      Row(2, Seq(0.0f, 0.0f), Seq(nullElemCell, farCell))))
    assert(floats.collect().map(r => r.getInt(0) -> r.isNullAt(1)).toMap ==
      Map(1 -> true, 2 -> false))
  }

  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("argmin_cells under whole-stage codegen: a null vector element " +
       "yields null and a null centroid element skips the cell") {
    withConf("spark.sql.codegen.wholeStage" -> "true") {
      checkNullSemantics(wholeStage = true)
    }
  }

  test("argmin_cells interpreted (whole-stage codegen off): the same null " +
       "semantics") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
             "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      checkNullSemantics(wholeStage = false)
    }
  }
}
