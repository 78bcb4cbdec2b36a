package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd nearest-centroid argmin over a centroid ARRAY column — the
  * large-k form of the IVF cell assignment
  * ([[graft.operators.VectorOps.argminAssignJoin]], round-13 verdict
  * task 2).
  *
  * `vec` is one embedding (array<float|double>); `cells` is the WHOLE
  * centroid table as one array<struct<cid: bigint, c: array<double>>>
  * value — at the call site it arrives through a one-row broadcast
  * relation, so the k×dim doubles travel once per executor via the
  * BlockManager instead of k literal expression trees in the plan (the
  * literal argmin's plan/codegen blow-up at production k) or a fat task
  * closure. Returns struct<d: double, cid: bigint>: the minimum squared
  * L2 distance and its cell id, ties on the LOWEST cid — the scan is a
  * strict lexicographic (d, cid) min over a set, so the result is
  * independent of the cells array's order.
  *
  * Arithmetic parity with the literal form (and the SQL oracle's
  * replay): d = (dot(v,v) − 2·dot(v,c)) + dot(c,c), every dot an
  * ascending sequential fold in doubles — vv hoisted out of the cell
  * loop (one fold per row), vc and cc accumulated per cell in separate
  * accumulators (each its own ascending fold, identical values to
  * standalone [[DotProduct]] calls).
  *
  * Null semantics, the literal form's (its l2sq yields null, which
  * `array_min`'s null-last ordering never selects): null/empty inputs
  * yield null; a null element in the vector yields null (every distance
  * is null); a cell that is null, has a null cid or centroid, holds a
  * null centroid element, or whose centroid length differs from the
  * vector is SKIPPED; if no cell matches, null. No null is ever read as
  * 0.0.
  */
case class ArgMinCells(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("d", DoubleType, nullable = false),
    StructField("cid", LongType, nullable = false)))

  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val vecOk = left.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val cellsOk = right.dataType match {
      case ArrayType(StructType(Array(f0, f1)), _) =>
        f0.dataType == LongType &&
          (f1.dataType match {
            case ArrayType(DoubleType, _) => true
            case _ => false
          })
      case _ => false
    }
    if (vecOk && cellsOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "argmin_cells requires (array<float|double>, " +
          "array<struct<bigint, array<double>>>), got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  private def vecIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(vecAny: Any, cellsAny: Any): Any = {
    val v = vecAny.asInstanceOf[ArrayData]
    val cells = cellsAny.asInstanceOf[ArrayData]
    val n = v.numElements()
    val k = cells.numElements()
    val isFloat = vecIsFloat
    var vv = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      vv += x * x
      i += 1
    }
    var found = false
    var bestD = 0.0
    var bestCid = 0L
    var j = 0
    while (j < k) {
      val cell = if (cells.isNullAt(j)) null else cells.getStruct(j, 2)
      val c =
        if (cell == null || cell.isNullAt(0) || cell.isNullAt(1)) null
        else cell.getArray(1)
      if (c != null && c.numElements() == n) {
        val cid = cell.getLong(0)
        var vc = 0.0
        var cc = 0.0
        var ok = true
        var t = 0
        while (ok && t < n) {
          if (c.isNullAt(t)) ok = false
          else {
            val a = if (isFloat) v.getFloat(t).toDouble else v.getDouble(t)
            val b = c.getDouble(t)
            vc += a * b
            cc += b * b
          }
          t += 1
        }
        val d = (vv - 2.0 * vc) + cc
        if (ok && (!found || d < bestD || (d == bestD && cid < bestCid))) {
          found = true; bestD = d; bestCid = cid
        }
      }
      j += 1
    }
    if (!found) null
    else new GenericInternalRow(Array[Any](bestD, bestCid))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get =
      if (vecIsFloat) (v: String, i: String) => s"(double) $v.getFloat($i)"
      else (v: String, i: String) => s"$v.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (v, cells) => {
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val t = ctx.freshName("t")
      val vv = ctx.freshName("vv")
      val vc = ctx.freshName("vc")
      val cc = ctx.freshName("cc")
      val d = ctx.freshName("d")
      val a = ctx.freshName("a")
      val b = ctx.freshName("b")
      val c = ctx.freshName("c")
      val cell = ctx.freshName("cell")
      val cid = ctx.freshName("cid")
      val found = ctx.freshName("found")
      val bestD = ctx.freshName("bestD")
      val bestCid = ctx.freshName("bestCid")
      val vecNull = ctx.freshName("vecNull")
      val ok = ctx.freshName("ok")
      val rowCls = "org.apache.spark.sql.catalyst.expressions.GenericInternalRow"
      s"""
         |int $n = $v.numElements();
         |int $k = $cells.numElements();
         |double $vv = 0.0;
         |boolean $vecNull = false;
         |for (int $i = 0; $i < $n && !$vecNull; $i++) {
         |  if ($v.isNullAt($i)) {
         |    $vecNull = true;
         |  } else {
         |    double $a = ${get(v, i)};
         |    $vv += $a * $a;
         |  }
         |}
         |boolean $found = false;
         |double $bestD = 0.0;
         |long $bestCid = 0L;
         |for (int $j = 0; $j < $k && !$vecNull; $j++) {
         |  if ($cells.isNullAt($j)) continue;
         |  org.apache.spark.sql.catalyst.InternalRow $cell = $cells.getStruct($j, 2);
         |  if ($cell.isNullAt(0) || $cell.isNullAt(1)) continue;
         |  org.apache.spark.sql.catalyst.util.ArrayData $c = $cell.getArray(1);
         |  if ($c.numElements() == $n) {
         |    long $cid = $cell.getLong(0);
         |    double $vc = 0.0;
         |    double $cc = 0.0;
         |    boolean $ok = true;
         |    for (int $t = 0; $t < $n && $ok; $t++) {
         |      if ($c.isNullAt($t)) {
         |        $ok = false;
         |      } else {
         |        double $a = ${get(v, t)};
         |        double $b = $c.getDouble($t);
         |        $vc += $a * $b;
         |        $cc += $b * $b;
         |      }
         |    }
         |    double $d = ($vv - 2.0 * $vc) + $cc;
         |    if ($ok && (!$found || $d < $bestD || ($d == $bestD && $cid < $bestCid))) {
         |      $found = true; $bestD = $d; $bestCid = $cid;
         |    }
         |  }
         |}
         |if (!$found) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new $rowCls(new Object[]{$bestD, $bestCid});
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArgMinCells =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "argmin_cells"
}
