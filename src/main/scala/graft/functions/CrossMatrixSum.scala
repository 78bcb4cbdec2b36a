package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** The OPQ R-step's Procrustes cross-matrix in ONE un-exploded pass —
  * the native-aggregate form of the double-posexplode scan it replaces
  * (optimization r19): per input row, every (i, j) pair of the decoded
  * vector y and the round-6 lattice image x contributes
  * p = round(y_i·scale)·round(x_j·scale), summed per cell on two exact
  * long halves (p div split, p % split — recombined on the driver as
  * sh·split + sl, which equals Σp per cell by the division identity
  * regardless of the div convention, so the totals are bit-identical to
  * the exploded form's).
  *
  * Why imperative rather than the explode: the exploded scan generated
  * dim² rows PER corpus row (8.2 M at sf0.1's 2 000×64) through two
  * Generate operators and a dim²-key hash aggregate — measured as the
  * single biggest job of every OPQ fit (2.4 s of x129's 9 s after the
  * long-halves change). Here the same multiply-adds run as one tight
  * JVM loop per row into a flat 2·dim²+1 long buffer; nothing is
  * amplified, and the only exchange is one ≤64 KB buffer per partition.
  *
  * Exactness contract (shared with the exploded form):
  *  - the lattice image replicates Spark's `round(v·scale, 0).cast(long)`
  *    bit-for-bit: BigDecimal(v·scale).setScale(0, HALF_UP) — the exact
  *    RoundBase path for DoubleType — then a truncating long cast;
  *  - every product and both half-sums use Math.multiplyExact /
  *    Math.addExact, so overflow aborts loudly exactly where Spark 4's
  *    ANSI arithmetic did, never wraps;
  *  - integer sums are order-free, so partitioning and merge shape
  *    cannot perturb the result (the property the oracle replay relies
  *    on).
  *
  * eval returns array<long> of length 2·dim²+1: the dim² high halves
  * (row-major), the dim² low halves, then the row count n (the former
  * per-cell count(1), identical for every cell since each well-formed
  * row feeds all cells). Rows with a NULL vector on either side are
  * skipped (the exploded form generated nothing for them); a non-null
  * vector of the wrong length, or with a null element, aborts loudly —
  * silently partial cells would corrupt the fit. `dim` is bounded by
  * [[CrossMatrixSum.MaxDim]].
  */
@ExpressionDescription(
  usage = "_FUNC_(y, x, dim, scale, split) - Procrustes cross-matrix sums on two exact long halves, plus the row count.")
case class CrossMatrixSum(
    y: Expression,
    x: Expression,
    dim: Int,
    scale: Long,
    split: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(dim > 0 && dim <= CrossMatrixSum.MaxDim,
    s"dim must be in 1..${CrossMatrixSum.MaxDim}, got $dim")
  require(scale > 0 && split > 0, "scale/split must be positive")

  private val dimSq = dim * dim

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](2 * dimSq + 1)

  /** Spark's round(v·scale, 0).cast(long) for DoubleType, replicated
    * bit-for-bit: RoundBase goes through BigDecimal(double) (shortest
    * decimal form) with HALF_UP, back to double (exact — the lattice
    * values are far below 2^53), then the cast truncates. */
  private def lattice(v: Double): Long = {
    val scaled = v * scale.toDouble
    if (scaled.isNaN || scaled.isInfinite)
      throw new ArithmeticException(s"non-finite lattice input: $v")
    BigDecimal(scaled)
      .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble.toLong
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val ya = y.eval(input)
    val xa = x.eval(input)
    if (ya != null && xa != null) {
      val yd = ya.asInstanceOf[ArrayData]
      val xd = xa.asInstanceOf[ArrayData]
      if (yd.numElements() != dim || xd.numElements() != dim)
        throw new IllegalArgumentException(
          s"cross_matrix_sum expects $dim-element vectors, got " +
            s"${yd.numElements()}/${xd.numElements()}")
      val yl = new Array[Long](dim)
      val xl = new Array[Long](dim)
      var i = 0
      while (i < dim) {
        if (yd.isNullAt(i) || xd.isNullAt(i))
          throw new IllegalArgumentException(
            s"cross_matrix_sum: null element at index $i of a non-null vector")
        yl(i) = lattice(yd.getDouble(i))
        xl(i) = lattice(xd.getDouble(i))
        i += 1
      }
      var a = 0
      while (a < dim) {
        val ylv = yl(a)
        val base = a * dim
        var b = 0
        while (b < dim) {
          val p = Math.multiplyExact(ylv, xl(b))
          buf(base + b) = Math.addExact(buf(base + b), p / split)
          buf(dimSq + base + b) = Math.addExact(buf(dimSq + base + b), p % split)
          b += 1
        }
        a += 1
      }
      buf(2 * dimSq) = Math.addExact(buf(2 * dimSq), 1L)
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    val out = new Array[Any](buf.length)
    var i = 0
    while (i < buf.length) { out(i) = buf(i); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    var i = 0
    while (i < buf.length) { out.writeLong(buf(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new Array[Long](n)
    var i = 0
    while (i < n) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = y :: x :: Nil
  override def checkInputDataTypes(): TypeCheckResult =
    if (y.dataType == ArrayType(DoubleType, containsNull = true) ||
        y.dataType == ArrayType(DoubleType, containsNull = false))
      if (x.dataType == ArrayType(DoubleType, containsNull = true) ||
          x.dataType == ArrayType(DoubleType, containsNull = false))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"cross_matrix_sum requires array<double> x, got ${x.dataType}")
    else TypeCheckResult.TypeCheckFailure(
      s"cross_matrix_sum requires array<double> y, got ${y.dataType}")
  override def prettyName: String = "cross_matrix_sum"

  override def withNewMutableAggBufferOffset(newOffset: Int): CrossMatrixSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CrossMatrixSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CrossMatrixSum =
    copy(y = newChildren(0), x = newChildren(1))
}

object CrossMatrixSum {
  /** Largest supported vector width. Each aggregation buffer holds
    * 2·dim²+1 longs and every row costs dim² multiply-adds: 16 MB and
    * 1 M products a row at 1024, far past the OPQ fits' widths, and far
    * below the Int overflow of the buffer length (from dim 32768). */
  val MaxDim = 1024
}
