package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** [[graft.functions.CrossMatrixSum]] — the un-exploded native form of
  * the OPQ R-step's cross-matrix scan (optimization r19) — must land on
  * exactly the sums the double-posexplode + long-halves aggregation it
  * replaced produced: same lattice rounding, same per-cell hi/lo halves
  * recombination, same row count, loud abort instead of silent wrap on
  * overflow. The exploded reference form is inlined here verbatim (the
  * pre-change procrustesCrossInt body) so any drift in the aggregate's
  * arithmetic fails this spec before it can perturb a fitted rotation. */
class CrossMatrixSumSpec extends SparkSpec {

  private val Split = 1000000000L
  private val Scale = 1000000L

  private def crossAgg(dim: Int) = (y: org.apache.spark.sql.Column,
                                    x: org.apache.spark.sql.Column) =>
    ColumnBridge.column(graft.functions.CrossMatrixSum(
      ColumnBridge.expression(y), ColumnBridge.expression(x),
      dim, Scale, Split).toAggregateExpression())

  /** The replaced exploded form, verbatim: per (i, j),
    * p = round(y_i·1e6)·round(x_j·1e6), sums of (p div 1e9, p % 1e9)
    * and count. */
  private def explodedReference(df: org.apache.spark.sql.DataFrame)
      : Map[(Int, Int), (Long, Long, Long)] =
    df.select(posexplode(col("y")).as(Seq("i", "yi")), col("x"))
      .select(col("i"), col("yi"), posexplode(col("x")).as(Seq("j", "xj")))
      .select(col("i"), col("j"),
        (round(col("yi") * Scale, 0).cast("long") *
          round(col("xj") * Scale, 0).cast("long")).as("p"))
      .select(col("i"), col("j"),
        expr(s"p div $Split").as("ph"), (col("p") % Split).as("pl"))
      .groupBy("i", "j")
      .agg(sum(col("ph")).as("sh"), sum(col("pl")).as("sl"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap

  test("cross_matrix_sum recombines to the exploded reference's exact " +
       "per-cell sums (negative values, rounding halves, many rows)") {
    import spark.implicits._
    val dim = 3
    // values exercising HALF_UP at the 1e-6 boundary, negatives, zeros
    val rows = (0 until 40).map { r =>
      (Seq.tabulate(dim)(i => (r * 31 + i * 7 - 60) * 0.0101 + i * 5e-7),
       Seq.tabulate(dim)(j => (r * 17 - j * 13 - 30) * 0.0203 - j * 5e-7))
    }
    val df = rows.toDF("y", "x")
    val got = df.agg(crossAgg(dim)(col("y"), col("x")).as("m"))
      .head().getSeq[Long](0)
    val ref = explodedReference(df)
    val dimSq = dim * dim
    assert(got.length == 2 * dimSq + 1)
    for (i <- 0 until dim; j <- 0 until dim) {
      val (sh, sl, n) = ref((i, j))
      val cell = i * dim + j
      // the halves may split differently between conventions only if the
      // div semantics differed — they must not, but the binding contract
      // is the RECOMBINED per-cell sum (what the driver consumes)
      val gotSum = BigInt(got(cell)) * Split + BigInt(got(dimSq + cell))
      val refSum = BigInt(sh) * Split + BigInt(sl)
      assert(gotSum == refSum, s"cell ($i,$j): $gotSum != $refSum")
      assert(got(cell) == sh && got(dimSq + cell) == sl,
        s"halves drifted at ($i,$j): (${got(cell)},${got(dimSq + cell)}) != ($sh,$sl)")
      assert(got(2 * dimSq) == n, s"row count ${got(2 * dimSq)} != $n")
    }
  }

  test("null vectors are skipped like the exploded form generated " +
       "nothing for them; wrong-length vectors abort loudly") {
    import spark.implicits._
    val dim = 2
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(0.5, -0.5))),
      (None: Option[Seq[Double]], Some(Seq(9.0, 9.0))),
      (Some(Seq(3.0, -1.0)), None: Option[Seq[Double]])
    ).toDF("y", "x")
    val got = df.agg(crossAgg(dim)(col("y"), col("x")).as("m"))
      .head().getSeq[Long](0)
    assert(got(2 * dim * dim) == 1L, "only the fully non-null row counts")
    val ref = explodedReference(df.filter(col("y").isNotNull &&
      col("x").isNotNull))
    for (i <- 0 until dim; j <- 0 until dim)
      assert(got(i * dim + j) == ref((i, j))._1 &&
        got(dim * dim + i * dim + j) == ref((i, j))._2)

    val bad = Seq((Seq(1.0, 2.0, 3.0), Seq(0.5, -0.5))).toDF("y", "x")
    val e = intercept[Exception] {
      bad.agg(crossAgg(dim)(col("y"), col("x")).as("m")).head()
    }
    assert(e.getMessage != null)
  }

  test("overflowing products abort loudly (the ANSI contract), never wrap") {
    import spark.implicits._
    val dim = 1
    // lattice image ~3.2e9 each => product ~1e19 > Long.MaxValue
    val df = Seq((Seq(3200.0), Seq(3200.0))).toDF("y", "x")
    val e = intercept[Exception] {
      df.agg(crossAgg(dim)(col("y"), col("x")).as("m")).head()
    }
    assert(e.getMessage != null)
  }

  test("a null element inside a non-null vector aborts loudly, on " +
       "either side, instead of reading as 0.0") {
    import spark.implicits._
    val dim = 2
    for ((y, x) <- Seq((Seq(Some(1.0), None), Seq(Some(0.5), Some(-0.5))),
                       (Seq(Some(1.0), Some(2.0)), Seq(None, Some(-0.5))))) {
      val df = Seq((y, x)).toDF("y", "x")
      val e = intercept[Exception] {
        df.agg(crossAgg(dim)(col("y"), col("x")).as("m")).head()
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => c.getMessage != null && c.getMessage.contains("null element")),
        s"unexpected failure: $e")
    }
  }

  test("dim outside 1..MaxDim is rejected at construction, before any " +
       "dim² buffer is sized") {
    val y = ColumnBridge.expression(col("y"))
    val x = ColumnBridge.expression(col("x"))
    val max = graft.functions.CrossMatrixSum.MaxDim
    // 46341² overflows Int: unchecked, the buffer length would wrap negative
    for (dim <- Seq(0, max + 1, 46341)) {
      val e = intercept[IllegalArgumentException] {
        graft.functions.CrossMatrixSum(y, x, dim, Scale, Split)
      }
      assert(e.getMessage.contains(s"got $dim"))
    }
    assert(graft.functions.CrossMatrixSum(y, x, max, Scale, Split)
      .createAggregationBuffer().length == 2 * max * max + 1)
  }
}
