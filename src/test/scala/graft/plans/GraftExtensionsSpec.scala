package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SparkSessionExtensions registration path: dot_product must be
  * callable from plain SQL in a session built with GraftExtensions. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("dot_product is callable from SQL via GraftExtensions") {
    // getOrCreate returns any existing session and silently ignores
    // withExtensions — clear the active/default handles first so a NEW
    // session (sharing the JVM's SparkContext) is built with extensions.
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val withExt = SparkSession.builder()
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      graft.sources.Tables.configure(withExt)
      val out = withExt.sql(
        "SELECT dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
        .head.getDouble(0)
      assert(out === 32.0)
      // mixed float/double arrays resolve too
      val f = withExt.sql(
        "SELECT dot_product(array(CAST(1.5 AS FLOAT)), array(2.0D)) AS d")
        .head.getDouble(0)
      assert(f === 3.0)

      // md5_hash60 registered too: matches the composed built-in form
      val h = withExt.sql(
        """SELECT md5_hash60('abc') AS fast,
          |       CAST(conv(substring(md5('abc'),1,15),16,10) AS BIGINT) AS composed
          |""".stripMargin).head
      assert(h.getLong(0) === h.getLong(1))

      // null semantics: length mismatch and null element yield null
      val nulls = withExt.sql(
        """SELECT dot_product(array(1.0D, 2.0D), array(1.0D)) AS mismatch,
          |       dot_product(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS nullelem
          |""".stripMargin).head
      assert(nulls.isNullAt(0) && nulls.isNullAt(1))

      // the optimizer rule rewrites the HOF fold into DotProduct
      import org.apache.spark.sql.functions._
      import graft.operators.VectorOps
      // column-dependent operand so ConstantFolding can't pre-evaluate
      val hofDf = withExt.range(1)
        .select(VectorOps.dotHof(
          array(col("id").cast("double") + 1.0, lit(2.0)),
          array(lit(3.0), lit(4.0))).as("d"))
      val rewritten = hofDf.queryExecution.optimizedPlan.expressions.exists(
        _.exists(_.isInstanceOf[graft.functions.DotProduct]))
      assert(rewritten, "HOF dot pattern should rewrite to DotProduct")
      assert(hofDf.head.getDouble(0) === 11.0)

      // sniff_kind triages binary columns from plain SQL — every magic
      // class plus null passthrough, agreeing with the operator layer
      val k = withExt.sql(
        """SELECT sniff_kind(X'664C614300') AS flac,
          |       sniff_kind(X'49443304') AS id3,
          |       sniff_kind(X'FFFB9000') AS sync,
          |       sniff_kind(X'0000000165') AS h264,
          |       sniff_kind(X'DEADBEEF') AS unk,
          |       sniff_kind(CAST(NULL AS BINARY)) AS n
          |""".stripMargin).head
      assert(k.getString(0) === "flac" && k.getString(1) === "mp3" &&
        k.getString(2) === "mp3" && k.getString(3) === "h264" &&
        k.getString(4) === "unknown" && k.isNullAt(5))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach(SparkSession.setDefaultSession)
    }
  }

  test("opt-in rewrite: discarded-rank row_number top-k becomes the heap operator") {
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val withExt = SparkSession.builder()
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      graft.sources.Tables.configure(withExt)
      import withExt.implicits._
      import org.apache.spark.sql.functions._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(desc("v"), col("id"))
      val df = (1 to 500).map(i => (i.toLong, s"g${i % 7}", (i * 31 % 101).toLong))
        .toDF("id", "g", "v")
      // rank column discarded by the projection → rewrite fires when opted in
      def topk = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3).select("id", "g", "v")
      def ids(d: org.apache.spark.sql.DataFrame) =
        d.select("id").collect().map(_.getLong(0)).sorted.toSeq

      withExt.conf.set(NativeTopKRewrite.ConfKey, "true")
      val nodes = PlanNodes.allNodes(PlanNodes.finalPlan(topk))
      assert(nodes.collect { case t: TopKPerKey.TopKPerKeyExec => t }
        .map(_.partial).sorted === Seq(false, true),
        "enabled rewrite must plan the partial+final heap pair")
      assert(!nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
        "enabled rewrite must remove the Window")
      val native = ids(topk)

      withExt.conf.set(NativeTopKRewrite.ConfKey, "false")
      val windowNodes = PlanNodes.allNodes(PlanNodes.finalPlan(topk))
      assert(windowNodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
        "disabled (default) must keep the window plan")
      assert(native === ids(topk),
        "both plans must select the identical rows under a total order")

      // keeping the rank column blocks the rewrite even when enabled
      withExt.conf.set(NativeTopKRewrite.ConfKey, "true")
      val kept = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      assert(PlanNodes.allNodes(PlanNodes.finalPlan(kept)).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
        "a query that READS the rank must keep the window")

      // the other matched predicate shapes: rn === 1 and rn < k
      def heapPlanned(d: org.apache.spark.sql.DataFrame): Boolean =
        PlanNodes.allNodes(PlanNodes.finalPlan(d)).exists(
          _.isInstanceOf[TopKPerKey.TopKPerKeyExec])
      val top1 = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("id", "g")
      assert(heapPlanned(top1), "rn === 1 must rewrite (k = 1)")
      val strict = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") < 4).select("id", "g")
      assert(heapPlanned(strict), "rn < k must rewrite (k - 1)")
      assert(ids(strict) === ids(topk), "rn < 4 selects the same rows as rn <= 3")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach(SparkSession.setDefaultSession)
    }
  }
}
