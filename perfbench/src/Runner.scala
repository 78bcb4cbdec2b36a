package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{GraftCache, PerfbenchHygiene, SparkEntry}
import graft.sources.Tables

/** One benchmark run in one JVM: a closed loop with one client that runs a
  * workload's queries back to back through the engine's public entry points
  * (`SparkEntry.queries(name)(spark, dir)` to build, a `noop` write to
  * materialize).
  *
  * Order of work:
  *  1. set-up, timed and done once: SparkSession start plus
  *     `Tables.configure`. A second set-up in the same JVM would be a warm
  *     restart and would warm the code the cold pass is meant to pay for;
  *  2. the cold pass, timed: the first pass a fresh JVM pays;
  *  3. the correctness dump, off the clock: every query once more, written
  *     as parquet for the oracle compare. It doubles as a warm-up pass;
  *  4. steady passes for `--seconds`. The first of them is still warming
  *     the JIT and is reported but kept out of the steady median; peak RSS
  *     is read right after it.
  *
  * Between queries, off the clock: release operator caches (blocking), then
  * Bench's own hygiene (delete sink output, drop this process's warehouse
  * tables, `sync`). With `--trace 1` the odd steady passes are
  * traced and the even ones are not, so tracing overhead is measured in the
  * same run. Writes a JSON result to `--out` and the spans to `--spans`.
  */
object Runner {
  private val pid = ProcessHandle.current().pid()

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val dataDir = new File(o("data")).getCanonicalPath
    val dumpDir = o("dump")
    val names = o("queries").split(",").toSeq
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    // The cores this JVM may run on (availableProcessors honours CPU
    // affinity): local[cores], one shuffle partition per core.
    val cores = Runtime.getRuntime.availableProcessors()
    val sinkRoot = new File(s"${sys.props("java.io.tmpdir")}/graft_sinks_run$pid").getCanonicalPath

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir", s"${sys.props("java.io.tmpdir")}/warehouse")
      .getOrCreate()
    Tables.configure(spark)
    val setupS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")

    // Attached only for traced passes and the correctness dump: untraced
    // passes run with no listener of the benchmark's.
    val listener = new LayerListener(dataDir, sinkRoot)
    def drainAndTake(): LayerCounts = { ListenerDrain(spark.sparkContext); listener.take() }
    def attach(): Unit = {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    }
    def detach(): Unit = {
      drainAndTake()
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(listener)
    }

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val spans = ArrayBuffer.empty[Span]
    def span(parent: Int, name: String, kind: String, s: Double, e: Double): Int = {
      spans += Span(spans.size, parent, name, kind, s, e); spans.size - 1
    }
    val runStart = Clock.nowMs
    val runSpan = span(-1, "run", "run", runStart, runStart) // end patched at exit

    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    // Every byte this process hands to write(2): sink files whichever side
    // (task or driver) writes them, plus shuffle and spill files, which the
    // write amplification subtracts.
    def writtenBytes: Long = Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .find(_.startsWith("wchar:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

    /** Off-clock hygiene after a query. Returns the release ms, the
      * persisted bytes and live sink bytes seen before the release and, with
      * the listener attached, the query's layer counts. They are drained
      * before Bench's sweep, whose catalog drops are not the query's work. */
    def sweep(attached: Boolean): (Double, Long, Long, LayerCounts) = {
      val persisted = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      val live = dirBytes(new File(sinkRoot))
      val t0 = System.nanoTime()
      GraftCache.release(blocking = true)
      val releaseMs = (System.nanoTime() - t0) / 1e6
      val c = if (attached) drainAndTake() else new LayerCounts
      PerfbenchHygiene.sweep(spark)
      if (attached) drainAndTake()
      (releaseMs, persisted, live, c)
    }

    /** One pass: returns per-query on-clock seconds and, when traced, the
      * pass's layer metrics. */
    def pass(label: String, traced: Boolean): (Seq[(String, Double)], Map[String, Double]) = {
      if (traced) attach()
      val passSpan = span(runSpan, label, "pass", Clock.nowMs, 0)
      val times = ArrayBuffer.empty[(String, Double)]
      val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      var wall, written, live = 0.0
      for (q <- names if !errors.contains(q)) {
        val g0 = gcMs
        val w0 = writtenBytes
        val cg0 = CodeGenerator.compileTime
        val t0 = Clock.nowMs
        var t1 = t0
        val ok =
          try {
            val df = SparkEntry.queries(q)(spark, dataDir)
            t1 = Clock.nowMs
            df.write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable => errors(q) = s"${e.getClass.getSimpleName}: ${firstLine(e.getMessage)}"; false }
        val t2 = Clock.nowMs
        val g1 = gcMs
        val w1 = writtenBytes
        val cg1 = CodeGenerator.compileTime
        // Drained after every traced query, failed or not, so no query's
        // events spill into the next one's.
        val (releaseMs, persisted, liveBytes, c) = sweep(attached = traced)
        if (ok) times += q -> (t2 - t0) / 1e3
        if (traced && ok) {
          val qs = span(passSpan, q, "query", t0, t2)
          val build = span(qs, "build", "build", t0, t1)
          val mat = span(qs, "materialize", "materialize", t1, t2)
          def under(s: Double) = if (s < t1) build else mat
          val execSpan = c.execs.map { case (id, s, e) => id -> span(under(s.toDouble), s"sql $id", "sql", s, e) }.toMap
          c.jobs.foreach { case (s, e, exec) =>
            span(exec.flatMap(execSpan.get).getOrElse(under(s.toDouble)), "job", "job", s, e)
          }
          c.phases.foreach { case (n, s, e) => span(under(s.toDouble), n, "catalyst", s, e) }
          val (busy, plan, gap) = Spans.layerSplit(
            c.jobs.map { case (s, e, _) => (s.toDouble, e.toDouble) }.toSeq,
            c.phases.map { case (_, s, e) => (s.toDouble, e.toDouble) }.toSeq, t0, t2)
          wall += t2 - t0
          written += math.max(0L, w1 - w0 - c.shuffleWrite - c.spillBytes)
          live += liveBytes
          val m = Seq(
            "queries.build_ms" -> (t1 - t0), "queries.materialize_ms" -> (t2 - t1),
            "catalyst.analysis_ms" -> phaseMs(c, "analysis"),
            "catalyst.optimization_ms" -> phaseMs(c, "optimization"),
            "catalyst.planning_ms" -> phaseMs(c, "planning"),
            "catalyst.self_ms" -> plan, "catalyst.executions" -> c.executions.toDouble,
            "scheduler.jobs" -> c.jobs.size.toDouble, "scheduler.stages" -> c.stages.toDouble,
            "scheduler.tasks" -> c.tasks.toDouble, "scheduler.job_busy_ms" -> busy,
            "scheduler.driver_gap_ms" -> gap,
            "executor.task_run_ms" -> c.taskRunMs.toDouble, "executor.task_cpu_ms" -> c.taskCpuNs / 1e6,
            "executor.gc_ms" -> (g1 - g0).toDouble,
            "shuffle.write_bytes" -> c.shuffleWrite.toDouble, "shuffle.read_bytes" -> c.shuffleRead.toDouble,
            "shuffle.fetch_wait_ms" -> c.fetchWaitMs.toDouble, "shuffle.spill_bytes" -> c.spillBytes.toDouble,
            "sources.input_rows" -> c.inputRows.toDouble, "sources.input_bytes" -> c.inputBytes.toDouble,
            "sources.files_read" -> c.filesRead.toDouble,
            "sinks.write_execs" -> c.writeExecs.toDouble, "sinks.write_ms" -> c.writeNs / 1e6,
            "sinks.output_bytes" -> c.outputBytes.toDouble, "sinks.files_written" -> c.filesWritten.toDouble,
            "sinks.readback_bytes" -> c.readbackBytes.toDouble, "sinks.live_bytes" -> liveBytes.toDouble,
            "cache.persisted_bytes" -> persisted.toDouble, "cache.scans" -> c.cacheScans.toDouble,
            "cache.release_ms" -> releaseMs, "codegen.pass_compile_ms" -> (cg1 - cg0) / 1e6)
          m.foreach { case (k, v) => acc(k) += v }
        }
      }
      spans(passSpan) = spans(passSpan).copy(end = Clock.nowMs)
      if (traced) detach()
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          acc("sinks.write_amp") = if (live > 0) written / live else 0.0
          acc("executor.core_util") =
            if (acc("scheduler.job_busy_ms") > 0) acc("executor.task_run_ms") / (acc("scheduler.job_busy_ms") * cores.toDouble) else 0.0
          acc("trace.pass_ms") = wall
          acc.toMap
        }
      (times.toSeq, layers)
    }

    val cold = pass("cold", traced = false)
    val coldCodegenMs = CodeGenerator.compileTime / 1e6
    val coldJitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

    // Correctness dump, off the clock. Source rows per pass come from here:
    // the scans are the same whatever the sink.
    attach()
    val oracles = SparkEntry.oracleSql
    var inputRows = 0L
    for (q <- names if !errors.contains(q)) {
      val runs = if (oracles.contains(q)) Seq(q) else Seq(q, s"$q.rerun")
      runs.zipWithIndex.foreach { case (dst, i) =>
        try SparkEntry.queries(q)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$dst")
        catch { case e: Throwable => errors(q) = s"${e.getClass.getSimpleName}: ${firstLine(e.getMessage)}" }
        val c = sweep(attached = true)._4
        if (i == 0) inputRows += c.inputRows
      }
    }
    detach()

    val steady = ArrayBuffer.empty[(Boolean, Seq[(String, Double)], Map[String, Double])]
    var hwmKb = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // Enough steady passes for a median after the warming one is dropped;
    // a traced run needs two untraced neighbours around each traced pass.
    val minPasses = if (trace) 5 else 3
    while ((System.nanoTime() < deadline || steady.size < minPasses) && errors.size < names.size) {
      spark.catalog.clearCache()
      System.gc()
      val traced = trace && steady.size % 2 == 1
      val (t, l) = pass(s"pass ${steady.size}", traced)
      steady += ((traced, t, l))
      // Peak RSS after a fixed amount of work (cold pass, dump, one steady
      // pass), so that it does not depend on how many passes fit the window.
      if (steady.size == 1) hwmKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    }
    spans(runSpan) = spans(runSpan).copy(end = Clock.nowMs)

    val violations = if (!trace) Nil else Spans.selfTest() ++ Spans.negativeSelfTimes(spans.toSeq) ++
      steady.filter(_._1).flatMap { case (_, _, l) =>
        Spans.splitViolations((l("scheduler.job_busy_ms"), l("catalyst.self_ms"), l("scheduler.driver_gap_ms")), l("trace.pass_ms"))
      }

    val json = new StringBuilder("{")
    json ++= s""""setup_s":$setupS,"""
    json ++= s""""cold":${passJson(cold._1)},"""
    json ++= s""""steady":${steady.map { case (tr, t, _) => s"""{"traced":$tr,"queries":${passJson(t)}}""" }.mkString("[", ",", "]")},"""
    json ++= s""""layers":${steady.filter(_._1).map(s => numJson(s._3)).mkString("[", ",", "]")},"""
    json ++= s""""cold_layers":${numJson(Map("codegen.compile_ms" -> coldCodegenMs, "jvm.jit_ms" -> coldJitMs))},"""
    json ++= s""""input_rows":$inputRows,"peak_rss_kb":$hwmKb,"""
    json ++= s""""oracles":${names.filter(oracles.contains).map(q => s"${str(q)}:${str(oracles(q))}").mkString("{", ",", "}")},"""
    json ++= s""""violations":${violations.map(str).mkString("[", ",", "]")},"""
    json ++= s""""errors":${errors.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")}}"""
    Files.writeString(Paths.get(o("out")), json.toString)
    if (trace) Files.writeString(Paths.get(o("spans")), spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${str(s.name)},"kind":"${s.kind}","start":${s.start},"end":${s.end}}"""
    }.mkString("[\n", ",\n", "\n]"))
    spark.stop()
    sys.exit(0)
  }

  private def phaseMs(c: LayerCounts, phase: String): Double =
    c.phases.collect { case (`phase`, s, e) => (e - s).toDouble }.sum

  private def firstLine(s: String): String = Option(s).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("")

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def passJson(t: Seq[(String, Double)]): String = t.map { case (q, s) => s"${str(q)}:$s" }.mkString("{", ",", "}")

  private def numJson(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else if (f.isFile) f.length else 0L
}

/** Epoch milliseconds with sub-millisecond resolution, on the same scale as
  * Spark's event times. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}
