package perfbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval. Times are epoch milliseconds (fractional for the
  * benchmark's own spans, whole for Spark's event times). */
final case class Span(id: Int, parent: Int, name: String, kind: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/** Interval arithmetic behind every layer time. Job and planning intervals
  * overlap (broadcast jobs run inside their parent job, eager actions run
  * inside a build), so a layer's busy time is the length of the UNION of its
  * intervals, never their sum: a sum can exceed the wall time it explains
  * and drive the derived driver gap negative. */
object Spans {
  type Iv = (Double, Double)

  /** Merge into disjoint, sorted intervals, each clipped to [lo, hi]. */
  def union(ivs: Iterable[Iv], lo: Double, hi: Double): Vector[Iv] = {
    val clipped = ivs.iterator.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toVector.sortBy(_._1)
    val out = ArrayBuffer.empty[Iv]
    clipped.foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    out.toVector
  }

  def length(ivs: Iterable[Iv], lo: Double, hi: Double): Double =
    union(ivs, lo, hi).iterator.map { case (s, e) => e - s }.sum

  /** A span's self time: its duration minus the part of it that its
    * children (clipped to it) cover. Never negative. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cover = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - length(cover, s.start, s.end))
    }.toMap
  }

  /** Split [lo, hi] into job time, planning time not under a job, and the
    * driver gap (everything else). The three are ≥ 0 and sum to hi − lo. */
  def layerSplit(jobs: Seq[Iv], planning: Seq[Iv], lo: Double, hi: Double): (Double, Double, Double) = {
    val busy = length(jobs, lo, hi)
    val covered = length(jobs ++ planning, lo, hi)
    (busy, covered - busy, (hi - lo) - covered)
  }

  private val eps = 1e-6

  /** Spans whose self time is negative (a sign of double-counted children). */
  def negativeSelfTimes(spans: Seq[Span]): Seq[String] =
    selfTimes(spans).collect { case (id, t) if t < -eps => s"span $id self time $t < 0" }.toSeq

  /** Parts of a [[layerSplit]] that are negative or sum past `wall`. */
  def splitViolations(split: (Double, Double, Double), wall: Double): Seq[String] = {
    val (busy, plan, gap) = split
    Seq("job_busy" -> busy, "planning" -> plan, "driver_gap" -> gap)
      .collect { case (n, t) if t < -eps => s"$n $t < 0" } ++
      (if (busy + plan + gap > wall + eps) Seq(s"layers ${busy + plan + gap} > wall $wall") else Nil)
  }

  /** Self-test on the overlap that once drove a driver gap to −13.4 s: three
    * broadcast-style jobs overlapping inside one 13 ms query. Summing them
    * gives 26 ms of "job time"; the union gives 12. */
  def selfTest(): Seq[String] = {
    val jobs = Seq((0.0, 10.0), (2.0, 12.0), (3.0, 7.0))
    val planning = Seq((-1.0, 1.0), (12.5, 13.0))
    val split = layerSplit(jobs, planning, 0.0, 13.0)
    val tree = Seq(Span(0, -1, "query", "query", 0, 13), Span(1, 0, "materialize", "materialize", 0, 13)) ++
      jobs.zipWithIndex.map { case ((s, e), i) => Span(2 + i, 1, "job", "job", s, e) }
    // Planning [-1, 1] is clipped to the query and hidden under the first
    // job; only [12.5, 13] counts as planning self time.
    val exact = if (split != ((12.0, 0.5, 0.5))) Seq(s"layer split $split != (12.0, 0.5, 0.5)") else Nil
    negativeSelfTimes(tree) ++ splitViolations(split, 13.0) ++ exact
  }
}
