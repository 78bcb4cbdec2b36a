package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** KMV distinct sketch ([[graft.functions.KmvSketch]] /
  * [[Aggregations.kmvSketch]]) and BIGINT-ppm PageRank
  * ([[Graph.pageRankPpm]]). */
class SketchGraphSpec extends SparkSpec {

  import scala.jdk.CollectionConverters._

  private def sketchOf(values: Seq[Long], k: Int, parts: Int): Seq[Long] = {
    import spark.implicits._
    values.toDF("h").repartition(parts)
      .agg(Aggregations.kmvSketch(col("h"), k).as("sk"))
      .select(explode(col("sk")).as("h")).as[Long].collect().toSeq
  }

  test("kmv sketch is the k smallest distinct values, ascending, " +
       "independent of row order and partitioning") {
    val rnd = new scala.util.Random(7)
    val values = Seq.fill(5000)(rnd.nextLong() & ((1L << 60) - 1))
    val expected = values.distinct.sorted.take(256)
    assert(sketchOf(values, 256, 1) == expected)
    assert(sketchOf(rnd.shuffle(values), 256, 16) == expected)
  }

  test("kmv sketch below k distinct values IS the distinct set (exact)") {
    val values = Seq(9L, 3L, 9L, 1L, 3L, 7L)
    assert(sketchOf(values, 256, 4) == Seq(1L, 3L, 7L, 9L))
  }

  test("kmv merge is lossless: merged shard sketches == corpus sketch") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // heavy overlap between shards on purpose — merge must dedup
    val values = Seq.fill(8000)(rnd.nextInt(3000).toLong * 7919)
    val whole = sketchOf(values, 128, 8)
    val merged = values.zipWithIndex.map { case (v, i) => (i % 5, v) }
      .toDF("shard", "h")
      .groupBy("shard").agg(Aggregations.kmvSketch(col("h"), 128).as("sk"))
      .select(explode(col("sk")).as("h"))
      .agg(Aggregations.kmvSketch(col("h"), 128).as("sk"))
      .select(explode(col("sk")).as("h")).as[Long].collect().toSeq
    assert(merged == whole)
  }

  test("kmv estimate lands within 15% of truth at k=256, n=20000") {
    import spark.implicits._
    val k = 256
    val est = (0 until 20000).map(i => s"key_$i").toDF("s")
      .select(TextOps.md5Hash60(col("s")).as("h"))
      .agg(Aggregations.kmvSketch(col("h"), k).as("sk"))
      .select(Aggregations.kmvEstimate(col("sk"), k).as("est"))
      .as[Long].head()
    assert(math.abs(est - 20000L) < 3000, s"estimate $est too far from 20000")
  }

  test("kmv aggregate serialization round-trips the buffer") {
    val agg = graft.functions.KmvSketch(
      org.apache.spark.sql.catalyst.expressions.Literal(1L), 8)
    val buf = agg.createAggregationBuffer()
    Seq(42L, 7L, 99L, 7L).foreach(buf.add(_))
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.asScala.toSeq == buf.asScala.toSeq)
  }

  test("log-histogram percentiles: bucket bounds always contain the true " +
       "rank statistic, with bounded relative width") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    // heavy-tailed positive values across 5 decades
    val df = Seq.fill(4000)(math.exp(rnd.nextGaussian() * 2.5)).toDF("value")
    val rows = Aggregations.logHistogramPercentiles(df, "value",
      Seq(10, 50, 90, 99)).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val (lo, hi, exact) = (r.getAs[Long]("bucket_lo"),
        r.getAs[Long]("bucket_hi"), r.getAs[Long]("exact_micro"))
      assert(lo <= exact && exact <= hi,
        s"p${r.getAs[Long]("p")}: $exact outside [$lo, $hi]")
      // γ = 2^(1/8): bucket width ≤ ~9% of its lower bound (plus the
      // tiny-value buckets where the 4-bit mantissa hasn't kicked in)
      assert(hi - lo <= lo / 8 + 1, s"bucket [$lo, $hi] too wide")
    }
  }

  test("log-histogram percentiles: bucket-local rank selection lands " +
       "exactly where the replaced global-rank window did") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(20)
    // heavy-tailed values + heavy ties (in-bucket tie order exercised) +
    // sub-micro values (dropped by quantization) + extreme percentiles
    val vals = Seq.fill(3000)(math.exp(rnd.nextGaussian() * 2.0)) ++
      Seq.fill(500)(42.0) ++ Seq.fill(200)(0.0000004)
    val df = rnd.shuffle(vals).toDF("value").repartition(16)
    val ps = Seq(1, 10, 50, 90, 99, 100)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val got = rows(Aggregations.logHistogramPercentiles(df, "value", ps))
    // the REPLACED form, inlined verbatim: readout join against a global
    // row_number over the full micro-value frame
    val sel = Aggregations.logHistogramReadout(
      Aggregations.logHistogramBuckets(df, "value"), ps)
    val exact = df.filter(col("value").isNotNull && col("value") > 0)
      .select(floor(col("value") * 1000000d).cast("long").as("v"))
      .filter(col("v") > 0)
      .withColumn("rn", row_number().over(Window.orderBy("v")))
    val want = rows(sel.join(exact, col("rn") === col("rank"))
      .select(col("p"), col("rank"), col("bucket_lo"), col("bucket_hi"),
        col("v").as("exact_micro"))
      .orderBy("p"))
    assert(got.length == ps.length)
    assert(got.toSeq == want.toSeq)
  }

  /** The recurrence on plain Maps — an independent driver-side image of
    * [[Graph.pageRankPpm]] to pin the distributed form against. */
  private def pageRankLocal(nodes: Seq[Long], edges: Seq[(Long, Long)],
                            iters: Int,
                            dampPpm: Long = 850000L): Map[Long, Long] = {
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val inc = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / outdeg(u) }.sum).toMap
      r = nodes.map(v => v ->
        ((1000000L - dampPpm) +
          (dampPpm * inc.getOrElse(v, 0L)) / 1000000L)).toMap
    }
    r
  }

  test("pageRankPpm matches the integer recurrence on a hand graph, " +
       "including zero-indegree floor nodes") {
    import spark.implicits._
    // 0↔1 endorse each other, 2 endorses both, 3 is isolated
    val edges = Seq((0L, 1L), (1L, 0L), (2L, 0L), (2L, 1L))
    val nodes = Seq(0L, 1L, 2L, 3L)
    val got = Graph.pageRankPpm(
        nodes.toDF("id"), edges.toDF("src", "dst"), 4)
      .as[(Long, Long)].collect().toMap
    assert(got == pageRankLocal(nodes, edges, 4))
    // isolated and source-only nodes sit exactly on the damping floor
    assert(got(3L) == 150000L)
    assert(got(2L) == 150000L)
    // mutually-endorsing hub pair accumulated mass above initial
    assert(got(0L) > 1000000L && got(1L) > got(2L))
  }

  test("pageRankPpm threads a non-default damping through operator, local " +
       "model, and oracle CTE alike (round-13 advice: no constant drift)") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 0L), (2L, 0L), (2L, 1L))
    val nodes = Seq(0L, 1L, 2L, 3L)
    val damp = 600000L
    val got = Graph.pageRankPpm(
        nodes.toDF("id"), edges.toDF("src", "dst"), 4, dampPpm = damp)
      .as[(Long, Long)].collect().toMap
    assert(got == pageRankLocal(nodes, edges, 4, damp))
    assert(got(3L) == 1000000L - damp) // floor follows the parameter
    // the oracle CTE generator emits the SAME parameterized constants
    val cte = graft.queries.VectorQueries.pageRankIterCtes(2, damp)
    assert(cte.contains(s"${1000000L - damp} + ($damp * COALESCE"))
    assert(!cte.contains("850000"))
  }

  test("pageRankPpm is partitioning-invariant (integer sums don't reorder)") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val nodes = (0L until 200L)
    val edges = Seq.fill(900)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    def run(parts: Int, compact: Boolean): Map[Long, Long] =
      Graph.pageRankPpm(
        nodes.toDF("id").repartition(parts),
        edges.toDF("src", "dst").repartition(parts), 6, compact = compact)
      .as[(Long, Long)].collect().toMap
    assert(run(1, compact = false) == run(13, compact = false))
    // the compact (broadcast/localCheckpoint) regime is plan shape only —
    // bit-identical ranks
    assert(run(13, compact = true) == run(1, compact = false))
  }

  // ------------------------------------------------------------ bloom filter

  private def bloomWords(hashes: Seq[Long], nBits: Int, probes: Int,
                         parts: Int): Seq[Long] = {
    import spark.implicits._
    hashes.toDF("h").repartition(parts)
      .agg(Bloom.sketch(col("h"), nBits, probes).as("bf"))
      .select(explode(col("bf")).as("w")).as[Long].collect().toSeq
  }

  test("bloom: partition/merge invariance, no false negatives through the " +
       "SQL-side reader, FP rate sane at the designed geometry") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val members = Seq.fill(2000)(rnd.nextLong()).distinct
    val w1 = bloomWords(members, 65536, 4, 1)
    assert(w1 == bloomWords(rnd.shuffle(members), 65536, 4, 16),
      "words must not depend on row order or partitioning")
    val bloomDf = members.toDF("h").agg(Bloom.sketch(col("h"), 65536, 4).as("bf"))
    // every member hits through the builtin-composed reader (no false negatives)
    val missed = members.toDF("h").crossJoin(bloomDf)
      .filter(!Bloom.mightContain(col("bf"), col("h"), 65536, 4)).count()
    assert(missed === 0L)
    // fresh non-members: FP rate far under 1% at n/m ≈ 0.03, k=4
    val fresh = Seq.fill(4000)(rnd.nextLong()).distinct.filterNot(members.toSet)
    val fps = fresh.toDF("h").crossJoin(bloomDf)
      .filter(Bloom.mightContain(col("bf"), col("h"), 65536, 4)).count()
    assert(fps.toDouble / fresh.size < 0.01, s"FP rate ${fps.toDouble / fresh.size}")
  }

  test("bloom orWords merge is lossless: filter(A) | filter(B) == filter(A++B)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val a = Seq.fill(900)(rnd.nextLong())
    val b = Seq.fill(1100)(rnd.nextLong())
    val merged = Seq(
        (a.toDF("h").agg(Bloom.sketch(col("h"), 4096, 3).as("bf"))
           .as[Seq[Long]].head(),
         b.toDF("h").agg(Bloom.sketch(col("h"), 4096, 3).as("bf"))
           .as[Seq[Long]].head()))
      .toDF("wa", "wb")
      .select(Bloom.orWords(col("wa"), col("wb")).as("w"))
      .select(explode(col("w")).as("w")).as[Long].collect().toSeq
    assert(merged == bloomWords(a ++ b, 4096, 3, 4))
  }

  test("bloom admit == exact anti-join even at a deliberately saturated " +
       "filter (FP-invariance), and true dupes are rejected") {
    import spark.implicits._
    val history = (1L to 60L).map(i => (i, s"fp$i")).toDF("doc_id", "fp")
    // arrivals: 5 true dupes of history fps + 10 genuinely new
    val arrivals = ((101L to 105L).map(i => (i, s"fp${i - 100}")) ++
      (111L to 120L).map(i => (i, s"new$i"))).toDF("doc_id", "fp")
    // 64 bits for 60 members: filter near-saturated, FP path heavily live
    val bloomDf = history.agg(Bloom.sketch(xxhash64(col("fp")), 64, 2).as("words"))
    val admitted = Bloom.admit(arrivals, history, "fp", bloomDf, 64, 2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(admitted == (111L to 120L).toSeq)
  }

  // ------------------------------------------------------------ bpe trainer

  /** Runs `body` and counts the Spark jobs it starts. */
  private def countJobs[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    // listener events are async — drain the bus DETERMINISTICALLY both
    // before arming the counter (stragglers from a previous measured
    // body must not land inside this window) and after the body (its
    // own tail events must be counted); a fixed sleep does neither
    // reliably on a loaded box
    val sc = spark.sparkContext
    org.apache.spark.graftbridge.ListenerBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.graftbridge.ListenerBridge.drainListenerBus(sc)
      (r, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  /** Greedy rule application by rebuilding the whole sequence once per
    * rule — the plainest reference for the merge step. */
  private def rebuildPerPass(tokens: Seq[String],
                             rules: Seq[(String, String)]): Seq[String] = {
    var cur = tokens.toVector
    for ((a, b) <- rules) {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < cur.length) {
        if (i + 1 < cur.length && cur(i) == a && cur(i + 1) == b) {
          out += cur(i) + " " + cur(i + 1); i += 2
        } else { out += cur(i); i += 1 }
      }
      cur = out.result()
    }
    cur
  }

  /** Serial greedy BPE in plain Scala: per iteration the most frequent
    * adjacent pair (ties lexicographic on (a, b)) is merged with
    * [[rebuildPerPass]]; rows are (it, a, b, pair_n, n_merged). */
  private def referenceBpe(docs: Seq[Seq[String]],
                           iters: Int): Seq[(Int, String, String, Long, Long)] = {
    var corpus = docs
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long, Long)]
    var it = 1
    var done = false
    while (it <= iters && !done) {
      val counts = corpus.flatMap(d => d.zip(d.drop(1)))
        .groupMapReduce(identity)(_ => 1L)(_ + _)
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        val before = corpus.map(_.length).sum
        corpus = corpus.map(rebuildPerPass(_, Seq((a, b))))
        out += ((it, a, b, c, (before - corpus.map(_.length).sum).toLong))
        it += 1
      }
    }
    out.toSeq
  }

  test("bpe learnMerges and learnMergesBatched(N=1) equal a plain-Scala " +
       "greedy BPE on random small-alphabet corpora (self-pair runs, " +
       "empty, null and one-token documents)") {
    import spark.implicits._
    val rnd = new scala.util.Random(4201)
    for (trial <- 1 to 8) {
      val alphabet = Vector("a", "b", "c").take(2 + trial % 2)
      val texts: Seq[Option[String]] = (1 to 6 + rnd.nextInt(10)).map { _ =>
        rnd.nextInt(8) match {
          case 0 => None
          case 1 => Some("")
          case 2 => Some(alphabet(rnd.nextInt(alphabet.size)))
          case 3 => Some(Seq.fill(2 + rnd.nextInt(7))("a").mkString(" "))
          case _ => Some(Seq.fill(rnd.nextInt(12))(
            alphabet(rnd.nextInt(alphabet.size))).mkString(" "))
        }
      }
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val docs = texts.flatten.map(_.split(" ").toSeq.filter(_.nonEmpty))
      // enough iterations that the small corpora run out of pairs
      val iters = 3 + trial
      val expected = referenceBpe(docs, iters)
      val serial = BpeTrainer.learnMerges(df, "doc_id", "text", iters)
        .orderBy("it").as[(Int, String, String, Long, Long)].collect().toSeq
      assert(serial == expected, s"trial $trial serial: texts=$texts")
      val batched1 = BpeTrainer.learnMergesBatched(df, "doc_id", "text",
          iters, 1)
        .orderBy("scan")
        .select("scan", "sym_a", "sym_b", "pair_n", "n_merged")
        .as[(Int, String, String, Long, Long)].collect().toSeq
      assert(batched1 == expected, s"trial $trial batched: texts=$texts")
    }
  }

  test("bpe learnMerges runs at most 3 jobs per merge on sf0.001 (one " +
       "aggregation query per scan — no per-iteration window shuffles)") {
    val t = graft.sources.Tables(spark, "/root/testdata/sf0.001")
    val iters = 6
    val (rules, jobs) = countJobs {
      BpeTrainer.learnMerges(t.documents, "doc_id", "text", iters).collect()
    }
    assert(rules.length == iters)
    assert(jobs <= 3 * (iters + 1),
      s"learnMerges ran $jobs jobs for $iters merges")
  }

  test("bpe learnMerges: argmax with lexicographic ties, greedy merge, " +
       "and the next iteration counts over the rewritten corpus") {
    import spark.implicits._
    // "w x" appears 3x (docs 1,1,2); after merging it, pair ("w x","y")
    // appears 2x and must win iteration 2 — which only happens if the
    // merge was actually applied before recounting
    val df = Seq(
      (1L, "w x y w x"),
      (2L, "w x y z")
    ).toDF("doc_id", "text")
    val out = BpeTrainer.learnMerges(df, "doc_id", "text", 2)
      .orderBy("it")
      .as[(Int, String, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1, "w", "x", 3L, 3L),
      (2, "w x", "y", 2L, 2L)))
  }

  test("bpe learnMerges: self-pair runs merge greedily left-to-right " +
       "(n_merged < pair_n on overlap)") {
    import spark.implicits._
    // run of five a's: adjacent (a,a) pairs = 4, but greedy merging takes
    // positions 1-2 and 3-4 only => n_merged = 2, leaving [aa, aa, a]
    val df = Seq((1L, "a a a a a")).toDF("doc_id", "text")
    val out = BpeTrainer.learnMerges(df, "doc_id", "text", 2)
      .orderBy("it")
      .as[(Int, String, String, Long, Long)].collect().toSeq
    assert(out.head == ((1, "a", "a", 4L, 2L)))
    // iteration 2 runs on ["a a", "a a", "a"]: pairs ("a a","a a")=1 and
    // ("a a","a")=1 tie on count and on sym; nsym "a" < "a a" breaks the
    // tie => winner ("a a", "a"), adjacent only at positions 2-3 => one
    // merge
    assert(out(1) == ((2, "a a", "a", 1L, 1L)))
  }

  test("bpe applyMerges: stored-rule serving matches training's final " +
       "corpus, chained rules compose, empty docs survive") {
    import spark.implicits._
    val df = Seq(
      (1L, "w x y w x"),
      (2L, "w x y z"),
      (3L, "")
    ).toDF("doc_id", "text")
    // rules learned by the trainer spec above: (w,x) then ("w x",y)
    val out = BpeTrainer.applyMerges(df, "doc_id", "text",
        Seq(("w", "x"), ("w x", "y")))
      .orderBy("id")
      .as[(Long, Long, String)].collect().toSeq
    def fp(syms: String*): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.digest(syms.mkString("\u001f").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    // doc 1: [w,x,y,w,x] -> [w x, y, w x] -> [w x y, w x]
    // doc 2: [w,x,y,z]   -> [w x, y, z]   -> [w x y, z]
    assert(out == Seq(
      (1L, 2L, fp("w x y", "w x")),
      (2L, 2L, fp("w x y", "z")),
      (3L, 0L, fp())))
  }

  test("bpe applyMergesLocal is row-identical to applyMerges on random " +
       "corpora and rule lists (self-pairs, compound and dead rules)") {
    import spark.implicits._
    // Small alphabet so random rules actually fire; rules drawn from both
    // base symbols and already-merged compounds so chaining is exercised;
    // ~half the rules are dead (never adjacent) so the skip path runs too.
    val rnd = new scala.util.Random(4171)
    val alphabet = Vector("a", "b", "c", "d")
    for (trial <- 1 to 8) {
      val docs = (1L to 30L).map { id =>
        val n = rnd.nextInt(13) // 0..12 tokens, empties included
        (id, Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val compounds = Seq("a a", "a b", "b a", "c d", "a a a", "a b c")
      val syms = alphabet ++ compounds
      val rules = Seq.fill(10)(
        (syms(rnd.nextInt(syms.size)), syms(rnd.nextInt(syms.size))))
      val decl = BpeTrainer.applyMerges(df, "doc_id", "text", rules)
        .orderBy("id").as[(Long, Long, String)].collect().toSeq
      val local = BpeTrainer.applyMergesLocal(df, "doc_id", "text", rules)
        .orderBy("id").as[(Long, Long, String)].collect().toSeq
      assert(local == decl, s"trial $trial diverged: rules=$rules docs=$docs")
    }
  }

  test("bpe batched selection at N=1 equals serial greedy training " +
       "(rules, counts and merged occurrences), in a third the jobs") {
    import spark.implicits._
    val t = graft.sources.Tables(spark, "/root/testdata/sf0.001")
    val (serial, serialJobs) = countJobs {
      BpeTrainer.learnMerges(t.documents, "doc_id", "text", 6)
        .orderBy("it")
        .as[(Int, String, String, Long, Long)].collect().toSeq
    }
    val (batched1, _) = countJobs {
      BpeTrainer.learnMergesBatched(t.documents, "doc_id", "text", 6, 1)
        .orderBy("scan")
        .select("scan", "sym_a", "sym_b", "pair_n", "n_merged")
        .as[(Int, String, String, Long, Long)].collect().toSeq
    }
    assert(batched1 == serial,
      "batchN=1 must reproduce serial greedy exactly")
    // the latency claim: 6 rules in 2 scans (N=3) runs ~3x fewer jobs
    // than 6 serial iterations
    val (batched3, batchedJobs) = countJobs {
      BpeTrainer.learnMergesBatched(t.documents, "doc_id", "text", 2, 3)
        .collect()
      Seq.empty
    }
    assert(batched3.isEmpty) // shape only; correctness is the x111 oracle
    assert(batchedJobs * 2 < serialJobs,
      s"expected ~3x fewer jobs, got serial=$serialJobs batched=$batchedJobs")
  }

  test("bpe batched selection equals serial greedy when the top pairs are " +
       "symbol-disjoint (the non-interacting-prefix guarantee)") {
    import spark.implicits._
    // frequencies engineered strictly decreasing and disjoint:
    // (a,b) x 12, (c,d) x 9, (e,f) x 7 — no shared symbols, no ties, and
    // UNIQUE separators between blocks so no boundary or created pair
    // ever reaches count 2 (a repeated separator would hand serial greedy
    // a created pair as its second argmax — exactly the case the
    // guarantee excludes)
    val blocks = Seq.fill(12)("a b") ++ Seq.fill(9)("c d") ++
      Seq.fill(7)("e f")
    val doc = blocks.zipWithIndex
      .map { case (b, i) => s"$b u$i" }.mkString(" ")
    val df = Seq((1L, doc)).toDF("doc_id", "text")
    val serial = BpeTrainer.learnMerges(df, "doc_id", "text", 3)
      .orderBy("it").as[(Int, String, String, Long, Long)].collect().toSeq
    val batched = BpeTrainer.learnMergesBatched(df, "doc_id", "text", 1, 3)
      .orderBy("slot")
      .select("slot", "sym_a", "sym_b", "pair_n", "n_merged")
      .as[(Int, String, String, Long, Long)].collect().toSeq
    assert(batched == serial)
  }

  test("bpe applyRulesLocal: compound-pair keys never alias (rule (a, b c) " +
       "does not fire on adjacency (a b, c)) and the honest chain does") {
    // adjacency ("x y", "z") present; rule ("x", "y z") must NOT fire —
    // the round-15 string key "a b c" matched both spellings (wasted
    // pass); tuple keys make the skip test exact in both directions
    val out = BpeTrainer.applyRulesLocal(Seq("x", "y", "z"),
      Array(("x", "y"), ("x", "y z")))
    assert(out == Seq("x y", "z"))
    val out2 = BpeTrainer.applyRulesLocal(Seq("x", "y", "z"),
      Array(("x", "y"), ("x y", "z")))
    assert(out2 == Seq("x y z"))
  }

  test("bpe applyRulesLocal equals a rebuild-per-pass reference on " +
       "adversarial same-symbol runs") {
    // same-symbol power chain over a 100003-token single-symbol run
    // (odd length → a remainder survives at every level)
    val run = Seq.fill(100003)("a")
    val chain = Iterator.iterate("a")(s => s + " " + s).take(12)
      .map(s => (s, s)).toArray
    assert(BpeTrainer.applyRulesLocal(run, chain) == rebuildPerPass(run, chain.toSeq))
    // randomized same-symbol-heavy small docs
    val rnd = new scala.util.Random(4173)
    for (_ <- 1 to 50) {
      val toks = Seq.fill(rnd.nextInt(40))(if (rnd.nextBoolean()) "a" else "b")
      val pool = Seq("a", "b", "a a", "b b", "a b", "a a a a")
      val rules = Seq.fill(8)(
        (pool(rnd.nextInt(pool.size)), pool(rnd.nextInt(pool.size))))
      assert(BpeTrainer.applyRulesLocal(toks, rules.toArray)
          == rebuildPerPass(toks, rules),
        s"toks=$toks rules=$rules")
    }
  }

  test("bpe applyRulesLocal: many live rules on a long document stay " +
       "near-linear (the chained-rescan pathology, round-15 verdict #3)") {
    val nRules = 20000
    val reps = 5
    val rnd = new scala.util.Random(4177)
    val blocks = rnd.shuffle(
      (0 until nRules).flatMap(i => Seq.fill(reps)(i)).toVector)
    val tokens = blocks.flatMap(i => Seq(s"p$i", s"q$i")) // 200k tokens
    val rules = (0 until nRules).map(i => (s"p$i", s"q$i")).toArray
    val t0 = System.nanoTime()
    val out = BpeTrainer.applyRulesLocal(tokens, rules)
    val ms = (System.nanoTime() - t0) / 1000000
    assert(out.length == nRules * reps)
    assert(out.forall { s =>
      val p = s.split(" "); p.length == 2 && p(1) == "q" + p(0).drop(1)
    })
    // the round-15 form rescanned 200k tokens once per live rule (~4·10^9
    // steps, minutes); the indexed form does ~10^6 — a generous ceiling
    // still separates the complexity classes cleanly
    assert(ms < 30000, s"applyRulesLocal took ${ms}ms — rescan pathology")
  }

  test("bpe applyMergesLocal: plan size is FLAT in the rule count and the " +
       "plan carries no rule literals (the 32k-vocab serving shape)") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    def planLen(nRules: Int): Int = {
      val rules = (1 to nRules).map(i => (s"s$i", s"t$i"))
      BpeTrainer.applyMergesLocal(df, "doc_id", "text", rules)
        .queryExecution.executedPlan.toString.length
    }
    val small = planLen(2)
    val big = planLen(2000)
    // identical modulo plan-id noise: rules live in a Broadcast, not the plan
    assert(math.abs(big - small) < 100,
      s"plan grew with rules: $small chars at 2 rules, $big at 2000")
    assert(small < 20000, s"serving plan unexpectedly large: $small chars")
  }

  test("bloom write/read roundtrip preserves words and geometry") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom_spec").toString
    val hashes = Seq.fill(500)(new scala.util.Random(29).nextLong())
    val bloomDf = hashes.toDF("h").agg(Bloom.sketch(col("h"), 8192, 4).as("bf"))
    Bloom.write(bloomDf, "bf", 8192, 4, s"$dir/bloom")
    val back = Bloom.read(spark, s"$dir/bloom")
    assert(back.select("n_bits", "n_probes").as[(Int, Int)].head() == ((8192, 4)))
    assert(back.select(explode(col("words"))).as[Long].collect().toSeq ==
      bloomDf.select(explode(col("bf"))).as[Long].collect().toSeq)
  }

  // --------------------------------------------------- sharded bloom filter

  test("sharded bloom at nShards=1 is bit-identical to the monolithic filter " +
       "and the dynamic-geometry reader matches the static one") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val members = Seq.fill(1500)(rnd.nextLong()).distinct
    val frame = Bloom.sketchSharded(members.toDF("h"), col("h"), 8192, 4, 1)
    val shardedWords = frame.select(explode(col("words")).as("w"))
      .as[Long].collect().toSeq
    assert(shardedWords == bloomWords(members, 8192, 4, 8),
      "single-shard frame must carry the monolithic filter's exact bits")
    assert(frame.select("shard", "n_bits", "n_probes", "n_shards")
      .as[(Int, Int, Int, Int)].head() == ((0, 8192, 4, 1)))
    // every member hits through the shard-routed reader
    val missed = Bloom.screenSharded(members.toDF("h"), col("h"), frame, 4, 1)
      .filter(!col("__maybe")).count()
    assert(missed === 0L)
  }

  test("sharded bloom: frame is total over shards (empties as zero words), " +
       "no false negatives across shards, admitSharded == exact anti-join") {
    import spark.implicits._
    val nS = 8
    // skew the hash top bits so some shards are EMPTY by construction:
    // only route to shards 0..2
    val rnd = new scala.util.Random(37)
    def hashIn(shard: Long): Long =
      (rnd.nextLong() & ((1L << Bloom.ShardShift) - 1)) | (shard << Bloom.ShardShift)
    val history = (Seq.fill(600)(hashIn(0)) ++ Seq.fill(600)(hashIn(1)) ++
      Seq.fill(600)(hashIn(2))).distinct
    val frame = Bloom.sketchSharded(history.toDF("h"), col("h"), 1024, 4, nS)
    assert(frame.count() === nS.toLong, "frame must have one row per shard")
    val emptyFills = Bloom.shardFill(frame)
      .filter(col("shard") >= 3).select("fill_ppm").as[Long].collect()
    assert(emptyFills.forall(_ == 0L), "empty shards must be zero-filled")
    // no false negatives at a deliberately tight geometry
    val missed = Bloom.screenSharded(history.toDF("h"), col("h"), frame, 4, nS)
      .filter(!col("__maybe")).count()
    assert(missed === 0L)
    // admitSharded is exact at any FP rate (tight geometry → many FPs):
    // screen on fingerprint STRINGS like the production path
    val histFp = (1 to 400).map(i => s"doc-$i").toDF("fp")
    val arrFp = (201 to 600).map(i => s"doc-$i").toDF("fp")
    val fpFrame = Bloom.sketchSharded(histFp, xxhash64(col("fp")), 256, 4, nS)
    val admitted = Bloom.admitSharded(arrFp, histFp, "fp", fpFrame, 4, nS)
      .select("fp").as[String].collect().toSet
    assert(admitted == (401 to 600).map(i => s"doc-$i").toSet)
  }

  test("sharded bloom: per-shard rebuild at diverged geometries keeps every " +
       "member findable and shardFill matches a driver popcount") {
    import spark.implicits._
    val nS = 4
    val rnd = new scala.util.Random(41)
    val members = Seq.fill(3000)(rnd.nextLong()).distinct
    val frame = Bloom.sketchSharded(members.toDF("h"), col("h"), 512, 4, nS)
    // shardFill == exact driver popcount, shard by shard
    val fills = Bloom.shardFill(frame).select("shard", "fill_ppm")
      .as[(Int, Long)].collect().toMap
    val driverFills = frame.select("shard", "words")
      .as[(Int, Seq[Long])].collect().map { case (s, w) =>
        s -> w.map(java.lang.Long.bitCount(_).toLong).sum * 1000000L / 512L
      }.toMap
    assert(fills == driverFills)
    // rotate shards 1 and 3 to different, larger geometries
    val counts = members.toDF("h")
      .groupBy(Bloom.shardOf(col("h"), nS).as("shard")).count()
      .as[(Int, Long)].collect().toMap
    val targets = Map(
      1 -> Bloom.rebuildBitsFor(512, counts(1), 4),
      3 -> Bloom.rebuildBitsFor(512, counts(3) * 4, 4)) // force distinct sizes
    val rebuilt = Bloom.sketchShardedAt(members.toDF("h"), col("h"),
      targets, 4, nS)
    assert(rebuilt.select("shard", "n_bits").as[(Int, Int)].collect().toMap
      == targets)
    val served = frame.filter(!col("shard").isin(1, 3)).unionByName(rebuilt)
    assert(served.count() === nS.toLong)
    val missed = Bloom.screenSharded(members.toDF("h"), col("h"), served, 4, nS)
      .filter(!col("__maybe")).count()
    assert(missed === 0L, "mixed per-shard geometries must keep all members")
    // rebuilt shards actually decongested: fill dropped on shard 1
    val fills2 = Bloom.shardFill(served).select("shard", "fill_ppm")
      .as[(Int, Long)].collect().toMap
    assert(fills2(1) < fills(1))
  }

  test("sharded bloom rebuildBitsFor: pow2 sizing with the 2x floor and the " +
       "per-shard ceiling") {
    assert(Bloom.rebuildBitsFor(64, 0, 4) === 128)       // floor: 2x outgoing
    assert(Bloom.rebuildBitsFor(64, 1000, 4) === 8192)   // 2*1000*4=8000 -> 8192
    assert(Bloom.rebuildBitsFor(1 << 20, 100, 4) === (1 << 21))
    intercept[IllegalArgumentException] {
      Bloom.rebuildBitsFor(1 << 29, (1L << 40), 4)       // needs > 2^30/shard
    }
  }

  test("sharded bloom screen fails loudly on geometry mismatch and on a " +
       "partial frame — never silently 'unseen'") {
    import spark.implicits._
    def msgChain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .take(10).map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val members = (1L to 200L).map(i => i * 0x9E3779B97F4A7C15L).toDF("h")
    val frame = Bloom.sketchSharded(members, col("h"), 1024, 4, 4)
    // a re-read artifact probed with a changed shard-count constant would
    // route to the wrong rows — must raise, not re-admit duplicates
    val e1 = intercept[Throwable] {
      Bloom.screenSharded(members, col("h"), frame, 4, 8).collect()
    }
    assert(msgChain(e1).contains("geometry mismatch"), msgChain(e1))
    val e2 = intercept[Throwable] {
      Bloom.screenSharded(members, col("h"), frame, 2, 4).collect()
    }
    assert(msgChain(e2).contains("geometry mismatch"), msgChain(e2))
    // a PARTIAL sketchShardedAt frame must not masquerade as 'unseen'
    val partial = Bloom.sketchShardedAt(members, col("h"), Map(0 -> 1024), 4, 4)
    val e3 = intercept[Throwable] {
      Bloom.screenSharded(members, col("h"), partial, 4, 4).collect()
    }
    assert(msgChain(e3).contains("not total"), msgChain(e3))
  }

  test("sharded bloom write/read roundtrip preserves per-shard rows") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bloom_shard_spec").toString
    val members = Seq.fill(800)(new scala.util.Random(43).nextLong())
    val frame = Bloom.sketchSharded(members.toDF("h"), col("h"), 2048, 4, 4)
    Bloom.writeSharded(frame, s"$dir/frame")
    val back = Bloom.readSharded(spark, s"$dir/frame")
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("shard", "words", "n_bits", "n_probes", "n_shards")
        .as[(Int, Seq[Long], Int, Int, Int)].collect().sortBy(_._1).toSeq
    assert(key(back) == key(frame))
  }
}
