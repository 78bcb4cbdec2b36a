package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** J1/J2 dedup + lookup join and the A4 party pivot over in-memory PAC
  * fixtures (FIXTURES.md §3). */
class DedupAggSpec extends SparkSpec {
  import spark.implicits._

  private def dupFrame = Seq(
    // (ticker, cycle, committee, amount, ingest_ts) — first two share a key
    ("AAPL", 2024, "Apple PAC", 100.0, 2),
    ("AAPL", 2024, "Apple PAC", 100.0, 1), // earlier ingest — must survive
    ("MSFT", 2024, "Microsoft PAC", 200.0, 1)
  ).toDF("ticker", "cycle", "committee", "amount", "ingest_ts")

  test("keepFirst keeps exactly the earliest row per composite key") {
    val keyed = dupFrame.withColumn("key",
      Derivations.compositeKey($"ticker", $"cycle", $"committee", $"amount"))
    val out = Dedup.keepFirst(keyed, Seq("key"), Seq($"ingest_ts"))
    assert(out.count() === 2L)
    assert(out.filter($"ticker" === "AAPL").select("ingest_ts").head.getInt(0) === 1)
  }

  test("keepFirst is deterministic across reshuffles") {
    val keyed = dupFrame.repartition(4).withColumn("key",
      Derivations.compositeKey($"ticker", $"cycle"))
    val a = Dedup.keepFirst(keyed, Seq("key"), Seq($"ingest_ts", $"amount"))
      .orderBy("ticker").collect().toSeq
    val b = Dedup.keepFirst(keyed.repartition(7), Seq("key"), Seq($"ingest_ts", $"amount"))
      .orderBy("ticker").collect().toSeq
    assert(a === b)
  }

  test("keepFirstAgg (min_by) selects the same survivors as the window form") {
    val keyed = dupFrame.repartition(5).withColumn("key",
      Derivations.compositeKey($"ticker", $"cycle"))
    val order = Seq($"ingest_ts", $"amount")
    val win = Dedup.keepFirst(keyed, Seq("key"), order)
      .orderBy("ticker").collect().toSeq
    val agg = Dedup.keepFirstAgg(keyed, Seq("key"), order)
      .select(win.head.schema.fieldNames.map(col): _*)
      .orderBy("ticker").collect().toSeq
    assert(agg === win)
  }

  test("antiJoinExisting drops rows whose keys exist in the sink") {
    val incoming = Seq(("A", 1), ("B", 2), ("C", 3)).toDF("k", "v")
    val existing = Seq(("B", 99), ("B", 100)).toDF("k", "v")
    val out = Dedup.antiJoinExisting(incoming, existing, Seq("k"))
    assert(out.select("k").collect().map(_.getString(0)).sorted.toSeq === Seq("A", "C"))
  }

  test("lookupJoin keeps matches, droppedKeys reports misses") {
    val facts = Seq(("AAPL", 1.0), ("MSFT", 2.0), ("XXXX", 3.0)).toDF("ticker", "amt")
    val mapping = Seq(("AAPL", "b1"), ("MSFT", "b2")).toDF("ticker", "brand_id")
    assert(Dedup.lookupJoin(facts, mapping, "ticker").count() === 2L)
    assert(Dedup.droppedKeys(facts, mapping, "ticker").collect()
      .map(_.getString(0)).toSeq === Seq("XXXX"))
  }

  test("partyPivot: precedence, zero-group drop, blank-ticker and amount filters") {
    val pac = Seq(
      ("AAPL", 2024, "Democrats for Conservative Values", 10.0), // → republican (precedence)
      ("AAPL", 2024, "Progressive PAC", 5.0),                    // → democrat
      ("MSFT", 2024, "Neutral PAC", 50.0),                       // unclassified → group drops
      ("", 2024, "GOP Fund", 30.0),                              // blank ticker skipped
      ("TSLA", 2024, "GOP Fund", -1.0),                          // non-positive skipped → drops
      ("NVDA", 2024, "Liberal Fund", 7.5)
    ).toDF("ticker", "cycle", "committee_name", "amount")
    val out = Aggregations.partyPivot(pac, "ticker", "cycle", "committee_name", "amount")
      .orderBy("ticker").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("AAPL", "NVDA"))
    val aapl = out(0)
    assert(aapl.getAs[Double]("republican_total") === 10.0)
    assert(aapl.getAs[Double]("democrat_total") === 5.0)
  }

  test("skewSafeGroupSum equals the plain group-sum on a skewed key") {
    val skewed = (1 to 1000).map(i => ("hot", i.toDouble)) ++
      Seq(("cold", 1.0), ("cold", 2.0))
    val df = skewed.toDF("k", "v").repartition(8)
    val expected = Aggregations.groupSum(df, "k", "v")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val salted = Aggregations.skewSafeGroupSum(df, "k", "v", salts = 4)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(salted("hot")._1 === expected("hot"))
    assert(salted("cold")._1 === expected("cold"))
    assert(salted("hot")._2 === 1000L)
  }

  test("typed contributions dataset round-trips the pacFrame shape") {
    import graft.model.Schemas
    val pac = Seq(("AAPL", 2024L, "Apple PAC", 10.5), (null, 2024L, "X", 1.0))
      .toDF("ticker", "cycle", "committee_name", "amount")
    val ds = Schemas.asContributions(spark, pac)
    val rows = ds.collect().sortBy(_.committee_name)
    assert(rows(0) === Schemas.Contribution("AAPL", 2024L, "Apple PAC", 10.5))
    assert(rows(1).ticker === "") // null ticker collapses like fillna('')
    assert(ds.filter(_.amount > 5.0).count() === 1L)
  }

  test("distinctCount equals an exact distinct().count() (A6), nulls " +
       "excluded like countDistinct") {
    val df = ((1 to 5000).map(i => Option(i % 997)) ++ Seq(None, None))
      .toDF("k").repartition(4)
    val got = Aggregations.distinctCount(df, "k").head.getLong(0)
    assert(got === df.distinct().count() - 1) // the null group
    assert(got === 997L)
  }

  test("approxDistinctCount lands within the requested relative error") {
    val n = 5000
    val df = (1 to n).map(i => i % 1000).toDF("k") // 1000 distinct
    val approx = Aggregations.approxDistinctCount(df, "k", rsd = 0.05)
      .head.getLong(0)
    assert(math.abs(approx - 1000.0) / 1000.0 < 0.15) // 3x rsd headroom
  }

  test("reconcile full-outer joins counts with the existing>=incoming heuristic") {
    val incoming = Seq("a", "a", "b").toDF("k")
    val existing = Seq("a", "c").toDF("k")
    val rows = Aggregations.reconcile(incoming, existing, "k").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(rows("a") === ((2L, 1L, 3L, false)))
    assert(rows("b") === ((1L, 0L, 1L, false)))
    assert(rows("c") === ((0L, 1L, 1L, true)))
  }

  test("connectedComponents groups transitive chains; labels are min ids") {
    // chain d1-d2-d3 (d1,d3 never paired directly) + separate pair d8-d9
    val edges = Seq(("d2", "d1"), ("d2", "d3"), ("d8", "d9"))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    graft.GraftCache.release()
    assert(comp === Map("d1" -> "d1", "d2" -> "d1", "d3" -> "d1",
      "d8" -> "d8", "d9" -> "d8"))
  }

  test("connectedComponents converges on a long path (multi-round fixpoint)") {
    // path v00-v01-...-v12: diameter 12 forces many propagation rounds and
    // exercises the per-round persist/unpersist handover
    val n = 13
    val edges = (0 until n - 1)
      .map(i => (f"v$i%02d", f"v${i + 1}%02d")).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    graft.GraftCache.release()
    assert(comp.size === n)
    assert(comp.values.toSet === Set("v00"))
  }

  test("connectedComponents throws rather than return partial labels") {
    val edges = (0 until 6).map(i => (s"p$i", s"p${i + 1}")).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(edges, "id_a", "id_b", maxIter = 1)
    }
    graft.GraftCache.release()
    assert(e.getMessage.contains("did not converge"))
  }

  test("connectedComponentsStar groups transitive chains; labels are min ids") {
    val edges = Seq(("d2", "d1"), ("d2", "d3"), ("d8", "d9"), ("d5", "d5"))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponentsStar(edges, "id_a", "id_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    graft.GraftCache.release()
    assert(comp === Map("d1" -> "d1", "d2" -> "d1", "d3" -> "d1",
      "d8" -> "d8", "d9" -> "d8", "d5" -> "d5")) // self-loop → own component
  }

  test("connectedComponentsStar converges sub-diameter on a long path") {
    // Diameter-40 path in label-sorted order — min-label propagation's
    // adversarial case (~40 rounds). Star contraction roughly halves the
    // remaining distance per round; maxIter=12 < 40 proves the O(log n)
    // round bound actually holds, not just that the answer is right.
    val n = 41
    val edges = (0 until n - 1)
      .map(i => (f"v$i%02d", f"v${i + 1}%02d")).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponentsStar(edges, "id_a", "id_b", maxIter = 12)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    graft.GraftCache.release()
    assert(comp.size === n)
    assert(comp.values.toSet === Set("v00"))
  }

  test("property: star contraction labels exactly like min-label propagation") {
    // Random multigraphs with self-loops, duplicate edges, and both
    // orientations — the two CC implementations must agree on every vertex.
    val gen = for {
      n <- Gen.chooseNum(2, 30)
      m <- Gen.chooseNum(1, 50)
      edges <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n.toLong)
        b <- Gen.chooseNum(0L, n.toLong)
      } yield (a, b))
    } yield edges
    val prop = Prop.forAll(gen) { edges =>
      val df = edges.toDF("id_a", "id_b")
      def labels(out: org.apache.spark.sql.DataFrame) = {
        val m = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        graft.GraftCache.release()
        m
      }
      labels(Dedup.connectedComponents(df, "id_a", "id_b")) ==
        labels(Dedup.connectedComponentsStar(df, "id_a", "id_b"))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: incrementalComponents equals full CC recomputation") {
    // labels = CC(E1); incremental(labels, E2) must equal CC(E1 ∪ E2) on
    // nodes(E1) ∪ nodes(E2) — merges ripple transitively through the
    // component graph, never just pairwise.
    val edgeGen = Gen.chooseNum(1, 12).flatMap(m =>
      Gen.listOfN(m, Gen.zip(Gen.chooseNum(0L, 14L), Gen.chooseNum(0L, 14L))))
    val prop = Prop.forAll(Gen.zip(edgeGen, edgeGen)) { case (e1, e2) =>
      val d1 = e1.toDF("id_a", "id_b")
      val d2 = e2.toDF("id_a", "id_b")
      val labels = Dedup.connectedComponents(d1, "id_a", "id_b")
      val inc = Dedup.incrementalComponents(labels, d2, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val full = Dedup.connectedComponents(
          d1.unionByName(d2), "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.GraftCache.release()
      inc == full
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: heavyHitters equals the exact groupBy + threshold on random streams") {
    // The sketch has no false negatives, so sketch -> exact-verify must
    // reproduce the ground truth exactly — for skewed and uniform streams,
    // across partitions (exercising partial-buffer merge + serialization).
    val gen = for {
      n <- Gen.chooseNum(50, 400)
      skew <- Gen.oneOf(2, 6, 20) // item universe size: heavy to flat
      items <- Gen.listOfN(n, Gen.chooseNum(0, skew).map(i => s"w$i"))
      cap <- Gen.oneOf(2, 3, 5)
    } yield (items, cap)
    val prop = Prop.forAll(gen) { case (items, cap) =>
      val df = items.toDF("item").repartition(5)
      val got = Aggregations.heavyHitters(df, "item", cap)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = items.size
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
        .filter { case (_, c) => c * (cap + 1) > n }
      got == truth
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("misraGries survives items larger than 64KB (serialize is not writeUTF)") {
    // partial buffers serialize across the partial->final exchange; a
    // >64KB item must round-trip (writeUTF would throw at 65535 bytes)
    val big = "x" * 100000
    val rows = Seq.fill(40)(big) ++ (1 to 20).map(i => s"small$i")
    val out = Aggregations.heavyHitters(
      rows.toDF("item").repartition(4), "item", 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map(big -> 40L)) // 40*(3+1) > 60; no small item qualifies
  }

  test("misraGries sketch is bounded at capacity and never misses a heavy hitter") {
    // 1000 distinct items + one dominant item, capacity 10: the summary
    // must hold <= 10 entries and MUST contain the dominant item.
    val rows = (1 to 1000).map(i => s"rare$i") ++ Seq.fill(300)("dominant")
    val df = scala.util.Random.shuffle(rows).toDF("item").repartition(7)
    val m = df.agg(Aggregations.misraGries(col("item"), 10).as("mg"))
      .head.getAs[Map[String, Long]]("mg")
    assert(m.size <= 10, s"summary exceeded capacity: ${m.size}")
    assert(m.contains("dominant"),
      "an item with freq > n/(capacity+1) must survive the sketch")
  }
}
