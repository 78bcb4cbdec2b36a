package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Cleaning rules (P1-P12) against the reference's fixtures: the 3-row
  * in-memory data-correctness test (test_snowflake_pipeline.py:153-192) and
  * the dirty-schema frame from FIXTURES.md §3. */
class CleaningSpec extends SparkSpec {
  import spark.implicits._

  /** The reference's only data-correctness unit fixture
    * (test_snowflake_pipeline.py:160-167). */
  private def referenceFrame = Seq(
    ("AAPL ", 2024, " Apple PAC ", "25000.50"),
    ("MSFT", 2024, "Microsoft PAC", "30000.25"),
    ("GOOGL", 2022, "Alphabet PAC", "15000.75")
  ).toDF("TICKER", "ELECTION_CYCLE", "COMMITTEE_NAME", "RECEIPT_AMOUNT")

  test("reference 3-row fixture: lowercase + trim + to_numeric, sum and distinct count") {
    val cleaned = referenceFrame.transform(Cleaning.cleanGeneric)
    assert(cleaned.columns.toSeq ===
      Seq("ticker", "election_cycle", "committee_name", "receipt_amount"))
    val sum = cleaned.agg(org.apache.spark.sql.functions.sum("receipt_amount")).head.getDouble(0)
    assert(math.abs(sum - 70001.50) < 1e-9)
    assert(cleaned.select(countDistinct("ticker")).head.getLong(0) === 3L)
    assert(cleaned.filter($"ticker" === "AAPL").count() === 1L) // trimmed
  }

  test("name-pattern coercion on a dirty all-string frame (FIXTURES.md §3)") {
    val dirty = Seq(
      ("  7  ", "3", "12.5", "100.25", "2024-01-02 03:04:05"),
      ("8", "bad", "x", "", "not-a-date"),
      (null, null, null, null, null)
    ).toDF("id", "count", "unit_price", "Total Value", "created_date")
    val out = dirty.transform(Cleaning.cleanGeneric)
    // The all-null row SURVIVES: money coercion 0-fills before the
    // all-null drop, exactly like the reference (fillna(0) at
    // pac_snowflake_pipeline.py:95 precedes dropna(how='all') at :116).
    assert(out.count() === 3L)
    val nullRow = out.filter($"id".isNull).head
    assert(nullRow.getAs[Double]("total value") === 0.0)
    // Without a money column, an all-null row IS dropped (P7):
    val noMoney = Seq(("x", "1"), (null, null)).toDF("name", "id")
      .transform(Cleaning.cleanGeneric)
    assert(noMoney.count() === 1L)
    val schema = out.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(schema("id") === "long")              // id-pattern → numeric
    assert(schema("unit_price") === "double")    // price-pattern → money
    assert(schema("total value") === "double")   // value-pattern → money (P1 lowercased)
    assert(schema("created_date") === "timestamp")
    val r2 = out.filter($"id" === 8L).head
    assert(r2.isNullAt(r2.fieldIndex("count")))                 // "bad" → null (coerce)
    assert(r2.getAs[Double]("total value") === 0.0)             // "" → 0-filled money
    assert(r2.isNullAt(r2.fieldIndex("created_date")))          // "not-a-date" → null
  }

  test("cleanGeneric is idempotent") {
    val once = referenceFrame.transform(Cleaning.cleanGeneric)
    val twice = once.transform(Cleaning.cleanGeneric)
    assert(once.schema === twice.schema)
    assert(once.collect().toSeq === twice.collect().toSeq)
  }

  test("normalizeColumns strips, lowercases, and underscores names (P2)") {
    val df = Seq((1, 2)).toDF("  Total  Value ", "Created Date")
      .transform(Cleaning.normalizeColumns)
    assert(df.columns.toSeq === Seq("total_value", "created_date"))
  }

  test("toIso8601 formats like .isoformat()") {
    val df = Seq("2024-03-05 07:08:09").toDF("s")
      .select(Cleaning.toIso8601(to_timestamp($"s")).as("iso"))
    assert(df.head.getString(0) === "2024-03-05T07:08:09")
  }

  test("deterministicId is stable and distinct per key") {
    val df = Seq(("A", 1), ("A", 1), ("B", 2))
      .toDF("k", "n")
      .select(Cleaning.deterministicId($"k", $"n").as("id"))
    val ids = df.collect().map(_.getString(0))
    assert(ids(0) === ids(1))
    assert(ids(0) !== ids(2))
    assert(ids(0).length === 64) // sha256 hex
  }

  test("withUuid adds a non-null, unique, UUID-formatted column (P10)") {
    val df = (1 to 2000).toDF("n").repartition(4)
      .transform(Cleaning.withUuid(_)).localCheckpoint()
    val ids = df.select("firebase_id").collect().map(_.getString(0))
    assert(ids.length === 2000)
    assert(ids.forall(_ != null))
    assert(ids.distinct.length === ids.length)
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    assert(ids.forall(_.matches(uuid)), ids.find(!_.matches(uuid)))
  }
}
