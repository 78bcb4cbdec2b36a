package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftCache
import graft.operators.{Aggregations, Bloom, BpeTrainer, Dedup, Quality, TextOps, UnigramLm}
import graft.sources.Tables

/** Oracle-checked queries for the text-analysis / dedup suite (engine
  * extension — SURVEY.md §7.5(8)) over the `documents` table.
  *
  * The DuckDB oracle SQL is GENERATED from the same Scala constants
  * ([[TextOps.hashParams]], [[TextOps.LangMarkers]], [[TextOps.Stopwords]])
  * that drive the Spark expressions, so both engines compute identical
  * signatures by construction. Key building blocks and their DuckDB twins:
  *
  *  - tokens:       `split(lower(trim(text)), "\\s+")`  ↔
  *                  `string_split_regex(lower(trim(text)), '\s+')`
  *  - md5Hash60:    `conv(substring(md5(s),1,15),16,10)::long` ↔
  *                  `('0x' || substr(md5(s),1,15))::BIGINT`
  *  - regexp_replace is replace-all in Spark; DuckDB needs the 'g' flag.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Near-dup Jaccard threshold (shared by query and oracle). */
  val NearDupThreshold = 0.8

  /** PageRank iterations for the x91 source-authority fixpoint. */
  val AuthorityIters = 10
  val ChunkSize = 64
  val MinSharedChunks = 2
  val ChunkTokens = 32
  val ChunkStep = 16
  val FuzzyMaxDist = 6
  val SpanTokens = 8
  val SpanMinDocs = 2
  // x97 exact-substring dedup: sliding windows of the same span geometry
  val SubstrTokens = 8
  val SubstrMinDocs = 2
  /** x102 within-doc repetition removal: a shorter window than x97 —
    * within-document repeats (choruses, nav bars) are shorter than
    * cross-document boilerplate, and testdata docs cap at 100 tokens. */
  val RepWindowTokens = 4

  /** x104 span corruption: 3-token spans starting at ~1/20 of positions
    * ≈ 15% token corruption rate — T5's §3.1.4 operating point. */
  val SpanCorrLen = 3
  val SpanCorrMod = 20
  /** x99: id offset for the re-keyed replay arrivals (guaranteed true
    * dupes); far above any testdata doc_id so replay ids never collide. */
  val ReplayIdOffset = 10000000L

  /** x100: BPE merge-learning iterations — enough that later argmaxes run
    * on an already-merged corpus (the recurrence is exercised, not just
    * the first pair count), small enough that the unrolled oracle CTE
    * chain stays tractable. */
  val BpeIters = 6

  /** x101: rule count for the stored-vocab APPLY gate — a prefix of the
    * x100 training run (greedy BPE is prefix-stable in the iteration
    * count), kept shorter because the apply oracle must also replay the
    * training chain to derive the same rules. */
  val BpeApplyIters = 3

  /** x106: the PRODUCTION training boundary — BPE merges are learned on
    * the hash-stratified half of the corpus (id hash-bucket per-mille
    * below this rate; the [[graft.operators.Curation.stratifiedSample]]
    * coin, so the boundary is a zero-shuffle pushed filter) and applied
    * to the FULL corpus through the bounded-local-state applier. */
  val BpeSamplePerMille = 500
  val BpeSampleBuckets = 1000

  /** x111 batched BPE training: per scan, up to [[BpeBatchN]] symbol-
    * disjoint pairs are accepted in (count desc, lexicographic) order and
    * merged in ONE pass — [[BpeBatchScans]] scans learn as many rules as
    * ~BpeBatchN·BpeBatchScans serial iterations in 1/BpeBatchN the jobs
    * (the 32k-vocab training-latency fix, round-15 verdict #4). */
  val BpeBatchScans = 2
  val BpeBatchN = 3

  /** pl14 Bloom saturation lifecycle: a stored admission filter whose
    * geometry is fixed forever silently widens its confirm-join slice as
    * the history grows (FP rate climbs with fill). The gate's decision
    * number is the EXACT integer fill ratio — popcount(words)·1e6/nBits,
    * engine-replayable because this gate builds its filter on the
    * md5-based oracle hash — gating a rebuild past 50% fill (FP ≈ 6% at
    * 4 probes and climbing steeply). The rebuild is sized from the
    * CURRENT history (smallest power of two holding 2·|history|·probes
    * bits, floored at 2× the outgoing geometry) — the rebuild re-reads
    * history anyway, which is exactly when resizing is free. Scenario
    * bits: the roomy geometry stays under threshold at every test SF;
    * the tight 64-bit one saturates even at sf0.001. */
  val RotateFillPpm = 500000L
  val BloomRoomyBits = 1 << 20
  val BloomTightBits = 64
  val IncrementalMod = 10

  /** x110 SHARDED Bloom lifecycle (round-15 verdict #1): the monolithic
    * filter's 2^30-bit ceiling caps history at ~130 M fingerprints; the
    * sharded frame multiplies that by the shard count (fingerprint top
    * bits route to per-shard filters that rotate INDEPENDENTLY). Gate
    * geometry: 4 shards; the roomy per-shard size keeps every shard under
    * the fill threshold at every test SF, the tight one saturates every
    * non-empty shard — both decision branches replayed per shard. */
  val BloomShards = 4
  val ShardRoomyBits = 1 << 18
  val ShardTightBits = 64

  /** Tombstone membership for the band-index delete gate (x79): within
    * the standing corpus (doc_id % [[IncrementalMod]] ≠ 0), documents
    * with doc_id % 3 = 0 are removed in the new snapshot — a residue
    * class orthogonal to the batch split, so the screen still has both
    * surviving and deleted candidates to distinguish. */
  val BandDeleteMod = 3

  /** Near-dup threshold for fuzzy train-vs-eval decontamination (x45) —
    * deliberately lower than [[NearDupThreshold]]: a contamination audit
    * flags looser matches than a dedup pass removes. */
  val FuzzyDecontamThreshold = 0.5

  /** Misra–Gries capacity for heavy-hitter tokens (x46): threshold
    * n/(capacity+1) ≈ 2.4% of token occurrences — ~30 corpus-dominant
    * tokens at every SF of the testdata. */
  val HHCapacity = 40

  /** Quality-classifier coefficients for x53 (a stand-in trained model —
    * the CONSTANTS are arbitrary, the shared-by-construction replay is
    * the point): longer docs score up; punctuation noise, extreme token
    * lengths, and repetition score down; stopword presence is natural
    * language (CCNet's signal) and scores up. ORDERED — the dot product
    * folds left in this sequence on both engines. */
  val ScoreWeights: Seq[(String, Double)] = Seq(
    "z_n_tokens" -> 0.8,
    "z_punct_ratio" -> -1.2,
    "z_stopword_ratio" -> 0.6,
    "z_mean_token_len" -> -0.3,
    "z_dup_bigram_frac" -> -1.0)
  val ScoreBias = 0.25

  /** x67 threshold-sensitivity curve: verification thresholds swept over
    * ONE candidate set generated at the floor. The floor sits far below
    * the deployed [[NearDupThreshold]] (the flat 0.5→0.9 segment shows
    * the corpus has no weak near-dups — itself a finding); the upper
    * probes split the synthetic dups' 0.91–1.0 similarity mass. */
  val DedupCurveFloor = 0.5
  val DedupCurve = Seq(0.5, 0.9, 0.95, 0.97)

  /** x95 classifier-evaluation curve: decision thresholds swept over the
    * fixed x53 scorer against x65's rule label. 0.5 is the deployed
    * gate; the wings show the precision/recall trade a tuner would
    * actually read. Comparisons run on the ROUND-6 score both engines
    * share, and the literal thresholds parse to identical doubles. */
  val PrThresholds = Seq(0.3, 0.4, 0.5, 0.6, 0.7)

  /** x65 classifier fit: full-batch GD iterations, the exact-binary step
    * (a power of two, so the driver's w − step·g update replays
    * bit-identically in any IEEE engine), and the two-feature rule gate
    * the fit distills (non-constant on the synthetic corpus — 40%
    * positive — and genuinely feature-derivable, unlike the `lang`
    * column, which the generator draws independently of the text).
    * 4 iterations (round-10, was 8): each iteration is a full corpus
    * scan and x65's bench cost is linear in the count — at step 8 the
    * fit converges to the rule's two dominant features within 4, and the
    * oracle unrolls whatever this constant says, so correctness is
    * unaffected by the choice. */
  val FitIters = 4
  val FitStep = 8.0
  val FitMinTokens = 50
  val FitMtlMax = 4.6

  /** x58 filter-cascade thresholds: picked so every stage is exercised on
    * the synthetic corpus — short docs exist (min 10 tokens), mean token
    * length spans 3.7–5.3, non-English docs sit under the stopword floor,
    * and the duplicate-bigram rule drops ~nothing (a zero-attrition stage
    * is part of the contract: the report must still show it). */
  val CascadeMinTokens = 20
  val CascadeMtlLo = 2.0
  val CascadeMtlHi = 4.8
  val CascadeStopFloor = 0.02
  val CascadeDupMax = 0.2

  /** x119 TRAINED language-ID (the fastText shape: hashed char-n-gram
    * features → one-vs-rest logistic → argmax): 32 hash buckets (plenty
    * for 5 languages — the learner needs separating DIRECTIONS, not
    * per-n-gram weights), 6 GD iterations at the x65 step. The synthetic
    * corpus's `lang` column is drawn independently of its text (all five
    * languages share one vocabulary — x65's scaladoc makes the same
    * point), so the gate trains on a DERIVED corpus whose labels are
    * textually realized: each document carries a deterministic suffix of
    * its language's function words (the x86 move — derive the regime the
    * operator exists for, measure there). ASCII-only suffixes keep both
    * engines' lower()/ascii() byte-for-byte trivial; zh is romanized for
    * the same reason. */
  /** x120/x121 unigram-LM tokenizer (SentencePiece's model family, the
    * hard-EM variant — see [[graft.operators.UnigramLm]]): pieces up to
    * 4 chars, a 48-piece multi-char budget on top of the full alphabet,
    * 2 EM iterations (each is one distributed segment+recount pass; the
    * oracle unrolls whatever these say). UniMaxWordLen bounds the
    * oracle's unrolled per-position DP — the trainer fails loudly past
    * it (the x106 guard pattern); the synthetic corpus tops out at 8.
    * The unknown-char cost (30 nats) exceeds any real piece cost, so
    * unknowns never beat vocabulary pieces but keep every word
    * segmentable. */
  val UniMaxPieceLen = 4
  val UniMaxPieces = 48
  val UniEmIters = 2
  val UniMaxWordLen = 12
  val UniUnkCostMicro = 30000000L

  /** The held-out-script decoration for the byte-fallback gates
    * (x130/x131): appended to every doc_id % 3 == 0 document at SERVE
    * time only, so the trained vocab/alphabet has never seen a single
    * one of these characters (the corpus is Latin-script) — every one
    * must leave the tokenizer as `<0xNN>` byte tokens, never as a raw
    * unknown. Lowercase Greek so [[graft.operators.TextOps.tokens]]'
    * lowercasing is a no-op on it; words ≤ UniMaxWordLen. */
  val FallbackDecor = " αβγδε ζηθ"

  val LangIdBuckets = 32
  val LangIdIters = 6
  val LangIdStep = 8.0
  val LangIdMarkers: Seq[(String, String)] = Seq(
    "de" -> " der und die ein von zu nicht das",
    "en" -> " the and of to in is that for",
    "es" -> " el los una que con para por las",
    "fr" -> " le les une est dans sur pour des",
    "zh" -> " de shi zai wo men hao bu zhe")

  /** The x119 training corpus: each document's text plus its language's
    * deterministic marker suffix (see the LangIdBuckets scaladoc for why
    * the derivation exists). */
  def langMarkedDocuments(docs: DataFrame): DataFrame = {
    val sfx = LangIdMarkers.tail.foldLeft(
      when(col("lang") === LangIdMarkers.head._1,
        lit(LangIdMarkers.head._2))) { case (acc, (l, m)) =>
      acc.when(col("lang") === l, lit(m))
    }.otherwise(lit(""))
    docs.select(col("doc_id"), col("lang"),
      concat(col("text"), sfx).as("text"))
  }

  /** x119's fit+serve as a frame: (doc_id, actual, pred_lang) for every
    * document of the marked corpus — hashed char-bigram features,
    * standardize, five one-vs-rest logistic GD chains, bias-last
    * serving margins, (score DESC, lang ASC) argmax. Shared by the
    * x119 confusion gate and pl16's per-language curation routing. */
  def langIdPredictions(marked: DataFrame): DataFrame = {
    val langs = LangIdMarkers.map(_._1)
    val feats = (0 until LangIdBuckets).map(d => s"f$d")
    val zFeats = feats.map("z_" + _)
    val raw = TextOps.hashedCharBigramFeatures(marked, "doc_id", "text",
      LangIdBuckets, carry = Seq("lang"))
    val z = GraftCache.persist(Quality.standardize(raw, feats)
      .select(col("doc_id") +: col("lang") +: zFeats.map(col): _*))
    val fits = Quality.fitLogisticOvr(z, zFeats, "lang", langs,
      LangIdIters, LangIdStep)
    // Row-local argmax (optimization r20): the former five-branch union
    // + row_number window shuffled 5·N score rows by doc_id only to rank
    // them — but the winner of "(s DESC, p ASC)" is row-local. Each
    // margin is the SAME expression the union branch computed (flat
    // fold, bias LAST, mirroring scoreLinear); greatest() over
    // (s, ordDesc, lang) structs picks max score with ties to the
    // lexicographically smallest lang (LangIdMarkers is p-ascending, so
    // a LARGER descending ordinal = smaller lang). One projection, zero
    // exchanges in the serve.
    val cand = fits.zipWithIndex.map { case ((l, (w, b)), i) =>
      val m = zFeats.zip(w).map { case (f, wi) =>
        coalesce(col(f), lit(0.0)) * lit(wi) }.reduce(_ + _) + lit(b)
      struct(m.as("s"), lit((langs.size - i).toLong).as("ord"),
        lit(l).as("p"))
    }
    z.select(col("doc_id"), col("lang").as("actual"),
      greatest(cand: _*).getField("p").as("pred_lang"))
  }

  def queries: Map[String, Q] = Map(
    // ------------------------------------------------------------------ x0
    // Exact dedup by hash-groupBy: fingerprint → one shuffle → per-key
    // keeper (min doc_id) + redundancy accounting. The canonical exact
    // dedup pass a training-data pipeline runs first.
    "x0_exact_dedup" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.documents
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .groupBy("fp")
        .agg(count(lit(1)).as("n"), min("doc_id").as("keeper_doc_id"))
        .agg(count(lit(1)).as("n_fingerprints"),
          sum("n").as("n_docs"),
          sum(col("n") - 1).as("n_redundant"),
          min("keeper_doc_id").as("first_keeper"))
    }),

    // ------------------------------------------------------------------ x1
    // Document fingerprint (sha256 of whitespace-collapsed lowercased text)
    // — the exact-dedup key; verified per-document.
    "x1_fingerprint" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.documents
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // ------------------------------------------------------------------ x2
    // Quality metrics: token count, punctuation / stopword ratios, mean
    // token length, and the boolean quality gate. Explode+aggregate form:
    // string-level metrics are computed once pre-explode, token-level
    // counters are codegen'd sums (no interpreted lambda per stopword).
    "x2_quality_metrics" -> ((s, dir) => {
      val t = Tables(s, dir)
      val toked = t.documents.select(
        col("doc_id"),
        TextOps.punctChars(col("text")).as("punct"),
        length(col("text")).as("len"),
        length(regexp_replace(col("text"), "\\s", "")).as("nonws"),
        TextOps.tokens(col("text")).as("toks"))
      val stopSum = TextOps.Stopwords.map(w => col(s"cnt_$w")).reduce(_ + _)
      TextOps.wordCounts(toked, "doc_id", "toks", TextOps.Stopwords,
          extraCols = Seq("punct", "len", "nonws"))
        .withColumn("punct_ratio",
          round(col("punct").cast("double") / nullif(col("len"), lit(0)), 4))
        .withColumn("stopword_ratio",
          round(stopSum.cast("double") / nullif(col("n_tokens"), lit(0L)), 4))
        .withColumn("mean_token_len",
          round(col("nonws").cast("double") / nullif(col("n_tokens"), lit(0L)), 4))
        .withColumn("quality_ok",
          col("n_tokens") >= 10 && coalesce(col("punct_ratio") <= 0.05, lit(false)) &&
            coalesce(col("stopword_ratio") <= 0.5, lit(false)))
        .select("doc_id", "n_tokens", "punct_ratio", "stopword_ratio",
          "mean_token_len", "quality_ok")
        .orderBy("doc_id")
    }),

    // ------------------------------------------------------------------ x3
    // Language-ID confusion matrix: marker-word argmax per document (first
    // declared language wins ties) crossed with the labeled `lang` column,
    // plus the per-cell total marker score — exercises every score branch.
    "x3_lang_id" -> ((s, dir) => {
      val t = Tables(s, dir)
      val allMarkers = TextOps.LangMarkers.flatMap(_._2)
      val toked = t.documents.select(
        col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("toks"))
      val counts = TextOps.wordCounts(toked, "doc_id", "toks", allMarkers,
        extraCols = Seq("lang"))
      val scores = TextOps.LangMarkers.map { case (lang, words) =>
        lang -> words.map(w => col(s"cnt_$w")).reduce(_ + _)
      }
      counts
        .select(col("lang"), TextOps.argmaxFirst(scores).as("pred_lang"),
          scores.map(_._2).reduce(_ + _).cast("long").as("score"))
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"), sum("score").as("total_score"))
        .orderBy("lang", "pred_lang")
    }),

    // ------------------------------------------------------------------ x4
    // MinHash+LSH near-duplicate pairs, exact-Jaccard verified. The oracle
    // replicates the full LSH pipeline (same 16 permutations, 4 bands), so
    // the candidate sets — not just the final pairs — must agree.
    "x4_minhash_neardups" -> ((s, dir) => {
      val t = Tables(s, dir)
      TextOps.minhashNearDups(t.documents, "doc_id", "text", NearDupThreshold)
        .orderBy("id_a", "id_b")
    }),

    // ----------------------------------------------------------------- x28
    // Near-dup CLUSTERS: the minhash pair list is only the edge set — a
    // corpus dedup must group transitively connected docs (a~b, b~c dedup
    // together even when the pair (a,c) was never emitted) and keep one
    // canonical per cluster. Connected components by iterative min-label
    // propagation; canonical = minimum doc_id of the cluster.
    "x28_dedup_clusters" -> ((s, dir) => {
      val t = Tables(s, dir)
      val pairs = TextOps.minhashNearDups(t.documents, "doc_id", "text",
        NearDupThreshold)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"),
          (col("id") === col("component")).as("is_canonical"))
        .orderBy("doc_id")
    }),

    // ----------------------------------------------------------------- x69
    // Quality-aware canonical selection — the step real pipelines run
    // BETWEEN clustering and export: within each near-dup cluster keep the
    // best representative (longest document; ties to the lowest id)
    // instead of x28's arbitrary min-id canonical, so dedup removes the
    // truncated/boilerplate variants rather than a random survivor.
    // Singletons keep themselves. Scale shape: LSH pairs (never
    // all-pairs) → O(log n) CC → one keyed min-struct agg for the keeper
    // → equi-join on component; no windows over the full corpus.
    "x69_quality_canonical" -> ((s, dir) => {
      val t = Tables(s, dir)
      val pairs = TextOps.minhashNearDups(t.documents, "doc_id", "text",
        NearDupThreshold)
      val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      val labeled = t.documents
        .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .join(comps, Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
      val keeper = labeled.groupBy("component")
        .agg(min(struct((-col("n_tokens")).as("negt"), col("doc_id").as("id"))).as("k"))
        .select(col("component"), col("k.id").as("keeper"))
      labeled.join(keeper, "component")
        .select(col("doc_id"), col("component"), col("n_tokens"),
          (col("doc_id") === col("keeper")).as("keep"))
        .orderBy("doc_id")
    }),

    // ----------------------------------------------------------------- x91
    // Source authority over the near-dup COPY GRAPH — which crawl
    // sources the rest of the corpus "copies": x4's LSH pairs project to
    // source-level edges (both directions — shared content endorses both
    // ends; pair multiplicity between a source pair carries weight,
    // which [[Graph.pageRankPpm]] models as duplicated edges), and the
    // BIGINT-ppm PageRank ranks the 20 sources. The mirror-site signal
    // crawl curation weights by: a source whose content keeps appearing
    // elsewhere ranks high, an island stays on the damping floor.
    // Scale shape: pair discovery is the LSH screen (never all-pairs),
    // the graph is |sources|-sized, and the fixpoint is the compact
    // broadcast regime.
    "x91_source_authority" -> ((s, dir) => {
      val t = Tables(s, dir)
      val pairs = TextOps.minhashNearDups(t.documents, "doc_id", "text",
          NearDupThreshold)
        .select("id_a", "id_b")
      val srcs = t.documents.select(col("doc_id"), col("source"))
      val e0 = pairs
        .join(srcs.select(col("doc_id").as("id_a"),
          col("source").as("src_a")), Seq("id_a"))
        .join(srcs.select(col("doc_id").as("id_b"),
          col("source").as("src_b")), Seq("id_b"))
        .filter(col("src_a") =!= col("src_b"))
      val edges = e0.select(col("src_a").as("src"), col("src_b").as("dst"))
        .unionAll(e0.select(col("src_b").as("src"), col("src_a").as("dst")))
      val nodes = t.documents.select(col("source").as("id")).distinct()
      graft.operators.Graph
        .pageRankPpm(nodes, edges, AuthorityIters, compact = true)
        .select(col("id").as("source"), col("rank_ppm"))
        .orderBy(desc("rank_ppm"), col("source"))
    }),

    // ----------------------------------------------------------------- x29
    // Gopher-style repetition filters: duplicate-bigram fraction and
    // top-bigram share per document — the boilerplate/templated-text
    // signal the length/punct/stopword metrics (x2) cannot see.
    "x29_repetition_metrics" -> ((s, dir) => {
      val t = Tables(s, dir)
      TextOps.repetitionMetrics(t.documents, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ------------------------------------------------------------------ x9
    // Token statistics: whitespace vs BPE-ish regex token counts and the
    // Rabin-Karp rolling-hash fingerprint, per document.
    "x9_token_stats" -> ((s, dir) => {
      val t = Tables(s, dir)
      val counts = t.documents.select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_ws_tokens"),
        size(TextOps.bpeTokens(col("text"))).cast("long").as("n_bpe_tokens"))
      val rh = TextOps.rollingHashes(t.documents, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
      counts.join(rh, "doc_id").orderBy("doc_id")
    }),

    // ----------------------------------------------------------------- x14
    // Blocked fuzzy entity matching (the committee-name near-duplicate
    // problem): distinct part names, pairs within levenshtein ≤ 6. The
    // block key is COMPOSITE — first token × length band (len DIV 4) — so
    // block cardinality grows with the data: first-token-only blocking has
    // data-independent cardinality (~92 TPC-H name prefixes), which makes
    // per-block size, and thus the pairwise edit-distance work, grow
    // O(n²/92) with scale. The length band multiplies the block count by
    // the name-length spread while still co-locating plausible matches
    // (standard blocking recall/cost trade-off, applied identically on the
    // oracle side).
    "x14_fuzzy_names" -> ((s, dir) => {
      val t = Tables(s, dir)
      val names = t.part.select(col("p_name").as("name")).distinct()
        .withColumn("blk", concat_ws("|",
          split(col("name"), " ").getItem(0),
          floor(length(col("name")) / 4)))
      names.as("a").join(names.as("b"),
          col("a.blk") === col("b.blk") && col("a.name") < col("b.name"))
        .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
          levenshtein(col("a.name"), col("b.name")).as("dist"))
        .filter(col("dist") <= FuzzyMaxDist)
        .orderBy("name_a", "name_b")
    }),

    // ----------------------------------------------------------------- x15
    // TF-IDF top term per document: term frequencies and document
    // frequencies via two keyed aggregations, score = tf·ln(N/df), the
    // argmax term per doc (ties → lexicographically first term). The
    // argmax is a min_by HASH AGGREGATE over struct(-score, term) — ordered
    // identically to the oracle's `row_number OVER (ORDER BY score DESC,
    // term)` but with map-side partial combine and no per-doc sort, where
    // a window form would shuffle + sort every (doc, term) row.
    "x15_tfidf_top_term" -> ((s, dir) => {
      val t = Tables(s, dir)
      val docs = t.documents.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("term"))
      val tf = docs.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // N stays in the plan (broadcast 1-row cross join) — an eager count()
      // here would run a full-scan job on every query-function invocation.
      val nDocs = t.documents.agg(count(lit(1)).cast("double").as("__n"))
      val df = docs.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(df, "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("score",
          round(col("tf") * log(col("__n") / col("df")), 4))
        .groupBy("doc_id")
        .agg(min_by(struct(col("term"), col("score")),
          struct(negate(col("score")), col("term"))).as("best"))
        .select(col("doc_id"), col("best.term").as("top_term"),
          col("best.score").as("score"))
        .orderBy("doc_id")
    }),

    // ----------------------------------------------------------------- x13
    // Token-window chunking (context-window fan-out): 32-token windows
    // every 16 tokens, one row per chunk with its token count and
    // fingerprint — the document→training-sample explosion.
    "x13_token_chunks" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.documents
        .select(col("doc_id"), TextOps.tokens(col("text")).as("__tk"))
        .select(col("doc_id"),
          posexplode(TextOps.tokenChunks(col("__tk"), ChunkTokens, ChunkStep))
            .as(Seq("chunk_index", "chunk")))
        .select(col("doc_id"), col("chunk_index").cast("long").as("chunk_index"),
          size(col("chunk")).cast("long").as("n_chunk_tokens"),
          sha2(concat_ws(" ", col("chunk")), 256).as("chunk_fp"))
        .orderBy("doc_id", "chunk_index")
    }),

    // ----------------------------------------------------------------- x12
    // Chunk-level dedup: 64-char chunk hashes, pairs sharing ≥2 chunks.
    "x12_chunk_neardups" -> ((s, dir) => {
      val t = Tables(s, dir)
      TextOps.chunkNearDups(t.documents, "doc_id", "text", ChunkSize, MinSharedChunks)
        .orderBy("id_a", "id_b")
    }),

    // ----------------------------------------------------------------- x16
    // Exact word-bigram Jaccard over chunk-blocked candidate pairs: the
    // n-gram-Jaccard dedup method as a first-class op — candidates come
    // from the partitionable chunk-hash join (never all-pairs), gram sets
    // are computed ONCE per document and shipped to the pair join.
    "x16_ngram_jaccard" -> ((s, dir) => {
      val t = Tables(s, dir)
      // Candidates are persisted (small: pairs of ids) because they feed
      // three legs — the two id sides and the final pair join; without the
      // persist each leg re-runs the chunk-hash self-join.
      val cands = GraftCache.persist(TextOps.chunkNearDups(t.documents,
        "doc_id", "text", ChunkSize, MinSharedChunks).select("id_a", "id_b"))
      // Gram sets are computed ONLY for candidate documents (semi-join
      // filter first): n-gram materialization is the expensive step, and
      // candidates are a vanishing fraction of the corpus at scale.
      val ids = cands.select(col("id_a").as("doc_id"))
        .union(cands.select(col("id_b").as("doc_id"))).distinct()
      // tokens materialized before the ngram lambda (see TextOps.ngrams doc)
      val grams = t.documents.join(ids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("__tk"))
        .select(col("doc_id"), TextOps.ngrams(col("__tk"), 2).as("g"))
      cands
        .join(grams.select(col("doc_id").as("id_a"), col("g").as("ga")), "id_a")
        .join(grams.select(col("doc_id").as("id_b"), col("g").as("gb")), "id_b")
        .select(col("id_a"), col("id_b"),
          round(size(array_intersect(col("ga"), col("gb"))).cast("double")
            / nullif(size(array_union(col("ga"), col("gb"))), lit(0)), 4)
            .as("bigram_jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // ----------------------------------------------------------------- x39
    // Incremental near-dup screening: the arriving batch (doc_id % 10 = 0)
    // against the standing corpus (the rest) — cross pairs only, the new
    // side's band frame broadcast so the index is never reshuffled. The
    // oracle replays both band pipelines and the cross join.
    "x39_incremental_neardups" -> ((s, dir) => {
      val t = Tables(s, dir)
      val newBatch = t.documents.filter(col("doc_id") % IncrementalMod === 0)
      val indexed = t.documents.filter(col("doc_id") % IncrementalMod =!= 0)
      TextOps.minhashNearDupsAgainst(newBatch, indexed, "doc_id", "text",
          NearDupThreshold)
        .orderBy("id_new", "id_idx")
    }),

    // ----------------------------------------------------------------- x49
    // Quality-classifier feature matrix: the per-document quality (x2)
    // and repetition (x29) signals joined and Z-SCORED in one
    // measure-then-broadcast pass (Quality.standardize — one aggregate
    // for every column's mean/stddev_pop, broadcast back, no second
    // shuffle) — the feature-engineering stage between raw metrics and
    // training a fastText/logistic quality model. Docs too short for
    // bigrams carry a null repetition feature; null z-scores propagate
    // identically in both engines.
    // ----------------------------------------------------------------- x58
    // Ordered filter cascade with first-failure attrition: the C4/Gopher-
    // style funnel table — each dropped doc charged to the FIRST rule it
    // fails, cumulative survivors per stage. One corpus scan for the
    // stage label; the attrition window runs on the 4-row report frame.
    "x58_filter_cascade" -> ((s, dir) => {
      val t = Tables(s, dir)
      val q = TextOps.qualityMetrics(t.documents, "text")
        .select("doc_id", "n_tokens", "stopword_ratio", "mean_token_len")
      val rep = TextOps.repetitionMetrics(t.documents, "doc_id", "text")
        .select("doc_id", "dup_bigram_frac")
      val feats = q.join(rep, Seq("doc_id"), "left")
        .withColumn("dup_bigram_frac",
          coalesce(col("dup_bigram_frac"), lit(0.0)))
      Quality.filterCascade(feats, Seq(
          Quality.Rule("min_tokens", col("n_tokens") < CascadeMinTokens),
          Quality.Rule("mean_token_len",
            !col("mean_token_len").between(CascadeMtlLo, CascadeMtlHi)),
          Quality.Rule("stopword_floor",
            col("stopword_ratio") < CascadeStopFloor),
          Quality.Rule("dup_bigrams", col("dup_bigram_frac") > CascadeDupMax)))
        .orderBy("stage")
    }),

    "x49_quality_features" -> ((s, dir) => {
      val t = Tables(s, dir)
      val q = TextOps.qualityMetrics(t.documents, "text")
        .select("doc_id", "n_tokens", "punct_ratio", "stopword_ratio",
          "mean_token_len")
      val rep = TextOps.repetitionMetrics(t.documents, "doc_id", "text")
        .select("doc_id", "dup_bigram_frac")
      Quality.standardize(q.join(rep, Seq("doc_id"), "left"),
          Seq("n_tokens", "punct_ratio", "stopword_ratio", "mean_token_len",
            "dup_bigram_frac"))
        .select("doc_id", "z_n_tokens", "z_punct_ratio", "z_stopword_ratio",
          "z_mean_token_len", "z_dup_bigram_frac")
        .orderBy("doc_id")
    }),

    // ----------------------------------------------------------------- x53
    // Quality-classifier inference: the fixed-weight sigmoid gate over
    // x49's standardized feature matrix — the fastText/CCNet-style
    // quality filter as one row-local codegen'd expression (scoring
    // 100 TB is exactly one scan; zero shuffles past the shared stats
    // pass). Weights fold in declared order so the oracle replays the
    // identical float addition sequence; the pass gate compares the
    // ROUNDED score on both sides.
    // ----------------------------------------------------------------- x67
    // Dedup threshold-sensitivity curve: pair and flagged-document counts
    // at each verification threshold, from ONE signature pass and ONE
    // candidate set generated at the floor — the tuning report that
    // picks a dedup threshold by showing what each setting would remove.
    // Candidates are the deployed banding's (recall at thresholds below
    // its design point is the banding's, by construction): the curve
    // measures the verification knob for the banding actually shipped.
    "x67_dedup_thresholds" -> ((s, dir) => {
      val t = Tables(s, dir)
      val pairs = GraftCache.persist(
        TextOps.minhashNearDups(t.documents, "doc_id", "text",
          DedupCurveFloor))
      // ONE pass over the pair frame (optimization r19): each pair
      // explodes to every curve threshold it clears (membership
      // identical to the per-threshold filter by construction — the
      // x95/recall-curve spine shape), one aggregation per report
      // branch instead of a count + distinct pair PER threshold (8
      // scans + 4 crossJoins before). The spine left-join keeps
      // zero-pair thresholds at (th, 0, 0), exactly where the former
      // global aggregates landed them.
      import s.implicits._
      val byTh = pairs.select(col("id_a"), col("id_b"), col("jaccard"),
          explode(array(DedupCurve.map(lit): _*)).as("threshold"))
        .filter(col("jaccard") >= col("threshold"))
      val nPairs = byTh.groupBy("threshold")
        .agg(count(lit(1)).as("n_pairs"))
      val nDocs = byTh.select(col("threshold"),
          explode(array(col("id_a"), col("id_b"))).as("id"))
        .groupBy("threshold")
        .agg(countDistinct("id").as("n_docs_flagged"))
      DedupCurve.toDF("threshold")
        .join(nPairs, Seq("threshold"), "left")
        .join(nDocs, Seq("threshold"), "left")
        .select(col("threshold"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs_flagged"), lit(0L)).as("n_docs_flagged"))
        .orderBy("threshold")
    }),

    // ----------------------------------------------------------------- x65
    // Classifier TRAINING in-engine: full-batch GD logistic regression
    // over the x49 z-feature matrix, distilling a hard two-rule gate
    // (min length AND max mean-token-length — 40% positive) into a soft
    // scorer, which is how CCNet/fastText-style gates are built from
    // rule or reference labels. Completes features (x49) → fit (x65) →
    // inference (x53). Reports learned weights, bias, and train
    // accuracy (0.844 vs 0.60 majority at sf0.01, the rule's two
    // features carrying the weight mass); the oracle REFITS with
    // unrolled per-iteration CTEs and must land on bit-identical
    // weights.
    "x65_fit_classifier" -> ((s, dir) => {
      val t = Tables(s, dir)
      val q = TextOps.qualityMetrics(t.documents, "text")
        .select("doc_id", "n_tokens", "punct_ratio",
          "stopword_ratio", "mean_token_len")
      val rep = TextOps.repetitionMetrics(t.documents, "doc_id", "text")
        .select("doc_id", "dup_bigram_frac")
      val feats = Seq("n_tokens", "punct_ratio", "stopword_ratio",
        "mean_token_len", "dup_bigram_frac")
      val zFeats = feats.map("z_" + _)
      val zl = GraftCache.persist(
        Quality.standardize(q.join(rep, Seq("doc_id"), "left"), feats)
          .select(col("doc_id") +: zFeats.map(col) :+
            (col("n_tokens") >= FitMinTokens &&
              col("mean_token_len") <= FitMtlMax).cast("int").as("y"): _*))
      val (w, b) = Quality.fitLogistic(zl, zFeats, "y", FitIters, FitStep)
      val acc = Quality.scoreLinear(zl, zFeats.zip(w), b)
        .agg(avg(when(col("quality_pass") === (col("y") === 1), 1.0)
          .otherwise(0.0)).as("a")).head().getDouble(0)
      val rows = zFeats.zip(w).map { case (f, wi) => (s"w_$f", wi) } ++
        Seq(("bias", b), ("accuracy", acc))
      import s.implicits._
      rows.toDF("term", "value").orderBy("term")
    }),

    // ----------------------------------------------------------------- x95
    // Classifier EVALUATION — the arrow the features (x49) → fit (x65) →
    // inference (x53) story was missing: the deployed fixed-weight
    // scorer's confusion counts against the rule label at each decision
    // threshold, with precision/recall in EXACT integer ppm (a float
    // division would be the one non-replayable step — the x57 lesson).
    // One scan over the z frame, the 5-threshold fan-out row-local, one
    // 5-group aggregation: the evaluation report costs one pass at any
    // corpus size, which is why a tuner can afford to run it nightly.
    "x95_pr_curve" -> ((s, dir) => {
      val t = Tables(s, dir)
      val q = TextOps.qualityMetrics(t.documents, "text")
        .select("doc_id", "n_tokens", "punct_ratio", "stopword_ratio",
          "mean_token_len")
      val rep = TextOps.repetitionMetrics(t.documents, "doc_id", "text")
        .select("doc_id", "dup_bigram_frac")
      val z = Quality.standardize(q.join(rep, Seq("doc_id"), "left"),
        Seq("n_tokens", "punct_ratio", "stopword_ratio", "mean_token_len",
          "dup_bigram_frac"))
      val scored = Quality.scoreLinear(z, ScoreWeights, ScoreBias)
        .select(col("quality_score").as("sc"),
          (col("n_tokens") >= FitMinTokens &&
            col("mean_token_len") <= FitMtlMax).cast("int").as("y"))
      scored
        .select(col("sc"), col("y"),
          explode(array(PrThresholds.map(lit): _*)).as("threshold"))
        .groupBy("threshold")
        .agg(
          sum(when(col("sc") >= col("threshold") && col("y") === 1, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("sc") >= col("threshold") && col("y") === 0, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("sc") < col("threshold") && col("y") === 1, 1L)
            .otherwise(0L)).as("fn"),
          sum(when(col("sc") < col("threshold") && col("y") === 0, 1L)
            .otherwise(0L)).as("tn"))
        .select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
          expr("CASE WHEN tp + fp = 0 THEN NULL " +
            "ELSE (tp * 1000000) div (tp + fp) END").as("precision_ppm"),
          expr("CASE WHEN tp + fn = 0 THEN NULL " +
            "ELSE (tp * 1000000) div (tp + fn) END").as("recall_ppm"))
        .orderBy("threshold")
    }),

    // ---------------------------------------------------------------- x119
    // TRAINED language-ID — the fastText shape end to end, in-engine:
    // hashed char-bigram relative frequencies (codegen'd counting pass),
    // standardize, one-vs-rest logistic GD (x65's fit, 5 heads), argmax
    // serve, per-language confusion counts with integer-ppm precision/
    // recall (x95's form). Trains on [[langMarkedDocuments]] — the
    // derived corpus whose labels are textually realized (see the
    // LangIdBuckets scaladoc). The oracle replays the feature hash, the
    // standardization, all five unrolled GD chains, the argmax, and the
    // confusion arithmetic bit-for-bit.
    "x119_langid_train" -> ((s, dir) => {
      val t = Tables(s, dir)
      val langs = LangIdMarkers.map(_._1)
      val pred = langIdPredictions(langMarkedDocuments(t.documents))
      pred.select(col("actual"), col("pred_lang"),
          explode(array(langs.map(lit): _*)).as("l"))
        .groupBy("l")
        .agg(
          sum(when(col("actual") === col("l") &&
            col("pred_lang") === col("l"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("actual") =!= col("l") &&
            col("pred_lang") === col("l"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("actual") === col("l") &&
            col("pred_lang") =!= col("l"), 1L).otherwise(0L)).as("fn"))
        .select(col("l").as("lang"), col("tp"), col("fp"), col("fn"),
          expr("CASE WHEN tp + fp = 0 THEN NULL " +
            "ELSE (tp * 1000000) div (tp + fp) END").as("precision_ppm"),
          expr("CASE WHEN tp + fn = 0 THEN NULL " +
            "ELSE (tp * 1000000) div (tp + fn) END").as("recall_ppm"))
        .orderBy("lang")
    }),

    // ---------------------------------------------------------------- x120
    // Unigram-LM tokenizer TRAINING (SentencePiece's model, hard-EM on
    // the integer micro-nat lattice — BPE's sibling family: a learned
    // piece vocabulary with costs instead of merge rules). Seed = all
    // substrings ≤ 4 chars cut to the frequency-top budget + the full
    // alphabet; each EM iteration Viterbi-segments every distinct word,
    // recounts pieces exactly (integer sums weighted by word frequency),
    // prunes unused multis, re-derives costs. The oracle replays the
    // seed cut, both unrolled per-position DP chains, the recounts, and
    // the micro-nat cost derivation — a wrong path anywhere cascades
    // into the next iteration's counts.
    "x120_unigram_train" -> ((s, dir) => {
      val t = Tables(s, dir)
      val words = UnigramLm.wordCounts(t.documents, "text")
      val vocab = UnigramLm.fitViterbiEm(words, UniMaxPieceLen,
        UniMaxPieces, UniEmIters, UniUnkCostMicro, UniMaxWordLen)
      import s.implicits._
      vocab.toDF("piece", "cnt", "cost_micro").orderBy("piece")
    }),

    // ---------------------------------------------------------------- x121
    // Unigram tokenizer SERVING off the stored vocabulary — the x105
    // seam for the unigram family: train → write the (piece, cnt, cost)
    // artifact → rehydrate → segment the WHOLE corpus through the
    // bounded-local-state Viterbi applier (constant-size zero-shuffle
    // plan at any vocab size). Per-document output is x101's shape
    // (piece count + sha256 over the unit-separator-joined pieces), so
    // one mis-segmented word anywhere flips the hash; the oracle
    // re-derives the vocabulary from its own fit replay and segments
    // every document positionally.
    "x121_unigram_apply" -> ((s, dir) => {
      val t = Tables(s, dir)
      val words = UnigramLm.wordCounts(t.documents, "text")
      val vocabPath = SinkQueries.sinkDir("x121_unigram_vocab")
      UnigramLm.writeVocab(s, UnigramLm.fitViterbiEm(words, UniMaxPieceLen,
        UniMaxPieces, UniEmIters, UniUnkCostMicro, UniMaxWordLen), vocabPath)
      UnigramLm.applyUnigramLocal(t.documents, "doc_id", "text",
          UnigramLm.readVocab(s, vocabPath), UniMaxPieceLen, UniUnkCostMicro)
        .select(col("id").as("doc_id"), col("n_pieces"), col("piece_fp"))
        .orderBy("doc_id")
    }),

    // ---------------------------------------------------------------- x130
    // BYTE FALLBACK for the unigram serve (round-17 verdict #8 —
    // SentencePiece's production zero-UNK contract): the vocab trains
    // on the Latin-script corpus, the serve corpus carries a held-out
    // Greek decoration on every third document, and every character the
    // vocab has never seen must leave the tokenizer as <0xNN> byte
    // tokens — 100% token coverage, MEASURED per document
    // (all_covered), with the post-fallback sequence hashed so the
    // expansion itself is oracle-pinned. The oracle replays the fit,
    // one more DP chain over the DECORATED word frame, the per-piece
    // vocab-membership test, and the UTF-8 byte expansion.
    "x130_unigram_byte_fallback" -> ((s, dir) => {
      val t = Tables(s, dir)
      val words = UnigramLm.wordCounts(t.documents, "text")
      val vocabPath = SinkQueries.sinkDir("x130_unigram_vocab")
      UnigramLm.writeVocab(s, UnigramLm.fitViterbiEm(words, UniMaxPieceLen,
        UniMaxPieces, UniEmIters, UniUnkCostMicro, UniMaxWordLen), vocabPath)
      val served = t.documents.withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(FallbackDecor))).otherwise(col("text")))
      UnigramLm.applyUnigramByteFallback(served, "doc_id", "text",
          UnigramLm.readVocab(s, vocabPath), UniMaxPieceLen, UniUnkCostMicro)
        .select(col("id").as("doc_id"), col("n_pieces"), col("n_fallback"),
          col("all_covered"), col("piece_fp"))
        .orderBy("doc_id")
    }),

    // ---------------------------------------------------------------- pl16
    // Multilingual curation funnel — the trained lang-ID (x119) deployed
    // as a ROUTER: every document gets a predicted language, then each
    // language's slice runs the standard curation ladder — quality gate
    // (x2's metrics), exact dedup with canonical keeper selection
    // (x0/x69's keep-min-doc_id) — and the report rolls up the funnel
    // per language: docs → quality survivors → unique keepers → kept
    // token mass (the per-language budget a training-mix planner
    // consumes). Every stage is keyed aggregation/joins on doc_id or
    // (lang, fp) — no windows over the corpus, no driver loops; at 100
    // TB the lang-ID serve is one codegen'd pass (the model is a
    // broadcast literal) and the ladder is the already-scaled x0/x2
    // shapes. The oracle replays the full fit (five GD chains), the
    // argmax routing, both per-doc images, and the rollup arithmetic.
    "pl16_multilingual_curation" -> ((s, dir) => {
      val t = Tables(s, dir)
      val marked = GraftCache.persist(langMarkedDocuments(t.documents))
      val pred = langIdPredictions(marked).select("doc_id", "pred_lang")
      val q = TextOps.qualityMetrics(marked, "text")
        .select("doc_id", "n_tokens", "quality_ok")
      val fp = marked.select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))
      // persisted: three report branches (per-lang counts, the quality
      // slice, and the keep-unique rollup) otherwise each recompute the
      // lang-ID serve + quality metrics + fingerprint join chain —
      // Spark does not share the subtree across the union's branches
      // (optimization r19: pl16's final action was 3× this chain)
      val per = GraftCache.persist(pred.join(q, "doc_id").join(fp, "doc_id"))
      val qual = per.filter(col("quality_ok"))
      val keep = qual.groupBy("pred_lang", "fp")
        .agg(min_by(col("n_tokens"), col("doc_id")).as("kt"))
      per.groupBy("pred_lang").agg(count(lit(1)).as("n_docs"))
        .join(qual.groupBy("pred_lang")
          .agg(count(lit(1)).as("n_quality")), Seq("pred_lang"), "left")
        .join(keep.groupBy("pred_lang")
          .agg(count(lit(1)).as("n_unique"),
            sum("kt").as("n_tokens_kept")), Seq("pred_lang"), "left")
        .na.fill(0L, Seq("n_quality", "n_unique", "n_tokens_kept"))
        .select(col("pred_lang").as("lang"), col("n_docs"),
          col("n_quality"), col("n_unique"), col("n_tokens_kept"))
        .orderBy("lang")
    }),

    "x53_quality_scores" -> ((s, dir) => {
      val t = Tables(s, dir)
      val q = TextOps.qualityMetrics(t.documents, "text")
        .select("doc_id", "n_tokens", "punct_ratio", "stopword_ratio",
          "mean_token_len")
      val rep = TextOps.repetitionMetrics(t.documents, "doc_id", "text")
        .select("doc_id", "dup_bigram_frac")
      val z = Quality.standardize(q.join(rep, Seq("doc_id"), "left"),
        Seq("n_tokens", "punct_ratio", "stopword_ratio", "mean_token_len",
          "dup_bigram_frac"))
      Quality.scoreLinear(z, ScoreWeights, ScoreBias)
        .select("doc_id", "quality_score", "quality_pass")
        .orderBy("doc_id")
    }),

    // ----------------------------------------------------------------- x48
    // Incremental cluster maintenance — the clustering half of the nightly
    // loop: the corpus's dedup clusters stand (CC over corpus pairs); the
    // arriving batch contributes only its screen pairs (batch↔corpus +
    // batch-internal), and incrementalComponents merges along the
    // component graph — the CC loop runs over batch-sized frames, the
    // corpus labels are remapped by one broadcast. The oracle is FULL
    // clustering of the whole table (per-doc signatures are subset-
    // independent, so corpus∪cross∪batch pairs = all pairs), proving the
    // incremental path lands exactly where a from-scratch rerun would.
    "x48_incremental_clusters" -> ((s, dir) => {
      val t = Tables(s, dir)
      // ONE whole-table LSH screen yields every pair class at once:
      // per-doc signatures are subset-independent (the oracle's
      // equivalence, used forward), so the corpus self-pairs, the
      // batch↔corpus pairs, and the batch-internal pairs are disjoint
      // SPLITS of the all-docs pair set — the corpus text is tokenized
      // and signature-aggregated once instead of once per screen (the
      // three-screen form re-ran the corpus signature aggregation for
      // the cross screen; ~2s of pure recompute at sf0.1). The
      // incremental path is unchanged: standing labels come from the
      // corpus split only, and incrementalComponents merges only the
      // batch-touched split.
      val isBatchA = col("id_a") % IncrementalMod === 0
      val isBatchB = col("id_b") % IncrementalMod === 0
      val allPairs = GraftCache.persist(
        TextOps.minhashNearDups(t.documents, "doc_id", "text",
          NearDupThreshold).select("id_a", "id_b"))
      val corpusPairs = allPairs.filter(!isBatchA && !isBatchB)
      val labels = Dedup.connectedComponents(corpusPairs, "id_a", "id_b")
      val updated = Dedup.incrementalComponents(labels,
        allPairs.filter(isBatchA || isBatchB), "id_a", "id_b")
      t.documents.select("doc_id")
        .join(updated.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
        .withColumn("is_canonical", col("doc_id") === col("component"))
        .orderBy("doc_id")
    }),

    // ----------------------------------------------------------------- x47
    // Unicode-variant dedup: every document appears twice, once suffixed
    // with a PRECOMPOSED accent (U+00E9) and once with the combining-mark
    // decomposition (e + U+0301) — byte-different, canonically identical.
    // The raw fingerprint keeps both variants of every text; the
    // NFC-normalized fingerprint collapses each pair. The oracle replays
    // the construction with chr() code points and DuckDB's nfc_normalize
    // (same Unicode algorithm as java.text.Normalizer).
    "x47_unicode_dedup" -> ((s, dir) => {
      val t = Tables(s, dir)
      val composed = t.documents.select(
        concat(col("text"), lit(" caf\u00e9")).as("text"))
      val decomposed = t.documents.select(
        concat(col("text"), lit(" cafe\u0301")).as("text"))
      composed.unionByName(decomposed)
        .select(TextOps.fingerprint(col("text")).as("fp"),
          TextOps.fingerprintNfc(col("text")).as("nfp"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct("fp").as("n_raw_fp"),
          countDistinct("nfp").as("n_nfc_fp"))
    }),

    // ----------------------------------------------------------------- x46
    // Exact heavy-hitter tokens with bounded memory: Misra-Gries native
    // aggregate (<= capacity counters per partition, no vocabulary-wide
    // shuffle) -> guaranteed-superset candidates broadcast back -> exact
    // counts -> integer threshold. The oracle is the ground truth the
    // two-pass form provably equals: GROUP BY token HAVING
    // count*(capacity+1) > n.
    "x46_heavy_tokens" -> ((s, dir) => {
      val t = Tables(s, dir)
      val toks = t.documents.select(
        explode(TextOps.tokens(col("text"))).as("token"))
      Aggregations.heavyHitters(toks, "token", HHCapacity)
        .orderBy("token")
    }),

    // ----------------------------------------------------------------- x45
    // Fuzzy benchmark decontamination: training documents with a NEAR-DUP
    // (not just exact-n-gram, as x21) match in the eval set, at the lower
    // threshold contamination audits use — the GPT-3/Llama-style fuzzy
    // dedup between train and eval. Reuses the incremental-screen engine
    // with the small eval side broadcast; reported per flagged train doc
    // (match count + max jaccard).
    "x45_fuzzy_decontam" -> ((s, dir) => {
      val t = Tables(s, dir)
      val eval = t.documents.filter(col("doc_id") % IncrementalMod === 0)
      val train = t.documents.filter(col("doc_id") % IncrementalMod =!= 0)
      TextOps.minhashNearDupsAgainst(eval, train, "doc_id", "text",
          FuzzyDecontamThreshold)
        .groupBy("id_idx")
        .agg(count(lit(1)).as("n_eval_matches"),
          max("jaccard").as("max_jaccard"))
        .select(col("id_idx").as("train_doc_id"),
          col("n_eval_matches"), col("max_jaccard"))
        .orderBy("train_doc_id")
    }),

    // ----------------------------------------------------------------- x41
    // Indexed incremental screen — the nightly steady state of x39: the
    // standing corpus's band signatures are MATERIALIZED as a range-laid
    // parquet index (written here as the "index maintenance" step), and the
    // arriving batch screens against the STORED signatures. Candidate
    // generation reads only the skinny index — zero corpus re-tokenization,
    // plan-audited — and corpus text is touched once, behind the
    // candidate-id semi-join. Same pair set, same oracle, as x39.
    "x41_indexed_screen" -> ((s, dir) => {
      val t = Tables(s, dir)
      val newBatch = t.documents.filter(col("doc_id") % IncrementalMod === 0)
      val indexed = t.documents.filter(col("doc_id") % IncrementalMod =!= 0)
      val idx = SinkQueries.sinkDir("x41_band_index")
      TextOps.writeBandIndex(indexed, "doc_id", "text", idx)
      TextOps.minhashNearDupsAgainstIndex(newBatch, s.read.parquet(idx),
          indexed, "doc_id", "text", NearDupThreshold)
        .orderBy("id_new", "id_idx")
    }),

    // ----------------------------------------------------------------- x79
    // Tombstone maintenance for the band index — the takedown/re-crawl
    // path: the standing corpus's index is materialized; a new snapshot
    // arrives with some documents gone; snapshotDiff on content
    // fingerprints DISCOVERS the removed ids (the j9 changeset composed
    // into the index lifecycle); deleteFromBandIndex drops their band
    // rows and re-lays the survivors by bsig — touching only the skinny
    // index, never a tokenization pass; and the arriving batch screens
    // against the PRUNED index. The oracle replays the screen against
    // the surviving corpus from scratch: band signatures are
    // per-document, so delete-from-index must equal rebuild-on-survivors
    // (the spec also pins the row-set equality directly).
    "x79_band_delete" -> ((s, dir) => {
      val t = Tables(s, dir)
      val batch = t.documents.filter(col("doc_id") % IncrementalMod === 0)
      val oldCorpus = t.documents.filter(col("doc_id") % IncrementalMod =!= 0)
      val newCorpus = oldCorpus.filter(col("doc_id") % BandDeleteMod =!= 0)
      val idx = SinkQueries.sinkDir("x79_band_index")
      TextOps.writeBandIndex(oldCorpus, "doc_id", "text", idx)
      def fp(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      val removed = graft.operators.Merge
        .snapshotDiff(fp(oldCorpus), fp(newCorpus), "doc_id", "fp")
        .filter(col("status") === "removed")
        .select("doc_id")
      val pruned = SinkQueries.sinkDir("x79_band_index_pruned")
      TextOps.deleteFromBandIndex(s, idx, pruned, removed)
      TextOps.minhashNearDupsAgainstIndex(batch, s.read.parquet(pruned),
          newCorpus, "doc_id", "text", NearDupThreshold)
        .orderBy("id_new", "id_idx")
    }),

    // ----------------------------------------------------------------- pl8
    // The nightly-ingest pipeline, end to end: a standing corpus with its
    // band-signature index MATERIALIZED; an arriving batch flows through
    // quality gate → in-batch exact dedup (keep-first by fingerprint) →
    // Bloom front door vs the STORED seen-fingerprint filter (x99's
    // admission shape composed in: misses are definitely new and skip the
    // confirm join entirely; only the hit slice pays the exact anti-join
    // against history — at 100 TB the history is never rescanned per
    // batch) → near-dup screen against the STORED band index → admission,
    // and admitted documents' band signatures APPEND to the index
    // (screen-then-admit). The funnel reports per-stage doc/token counts
    // plus the final index row count (numBands × (corpus + admitted)), so
    // the oracle verifies every gate, the Bloom stage's exact
    // new-vs-history set (FP-invariant by construction), the screen's
    // exact reject set, AND the index growth. Index and filter are
    // rebuilt (overwrite) per invocation — reruns are deterministic, two
    // concurrent drivers cannot race (per-process dir).
    "pl8_nightly_ingest" -> ((s, dir) => {
      val t = Tables(s, dir)
      val batch = t.documents.filter(col("doc_id") % IncrementalMod === 0)
      val corpus = t.documents.filter(col("doc_id") % IncrementalMod =!= 0)
      val idx = SinkQueries.sinkDir("pl8_band_index")
      TextOps.writeBandIndex(corpus, "doc_id", "text", idx)
      // Skinny persist: (doc_id, text, n_tokens, quality_ok) feeds five
      // stage counters and the screen's new side — text is needed by the
      // fingerprint and the screen, so it rides along (the batch is the
      // SMALL side of the nightly shape; the corpus is never persisted).
      val quality = GraftCache.persist(
        TextOps.qualityMetrics(batch, "text")
          .select(col("doc_id"), col("text"), col("n_tokens"), col("quality_ok")))
      val pass = quality.filter(col("quality_ok"))
      val withFp = pass.withColumn("fp", TextOps.fingerprint(col("text")))
      val exact = GraftCache.persist(withFp.join(
        withFp.groupBy("fp").agg(min("doc_id").as("doc_id")),
        Seq("fp", "doc_id"), "left_semi"))
      val histFps = corpus.select(TextOps.fingerprint(col("text")).as("fp"))
      // the stored seen-filter is the SHARDED frame (x110 tier) — at
      // 100 TB the history's fingerprints exceed any single filter's
      // 2^30-bit ceiling; shard routing costs one broadcast hash join on
      // nShards tiny rows and the admission result stays the exact
      // anti-join (FP-invariant), so this gate's oracle is unchanged
      val bloomPath = SinkQueries.sinkDir("pl8_seen_bloom")
      Bloom.writeSharded(Bloom.sketchSharded(histFps, xxhash64(col("fp")),
        CoreQueries.BloomBits, CoreQueries.BloomProbes, BloomShards), bloomPath)
      val fresh = GraftCache.persist(Bloom.admitSharded(exact, histFps, "fp",
        Bloom.readSharded(s, bloomPath), CoreQueries.BloomProbes, BloomShards))
      val flagged = TextOps.minhashNearDupsAgainstIndex(
          fresh.select("doc_id", "text"), s.read.parquet(idx), corpus,
          "doc_id", "text", NearDupThreshold)
        .select(col("id_new").as("doc_id")).distinct()
      val admitted = GraftCache.persist(
        fresh.join(flagged, Seq("doc_id"), "left_anti"))
      TextOps.appendBandIndex(admitted, "doc_id", "text", idx)
      val idxRows = s.read.parquet(idx).count()
      def stage(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
          .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
      stage("1_arrived", quality)
        .unionByName(stage("2_quality", pass))
        .unionByName(stage("3_exact_unique", exact))
        .unionByName(stage("4_new_vs_history", fresh))
        .unionByName(stage("5_admitted", admitted))
        .unionByName(s.range(1).select(lit("6_index_rows").as("stage"),
          lit(idxRows).as("n_docs"), lit(null).cast("long").as("n_tokens")))
        .orderBy("stage")
    }),

    // ----------------------------------------------------------------- x34
    // Cross-document span dedup (CCNet/RefinedWeb paragraph dedup over
    // 8-token windows): spans occurring in ≥2 distinct documents are corpus
    // boilerplate — removed everywhere, documents reassembled from the
    // survivors. The sha256 of the reassembled text proves the removal and
    // reassembly are byte-exact, not just the counts.
    "x34_span_dedup" -> ((s, dir) => {
      val t = Tables(s, dir)
      TextOps.spanDedup(t.documents, "doc_id", "text", SpanTokens, SpanMinDocs)
        .select(col("id").as("doc_id"), col("n_spans"), col("n_dropped"),
          col("n_clean_tokens"), sha2(col("clean_text"), 256).as("clean_fp"))
        .orderBy("doc_id")
    }),

    // ----------------------------------------------------------------- x97
    // Exact-substring dedup (Lee et al. 2022 ExactSubstr, declarative
    // form): SLIDING 8-token windows — a duplicated passage flags at any
    // alignment, and removal is token-exact (the union of flagged window
    // intervals), unlike x34's chunk-aligned span removal. The sha256 of
    // the reassembled survivor text proves the interval cover and
    // reassembly byte-exact.
    "x97_substring_dedup" -> ((s, dir) => {
      val t = Tables(s, dir)
      TextOps.substringDedup(t.documents, "doc_id", "text",
          SubstrTokens, SubstrMinDocs)
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("n_dropped_tokens"), col("n_clean_tokens"),
          sha2(col("clean_text"), 256).as("clean_fp"))
        .orderBy("doc_id")
    }),

    // ----------------------------------------------------------------- x99
    // Bloom-screened admission — the steady-state front door of the
    // dedup intake at 100 TB: the seen-fingerprint history is folded into
    // a STORED Bloom filter (8 KiB here; the history itself is never
    // re-read per batch); arriving docs that MISS the filter are
    // definitely new and admit join-free, and only the HIT slice (true
    // dupes + false positives) pays the exact confirm anti-join. The
    // result equals arrivals ANTI-JOIN history at ANY false-positive
    // rate (no false negatives by construction), which is exactly what
    // the oracle replays — the filter is result-invisible, like the
    // band/PQ index storage round-trips.
    "x99_bloom_admission" -> ((s, dir) => {
      val t = Tables(s, dir)
      val history = t.documents.filter(col("doc_id") % IncrementalMod =!= 0)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      // arrivals = the held-out slice (genuinely new) PLUS re-keyed
      // replays of history docs (guaranteed true dupes) — so the
      // confirm-join path is exercised by construction, not only by
      // whatever false positives the geometry happens to produce
      val arrivals = t.documents.filter(col("doc_id") % IncrementalMod === 0)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .unionByName(t.documents
          .filter(col("doc_id") % IncrementalMod === 1)
          .select((col("doc_id") + ReplayIdOffset).as("doc_id"),
            TextOps.fingerprint(col("text")).as("fp")))
      val bloomPath = SinkQueries.sinkDir("x99_seen_bloom")
      Bloom.write(
        history.agg(Bloom.sketch(xxhash64(col("fp")),
          CoreQueries.BloomBits, CoreQueries.BloomProbes).as("words")),
        "words", CoreQueries.BloomBits, CoreQueries.BloomProbes, bloomPath)
      Bloom.admit(arrivals, history, "fp", Bloom.read(s, bloomPath),
          CoreQueries.BloomBits, CoreQueries.BloomProbes)
        .select(col("doc_id"), col("fp"))
        .orderBy("doc_id")
    }),

    // ---------------------------------------------------------------- pl14
    // Bloom saturation lifecycle — the decision arrow the x99/streaming
    // admission tier leaves open (round-14 verdict task 7): WHEN does the
    // stored seen-fingerprint filter get rebuilt? maintainSeenBloom keeps
    // geometry fixed forever; as history grows the fill ratio (and with
    // it the FP rate, hence the confirm-join slice) climbs silently. The
    // pl12 drift-gate pattern applied: the decision number is the EXACT
    // integer fill ppm (popcount·1e6/nBits — this gate builds its filter
    // on the md5 oracle hash, so DuckDB replays the filter's BITS, not
    // just the FP-invariant result); past the threshold the filter is
    // rebuilt from the history at a geometry SIZED FOR the history
    // (2·|history|·probes bits rounded up to a power of two — a bare
    // doubling of a badly undersized filter would come back still
    // saturated). Both scenarios then
    // SERVE an admission screen through the decided filter, reporting
    // n_miss (join-free admits) / n_hit (pays the confirm join) /
    // n_admitted — all replayed, so the oracle checks the decision
    // arithmetic AND the FP behaviour of the served geometry, strictly
    // stronger than x99's FP-invariant gate.
    "pl14_bloom_rotate" -> ((s, dir) => {
      val t = Tables(s, dir)
      val history = t.documents.filter(col("doc_id") % IncrementalMod =!= 0)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      val arrivals = t.documents.filter(col("doc_id") % IncrementalMod === 0)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .unionByName(t.documents
          .filter(col("doc_id") % IncrementalMod === 1)
          .select((col("doc_id") + ReplayIdOffset).as("doc_id"),
            TextOps.fingerprint(col("text")).as("fp")))
      val probes = CoreQueries.BloomProbes
      // The rebuild is sized from the CURRENT history row count — the
      // rebuild must re-read history anyway (word-wise OR cannot resize),
      // which is exactly when re-sizing is free: smallest power of two
      // holding 2·|history|·probes bits (≤50% fill with headroom), floored
      // at 2× the outgoing geometry ([[Bloom.rebuildBitsFor]]). Lazy: the
      // count job only runs when a scenario actually rotates.
      lazy val nHist = history.count()
      // Serving goes through the SHARDED frame at nShards = 1 — the
      // monolithic lifecycle is the single-shard special case of the
      // x110 tier (same bits, same probe scheme, same fill/rebuild
      // arithmetic, so this gate's oracle is unchanged). The driver only
      // ever reads the fill SCALAR ([[Bloom.shardFill]] popcounts inside
      // the scan); the words stay executor-side and the screen routes
      // through a broadcast hash join on the shard key — nothing fetches
      // or re-broadcasts an nBits/8-byte array at any geometry, which
      // retires the measured 16K-long-literal driver tax outright.
      val hashC = TextOps.md5Hash60(col("fp"))
      def frameAt(nBits: Int): DataFrame = GraftCache.persist(
        Bloom.sketchSharded(history, hashC, nBits, probes, 1))
      def scenario(name: String, nBits: Int): DataFrame = {
        val f0 = frameAt(nBits)
        // exact integer fill ppm — one scalar row to the driver
        val fillPpm = Bloom.shardFill(f0).select("fill_ppm").head.getLong(0)
        val rotate = fillPpm > RotateFillPpm
        val servedBits =
          if (rotate) Bloom.rebuildBitsFor(nBits, nHist, probes) else nBits
        val served = if (rotate) frameAt(servedBits) else f0
        // persisted: the screened frame feeds the stats agg and BOTH
        // admission branches — three consumers, one arrivals
        // fingerprint pass (the pl8 discipline)
        val screened = GraftCache.persist(
          Bloom.screenSharded(arrivals, hashC, served, probes, 1))
        val admitted = Bloom.admitScreened(screened, history, "fp")
        screened.agg(count(lit(1)).as("n_arrived"),
            sum(when(col("__maybe"), 0L).otherwise(1L)).as("n_miss"),
            sum(when(col("__maybe"), 1L).otherwise(0L)).as("n_hit"))
          .crossJoin(admitted.agg(count(lit(1)).as("n_admitted")))
          .select(lit(name).as("scenario"), lit(fillPpm).as("fill_ppm"),
            lit(if (rotate) "rotate" else "keep").as("decision"),
            lit(servedBits.toLong).as("served_bits"),
            col("n_arrived"), col("n_miss"), col("n_hit"), col("n_admitted"))
      }
      scenario("1_roomy", BloomRoomyBits)
        .unionByName(scenario("2_saturated", BloomTightBits))
        .orderBy("scenario")
    }),

    // ---------------------------------------------------------------- x110
    // SHARDED Bloom saturation lifecycle — pl14 at the 100 TB operating
    // point (round-15 verdict #1): the monolithic filter is hard-capped at
    // 2^30 bits in one words row (~130 M members at 4 probes), and its
    // rotate branch popcounts the whole array on the driver. Here the
    // fingerprint space shards on hash top bits (routing bits the probe
    // scheme never reads), the filter is a frame of per-shard rows with
    // PER-SHARD geometry, fill is popcounted DISTRIBUTEDLY (the driver
    // collects nShards scalars, never words), saturated shards rebuild
    // INDEPENDENTLY at geometry sized from their own member count, and
    // the serve routes each arrival to its shard row via a broadcast hash
    // join. Like pl14 the filter is built on the md5 oracle hash, so
    // DuckDB replays every shard's BITS: per-shard fill ppm, decision,
    // rebuilt geometry, and the served screen's hit/miss split — plus the
    // exact per-shard admission count (geometry-invariant).
    "x110_sharded_bloom_rotate" -> ((s, dir) => {
      import s.implicits._
      val t = Tables(s, dir)
      val nS = BloomShards
      val probes = CoreQueries.BloomProbes
      val h = TextOps.md5Hash60(col("fp"))
      val history = GraftCache.persist(
        t.documents.filter(col("doc_id") % IncrementalMod =!= 0)
          .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp")))
      val arrivals = GraftCache.persist(
        t.documents.filter(col("doc_id") % IncrementalMod === 0)
          .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
          .unionByName(t.documents
            .filter(col("doc_id") % IncrementalMod === 1)
            .select((col("doc_id") + ReplayIdOffset).as("doc_id"),
              TextOps.fingerprint(col("text")).as("fp")))
          .withColumn("shard", Bloom.shardOf(h, nS)))
      // the rebuild-sizing input: nShards bounded scalar rows
      val histCounts = history.groupBy(Bloom.shardOf(h, nS).as("shard"))
        .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        .withDefaultValue(0L)
      def scenario(name: String, nBits: Int): DataFrame = {
        val frame = GraftCache.persist(
          Bloom.sketchSharded(history, h, nBits, probes, nS))
        // decision inputs: nShards scalar rows (exact integer fill ppm)
        val fills = Bloom.shardFill(frame).select("shard", "fill_ppm")
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val targets: Map[Int, Int] = fills.collect {
          case (sh, ppm) if ppm > RotateFillPpm =>
            sh -> Bloom.rebuildBitsFor(nBits, histCounts(sh), probes)
        }
        val served = GraftCache.persist(
          if (targets.isEmpty) frame
          else frame.filter(!col("shard").isin(targets.keys.toSeq: _*))
            .unionByName(
              Bloom.sketchShardedAt(history, h, targets, probes, nS)))
        val screened = GraftCache.persist(Bloom.screenSharded(
          arrivals, h, served, probes, nS))
        val admitted = Bloom.admitScreened(screened, history, "fp")
        val stats = screened.groupBy("shard")
          .agg(count(lit(1)).as("n_arrived"),
            sum(when(col("__maybe"), 0L).otherwise(1L)).as("n_miss"),
            sum(when(col("__maybe"), 1L).otherwise(0L)).as("n_hit"))
        val adm = admitted.groupBy("shard")
          .agg(count(lit(1)).as("n_admitted"))
        val info = (0 until nS).map { sh =>
          val rotate = fills(sh) > RotateFillPpm
          (name, sh, histCounts(sh), fills(sh),
            if (rotate) "rotate" else "keep",
            (if (rotate) targets(sh) else nBits).toLong)
        }.toDF("scenario", "shard", "n_hist", "fill_ppm", "decision",
          "served_bits")
        info.join(stats, Seq("shard"), "left")
          .join(adm, Seq("shard"), "left")
          .select(col("scenario"), col("shard").cast("long").as("shard"),
            col("n_hist"), col("fill_ppm"), col("decision"),
            col("served_bits"),
            coalesce(col("n_arrived"), lit(0L)).as("n_arrived"),
            coalesce(col("n_miss"), lit(0L)).as("n_miss"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            coalesce(col("n_admitted"), lit(0L)).as("n_admitted"))
      }
      scenario("1_roomy", ShardRoomyBits)
        .unionByName(scenario("2_saturated", ShardTightBits))
        .orderBy("scenario", "shard")
    }),

    // ---------------------------------------------------------------- x102
    // WITHIN-document repetition removal (Gopher/MassiveText repetition
    // filters made surgical): every repeated 4-token window keeps its
    // first occurrence; later occurrences' token intervals are excised,
    // so a looping chorus/nav-bar survives as one copy instead of
    // dropping the whole document. Flags computed against the original
    // text in one pass; sha256 of the reassembled survivor text pins the
    // interval cover byte-exact. The window shuffle key is (doc, spanh) —
    // document-local, no cross-document hotspot at any scale.
    "x102_self_repetition" -> ((s, dir) => {
      val t = Tables(s, dir)
      TextOps.selfRepetitionDedup(t.documents, "doc_id", "text",
          RepWindowTokens)
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("n_dropped_tokens"), col("n_clean_tokens"),
          sha2(col("clean_text"), 256).as("clean_fp"))
        .orderBy("doc_id")
    }),

    // ---------------------------------------------------------------- x104
    // T5 span-corruption sample generation (Raffel et al. 2020 §3.1.4):
    // the objective-construction step between curation and export —
    // deterministic hash-driven span masking (RNG-free, so the oracle
    // replays the exact mask), maximal-run merging with one sentinel per
    // run, corrupted input + sentinel-interleaved target per document,
    // both sha256-pinned so one wrong sentinel index or mis-merged run
    // anywhere flips the hash.
    "x104_span_corruption" -> ((s, dir) => {
      val t = Tables(s, dir)
      TextOps.spanCorruption(t.documents, "doc_id", "text",
          SpanCorrLen, SpanCorrMod)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_masked"),
          col("n_spans"),
          sha2(col("input_text"), 256).as("input_fp"),
          sha2(col("target_text"), 256).as("target_fp"))
        .orderBy("doc_id")
    }),

    // ---------------------------------------------------------------- x100
    // BPE merge-rule learning (Sennrich et al. 2016) at the word level —
    // tokenizer TRAINING, the arrow upstream of every token-budget
    // operator here. Six iterations of count-pairs → argmax (ties
    // lexicographic) → greedy left-to-right merge; each iteration is one
    // aggregation query over one symbol array per document (the previous
    // merge applied in the same narrow pass that emits the pairs, no
    // window shuffle), seven queries for six merges. The gate
    // pins the learned rules, their selection-time counts AND the
    // occurrences actually merged (n_merged < pair_n exactly when the
    // winning pair overlaps itself inside same-symbol runs). The oracle
    // replays the full recurrence as an unrolled MATERIALIZED CTE chain —
    // iteration t's counts run over the corpus AS REWRITTEN by merges
    // 1..t-1, so a wrong merge application would cascade into every later
    // row.
    "x100_bpe_merges" -> ((s, dir) => {
      val t = Tables(s, dir)
      BpeTrainer.learnMerges(t.documents, "doc_id", "text", BpeIters)
        .orderBy("it")
    }),

    // ---------------------------------------------------------------- x111
    // BATCHED BPE training (round-15 verdict #4): x100 is one query +
    // one driver argmax PER MERGE — a production 32k-merge vocabulary is
    // 32k sequential queries, days of scheduler latency at any data size.
    // Here each scan accepts up to BpeBatchN symbol-disjoint pairs in
    // (count desc, lex) order — disjoint over each pair's sides AND the
    // merged symbol it creates — and the next scan's query merges them
    // all in ONE narrow pass, in slot order (occurrences never overlap,
    // and earlier accepted pairs can neither create nor destroy later
    // ones' occurrences — slot-order == simultaneous); x100's loop is
    // this one at BpeBatchN = 1. The oracle replays the whole batched
    // recurrence: per-scan pair ranks, the non-interacting selection
    // cascade, the multi-rule merge pass, and per-slot merged-occurrence
    // counts; scan 2 runs over the corpus as rewritten by scan 1, so any
    // selection or application error cascades.
    "x111_bpe_batched" -> ((s, dir) => {
      val t = Tables(s, dir)
      BpeTrainer.learnMergesBatched(t.documents, "doc_id", "text",
          BpeBatchScans, BpeBatchN)
        .orderBy("scan", "slot")
    }),

    // ---------------------------------------------------------------- x101
    // Tokenizer SERVING off a stored vocabulary: learn a short rule list,
    // WRITE it as the vocab artifact, rehydrate, and apply the stored
    // rules to the whole corpus — the train-once/apply-everywhere split
    // of real tokenizers (the storage round trip must be
    // result-invisible, the band/PQ-index move applied to the vocab).
    // Apply is one declarative plan: one exchange by doc, every per-rule
    // window pass reusing that partitioning. The oracle re-derives the
    // same rules from its own training chain replay and checks each
    // doc's final symbol count AND a sha256 over the full rewritten
    // symbol sequence — one mis-merged token anywhere flips the hash.
    "x101_bpe_apply" -> ((s, dir) => {
      val t = Tables(s, dir)
      val vocabPath = SinkQueries.sinkDir("x101_bpe_vocab")
      BpeTrainer.learnMerges(t.documents, "doc_id", "text", BpeApplyIters)
        .coalesce(1).write.mode("overwrite").parquet(vocabPath)
      val rules = s.read.parquet(vocabPath).orderBy("it")
        .select("sym_a", "sym_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      BpeTrainer.applyMerges(t.documents, "doc_id", "text", rules)
        .select(col("id").as("doc_id"), col("n_symbols"), col("sym_fp"))
        .orderBy("doc_id")
    }),

    // ---------------------------------------------------------------- x105
    // Tokenizer serving at PRODUCTION rule counts: the bounded-local-state
    // applier — a constant-size plan (one narrow mapPartitions over
    // (id, tokens), rules in one Broadcast, zero shuffles) where x101's
    // declarative form builds one window pass per rule and cannot reach a
    // real ~32k-merge vocabulary. Same stored-vocab lifecycle (learn →
    // write → rehydrate → apply), same oracle replay as x101 — the local
    // greedy loop must land byte-identical to the window formulation
    // (also ScalaCheck-pinned row-identical in SketchGraphSpec, and
    // probed at 1k+ rules for flat plan size).
    "x105_bpe_apply_local" -> ((s, dir) => {
      val t = Tables(s, dir)
      val vocabPath = SinkQueries.sinkDir("x105_bpe_vocab")
      BpeTrainer.learnMerges(t.documents, "doc_id", "text", BpeApplyIters)
        .coalesce(1).write.mode("overwrite").parquet(vocabPath)
      val rules = s.read.parquet(vocabPath).orderBy("it")
        .select("sym_a", "sym_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      BpeTrainer.applyMergesLocal(t.documents, "doc_id", "text", rules)
        .select(col("id").as("doc_id"), col("n_symbols"), col("sym_fp"))
        .orderBy("doc_id")
    }),

    // ---------------------------------------------------------------- x131
    // BYTE FALLBACK for the BPE serve — x130's contract on the merge
    // family: the rules AND the base alphabet (the train corpus's
    // distinct symbols — the full vocab artifact a real tokenizer
    // ships, not just the merge list) are stored; the serve over the
    // Greek-decorated corpus merges as usual (rules never match unseen
    // symbols), then every emitted single symbol outside the stored
    // alphabet decomposes into byte tokens. Coverage measured per
    // document; the oracle replays the training chain, the apply chain
    // over the DECORATED corpus, the alphabet-membership test, and the
    // byte expansion.
    "x131_bpe_byte_fallback" -> ((s, dir) => {
      val t = Tables(s, dir)
      val vocabPath = SinkQueries.sinkDir("x131_bpe_vocab")
      BpeTrainer.learnMerges(t.documents, "doc_id", "text", BpeApplyIters)
        .coalesce(1).write.mode("overwrite").parquet(vocabPath)
      val alphaPath = SinkQueries.sinkDir("x131_bpe_alphabet")
      t.documents
        .select(explode(graft.operators.TextOps.tokens(col("text")))
          .as("sym"))
        .distinct().coalesce(1).write.mode("overwrite").parquet(alphaPath)
      val rules = s.read.parquet(vocabPath).orderBy("it")
        .select("sym_a", "sym_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      val alphabet = s.read.parquet(alphaPath).collect()
        .map(_.getString(0)).toSet
      val served = t.documents.withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(FallbackDecor))).otherwise(col("text")))
      BpeTrainer.applyMergesLocalByteFallback(served, "doc_id", "text",
          rules, alphabet)
        .select(col("id").as("doc_id"), col("n_symbols"), col("n_fallback"),
          col("all_covered"), col("sym_fp"))
        .orderBy("doc_id")
    }),

    // ---------------------------------------------------------------- x106
    // The SAMPLED-training production path, gated: BpeTrainer's scaladoc
    // has always said production tokenizer training runs on a bounded
    // hash-stratified sample (the recurrence costs one corpus pass per
    // merge — at 100 TB the trainer reads a deterministic slice, the
    // SERVE reads everything). This gate executes that documented split:
    // learn merges on the stratifiedSample half (zero-shuffle pushed
    // hash-coin filter), store the vocab, apply to the FULL corpus via
    // the bounded-local-state applier. The oracle replays BOTH sides of
    // the boundary — the training chain over exactly the sampled slice,
    // then the apply chain over everything — so a wrong sample boundary
    // or a rule leaking from unsampled docs flips rows corpus-wide.
    "x106_bpe_sampled" -> ((s, dir) => {
      val t = Tables(s, dir)
      val sample = graft.operators.Curation.stratifiedSample(t.documents,
        "lang", "doc_id", Map.empty, BpeSamplePerMille, BpeSampleBuckets)
      val vocabPath = SinkQueries.sinkDir("x106_bpe_vocab")
      BpeTrainer.learnMerges(sample, "doc_id", "text", BpeApplyIters)
        .coalesce(1).write.mode("overwrite").parquet(vocabPath)
      val rules = s.read.parquet(vocabPath).orderBy("it")
        .select("sym_a", "sym_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      // Guard the oracle's unrolled shape (round-15 advice): if the
      // sampled corpus exhausted distinct pairs early, learnMerges
      // returns FEWER rules, but the oracle's merge-pass chain is
      // unrolled exactly BpeApplyIters deep — an empty rule CTE would
      // CROSS JOIN every document away and the gate would diverge
      // silently. Fail loudly here instead; at every test SF the sample
      // has pairs to spare.
      require(rules.length == BpeApplyIters,
        s"sampled training exhausted pairs after ${rules.length} of " +
          s"$BpeApplyIters merges; the unrolled oracle cannot replay this")
      BpeTrainer.applyMergesLocal(t.documents, "doc_id", "text", rules)
        .select(col("id").as("doc_id"), col("n_symbols"), col("sym_fp"))
        .orderBy("doc_id")
    }),

    // ----------------------------------------------------------------- x17
    // PII scrubbing: synthetic per-document email + URL appended to the
    // text (the testdata carries no live PII), then scrubbed to typed
    // placeholders; the sha256 of the scrubbed text proves byte-exact
    // replacement. Patterns are the shared Scala constants on both sides.
    "x17_pii_scrub" -> ((s, dir) => {
      val t = Tables(s, dir)
      val dirty = concat_ws(" ", col("text"),
        concat(lit("contact"), col("doc_id"), lit("@example.com")),
        concat(lit("https://example.com/d/"), col("doc_id")))
      t.documents
        .select(col("doc_id"), TextOps.scrubPii(dirty).as("scrubbed"))
        .select(col("doc_id"),
          length(col("scrubbed")).cast("long").as("scrub_len"),
          sha2(col("scrubbed"), 256).as("scrub_fp"))
        .orderBy("doc_id")
    }),

    // ------------------------------------------------------------------ x5
    // 60-bit SimHash per document over distinct tokens (explode+aggregate
    // form: one md5 pass, codegen'd bit sums; TextOps.SimHashBits = 60).
    "x5_simhash" -> ((s, dir) => {
      val t = Tables(s, dir)
      TextOps.simhashes(
          t.documents.select(col("doc_id"), TextOps.tokens(col("text")).as("toks")),
          "doc_id", "toks")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // ----------------------------------------------------------------- x32
    // Bigram LM scoring (perplexity proxy): avg ln P(w2|w1) per document
    // under the corpus's own bigram counts — grams hashed to 60 bits
    // before any shuffle, two keyed count aggs, two equi joins.
    "x32_bigram_logprob" -> ((s, dir) => {
      val t = Tables(s, dir)
      TextOps.bigramLogProb(t.documents, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---------------------------------------------------------------- x133
    // HELD-OUT perplexity filtering — interpolated Kneser–Ney bigram LM
    // (KenLM's family, the CCNet recipe): the model trains on the even
    // doc_ids and scores EVERY document, so the odd half genuinely
    // exercises the smoothing paths (discounted seen mass, backoff on
    // unseen heads, the +1-smoothed continuation floor on never-seen
    // words) that x32's self-scored LM never reaches. Per-bigram scores
    // are integer micro-nats, so the per-doc sums are order-independent
    // and the oracle replays counts, discount arithmetic, and backoff
    // exactly.
    "x133_kn_perplexity" -> ((s, dir) => {
      val t = Tables(s, dir)
      TextOps.knBigramScore(t.documents, "doc_id", "text",
          col("doc_id") % 2 === 0)
        .orderBy("doc_id")
    }),

    // ----------------------------------------------------------------- x31
    // Corpus vocabulary statistics: token/type/hapax counts and the top
    // token — the Zipf-profile numbers a curation run reports per corpus.
    // Shape: explode → one keyed agg on token (map-side partials absorb
    // the Zipf head) → a 1-row rollup + TakeOrdered(1) top token.
    "x31_vocab_stats" -> ((s, dir) => {
      val t = Tables(s, dir)
      val freqs = t.documents
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("f"))
      val stats = freqs.agg(
        sum("f").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("n_hapax"))
      val top = freqs.orderBy(desc("f"), desc("tok")).limit(1)
        .select(col("tok").as("top_tok"), col("f").as("top_f"))
      stats.crossJoin(top)
    })
  )

  // --------------------------------------------------------- oracle SQL gen

  /** DuckDB tokens expression (empty text → empty list, like [[TextOps.tokens]]). */
  private[queries] val toksSql =
    """CASE WHEN length(trim(text)) = 0 THEN []
      | ELSE string_split_regex(lower(trim(text)), '\s+') END""".stripMargin

  /** DuckDB 60-bit md5 hash of a string expression. */
  private def md5h(e: String): String = s"('0x' || substr(md5($e),1,15))::BIGINT"

  /** DuckDB count-of-token-matches (TextOps.tokenMatches). */
  private def matchesSql(toksExpr: String, word: String): String =
    s"len(list_filter($toksExpr, t -> t = '$word'))"

  private def langIdSql: String = {
    val scores = TextOps.LangMarkers.map { case (lang, words) =>
      lang -> words.map(w => matchesSql("toks", w)).mkString("(", " + ", ")")
    }
    // First-declared argmax: lang_i wins iff its score >= every later score.
    val cases = scores.zipWithIndex.init.map { case ((lang, score), i) =>
      val laterGe = scores.drop(i + 1).map { case (_, s2) => s"$score >= $s2" }
        .mkString(" AND ")
      s"WHEN $laterGe THEN '$lang'"
    }.mkString(" ")
    val total = scores.map(_._2).mkString(" + ")
    s"""WITH toked AS (SELECT lang, $toksSql AS toks FROM documents),
       |scored AS (
       |  SELECT lang, CASE $cases ELSE '${scores.last._1}' END AS pred_lang,
       |    CAST($total AS BIGINT) AS score
       |  FROM toked)
       |SELECT lang, pred_lang, count(*) AS n, CAST(sum(score) AS BIGINT) AS total_score
       |FROM scored GROUP BY 1,2 ORDER BY 1,2""".stripMargin
  }

  /** The MinHash+LSH near-dup CTE chain (sh→hashed→sigs→banded→pairs→jac)
    * over a source CTE `src`(id, toks) — replays [[TextOps.minhashNearDups]]
    * exactly. Reused by the x4 oracle and the pl5 curation-pipeline oracle
    * so both replay the identical pipeline. `jac` holds
    * (id_a, id_b, jaccard) BEFORE the threshold filter. */
  private[queries] def minhashPairCtes(src: String): String = {
    val p = TextOps.P
    val sigExprs = TextOps.hashParams.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, h -> (h*$a + $b) % $p)) AS h$i"
    }.mkString(",\n    ")
    val bandStructs = (0 until TextOps.numBands).map { b =>
      val parts = (0 until TextOps.BandRows).map(r => s"h${b * TextOps.BandRows + r}")
      s"{'band': $b, 'bsig': concat_ws(':', ${parts.mkString(", ")})}"
    }.mkString(", ")
    s"""sh AS (
       |  SELECT id, toks, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |    ELSE list_transform(range(0, len(toks)-2),
       |      i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])) END AS shingles
       |  FROM $src),
       |hashed AS (
       |  SELECT id, list_transform(shingles, s -> ${md5h("s")} % $p) AS hs FROM sh),
       |sigs AS (
       |  SELECT id, $sigExprs FROM hashed),
       |banded AS (
       |  SELECT id, u.b.band AS band, u.b.bsig AS bsig
       |  FROM sigs, UNNEST([$bandStructs]) u(b)),
       |pairs AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bsig = b.bsig AND a.id < b.id),
       |jac AS (
       |  SELECT id_a, id_b,
       |    round(len(list_distinct(list_intersect(ta.toks, tb.toks)))::DOUBLE
       |          / nullif(len(list_distinct(ta.toks || tb.toks)), 0), 4) AS jaccard
       |  FROM pairs JOIN $src ta ON pairs.id_a = ta.id
       |             JOIN $src tb ON pairs.id_b = tb.id)""".stripMargin
  }

  /** Suffixed MinHash band CTE chain (sh_s → hashed_s → sigs_s → banded_s)
    * over a source CTE `src`(id, toks) — the two-frame form of
    * [[minhashPairCtes]]'s signature pipeline, for oracles that band two
    * different frames (x39 incremental screening). */
  private def minhashBandCtes(src: String, s: String): String = {
    val p = TextOps.P
    val sigExprs = TextOps.hashParams.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, h -> (h*$a + $b) % $p)) AS h$i"
    }.mkString(",\n    ")
    val bandStructs = (0 until TextOps.numBands).map { b =>
      val parts = (0 until TextOps.BandRows).map(r => s"h${b * TextOps.BandRows + r}")
      s"{'band': $b, 'bsig': concat_ws(':', ${parts.mkString(", ")})}"
    }.mkString(", ")
    s"""sh_$s AS (
       |  SELECT id, toks, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |    ELSE list_transform(range(0, len(toks)-2),
       |      i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])) END AS shingles
       |  FROM $src),
       |hashed_$s AS (
       |  SELECT id, list_transform(shingles, sg -> ${md5h("sg")} % $p) AS hs FROM sh_$s),
       |sigs_$s AS (
       |  SELECT id, $sigExprs FROM hashed_$s),
       |banded_$s AS (
       |  SELECT id, u.b.band AS band, u.b.bsig AS bsig
       |  FROM sigs_$s, UNNEST([$bandStructs]) u(b))""".stripMargin
  }

  /** Corpus bigram-LM scoring CTE chain ending in
    * `scored`(doc_id, n_bigrams, avg_logp) — replays
    * [[TextOps.bigramLogProb]]; shared by the x32 oracle and the x40
    * perplexity-binning oracle. */
  private[queries] def bigramScoredCtes: String =
    s"""toked AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |grams AS (
       |  SELECT doc_id, ${md5h("g")} AS gh,
       |    ${md5h("string_split(g, ' ')[1]")} AS wh
       |  FROM (
       |    SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN []
       |      ELSE list_transform(range(0, len(toks)-1),
       |        i -> concat_ws(' ', toks[i+1], toks[i+2])) END) AS g
       |    FROM toked)),
       |bi AS (SELECT gh, count(*) AS c12 FROM grams GROUP BY 1),
       |heads AS (SELECT wh, count(*) AS c1 FROM grams GROUP BY 1),
       |scored AS (
       |  SELECT g.doc_id, count(*) AS n_bigrams,
       |    round(avg(ln(c12::DOUBLE / c1)), 4) AS avg_logp
       |  FROM grams g JOIN bi USING (gh) JOIN heads USING (wh)
       |  GROUP BY 1)""".stripMargin

  /** Replays the pl8 nightly-ingest funnel: quality gate (shared x2
    * arithmetic), keep-first exact dedup, the Bloom front door's exact
    * new-vs-history set (the filter is FP-invariant by construction —
    * Bloom.admit == arrivals ANTI-JOIN history at any FP rate, so the
    * oracle replays the anti-join), the indexed near-dup screen's reject
    * set (shared band CTE builders — the index is a plan property, so the
    * oracle replays the SCREEN, not the storage), and index growth as
    * numBands × (corpus + admitted). */
  private def nightlyIngestSql: String =
    s"""WITH toked_all AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
       |batch AS (SELECT * FROM toked_all WHERE doc_id % $IncrementalMod = 0),
       |corpus AS (SELECT * FROM toked_all WHERE doc_id % $IncrementalMod <> 0),
       |m AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |    ${punctRatioSql("text")} AS punct, ${stopRatioSql("toks")} AS stop
       |  FROM batch),
       |q AS (
       |  SELECT b.doc_id, b.text, b.toks, m.n_tokens,
       |    ${qualityOkSql("m.n_tokens", "m.punct", "m.stop")} AS ok
       |  FROM batch b JOIN m USING (doc_id)),
       |pass AS (SELECT * FROM q WHERE ok),
       |fp AS (
       |  SELECT *, sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
       |  FROM pass),
       |exact AS (
       |  SELECT fp.* FROM fp
       |  JOIN (SELECT f, min(doc_id) AS keeper FROM fp GROUP BY 1) k
       |    ON fp.f = k.f AND fp.doc_id = k.keeper),
       |fresh AS (
       |  SELECT * FROM exact WHERE f NOT IN (
       |    SELECT sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
       |    FROM corpus)),
       |toked_new AS (SELECT doc_id AS id, toks FROM fresh),
       |toked_idx AS (SELECT doc_id AS id, toks FROM corpus),
       |${minhashBandCtes("toked_new", "n")},
       |${minhashBandCtes("toked_idx", "i")},
       |cands AS (
       |  SELECT DISTINCT n.id AS id_new, i.id AS id_idx
       |  FROM banded_n n JOIN banded_i i
       |    ON n.band = i.band AND n.bsig = i.bsig),
       |flagged AS (
       |  SELECT DISTINCT id_new FROM cands
       |  JOIN toked_new ta ON cands.id_new = ta.id
       |  JOIN toked_idx tb ON cands.id_idx = tb.id
       |  WHERE round(len(list_distinct(list_intersect(ta.toks, tb.toks)))::DOUBLE
       |        / nullif(len(list_distinct(ta.toks || tb.toks)), 0), 4)
       |      >= $NearDupThreshold),
       |admitted AS (
       |  SELECT * FROM fresh WHERE doc_id NOT IN (SELECT id_new FROM flagged))
       |SELECT stage, n_docs, n_tokens FROM (
       |  SELECT '1_arrived' AS stage, count(*) AS n_docs,
       |    CAST(sum(len(toks)) AS BIGINT) AS n_tokens FROM batch
       |  UNION ALL SELECT '2_quality', count(*),
       |    CAST(sum(n_tokens) AS BIGINT) FROM pass
       |  UNION ALL SELECT '3_exact_unique', count(*),
       |    CAST(sum(n_tokens) AS BIGINT) FROM exact
       |  UNION ALL SELECT '4_new_vs_history', count(*),
       |    CAST(sum(n_tokens) AS BIGINT) FROM fresh
       |  UNION ALL SELECT '5_admitted', count(*),
       |    CAST(sum(n_tokens) AS BIGINT) FROM admitted
       |  UNION ALL SELECT '6_index_rows',
       |    ${TextOps.numBands} * ((SELECT count(*) FROM corpus)
       |      + (SELECT count(*) FROM admitted)),
       |    NULL
       |) ORDER BY stage""".stripMargin

  /** pl14: BIT-LEVEL Bloom replay. Because the gate builds its filter on
    * the md5 oracle hash, DuckDB can recompute every probe position
    * (base/step double hashing, the [[graft.functions.BloomSketch]]
    * scheme verbatim): the filter's popcount is the count of DISTINCT
    * history probe positions (fill ppm = the decision number), and an
    * arrival is a HIT iff all its positions are set. Both lifecycle
    * branches' serve stats are computed and the replayed fill arithmetic
    * CASEs between them — the pl12 oracle pattern. n_admitted is the
    * exact anti-join (provably geometry-invariant). */
  private def bloomRotateSql: String = {
    val p = CoreQueries.BloomProbes
    def posExpr(mExpr: String) =
      s"(((h & $mExpr) + u.i * (((h >> 20) & $mExpr) | 1)) & $mExpr)"
    def screenCtes(tag: String, mExpr: String) =
      s"""hpos_$tag AS (
         |  SELECT DISTINCT ${posExpr(mExpr)} AS pos
         |  FROM hh, UNNEST(range(0, $p)) u(i)),
         |apos_$tag AS (
         |  SELECT doc_id, ${posExpr(mExpr)} AS pos
         |  FROM ah, UNNEST(range(0, $p)) u(i)),
         |amaybe_$tag AS (
         |  SELECT a.doc_id, bool_and(hp.pos IS NOT NULL) AS maybe
         |  FROM apos_$tag a LEFT JOIN hpos_$tag hp ON a.pos = hp.pos
         |  GROUP BY 1),
         |stats_$tag AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_arrived,
         |    CAST(count(*) FILTER (WHERE NOT maybe) AS BIGINT) AS n_miss,
         |    CAST(count(*) FILTER (WHERE maybe) AS BIGINT) AS n_hit
         |  FROM amaybe_$tag)""".stripMargin
    // the rebuild geometry is DATA-DERIVED (smallest power of two holding
    // 2·|history|·probes bits, floored at 2× the outgoing size) — integer-
    // only arithmetic via the pow2 scan, replayed exactly
    def rbitsCte(tag: String, nBits: Int) =
      s"""rbits_$tag AS (
         |  SELECT (SELECT min(1::BIGINT << k.k) FROM range(6, 31) k(k)
         |    WHERE (1::BIGINT << k.k) >= GREATEST(${2L * nBits},
         |      2 * (SELECT count(*) FROM histfp) * $p)) AS nb)""".stripMargin
    def fillCte(tag: String, nBits: Int) =
      s"""fill_$tag AS (
         |  SELECT (count(*) * 1000000) // $nBits AS ppm FROM hpos_$tag)"""
        .stripMargin
    def scenarioSelect(name: String, fillTag: String, keepTag: String,
                       rotTag: String, nBits: Int) =
      s"""SELECT '$name' AS scenario, f.ppm AS fill_ppm,
         |  CASE WHEN f.ppm > $RotateFillPpm THEN 'rotate' ELSE 'keep' END
         |    AS decision,
         |  CAST(CASE WHEN f.ppm > $RotateFillPpm THEN
         |    (SELECT nb FROM rbits_$fillTag)
         |    ELSE $nBits END AS BIGINT) AS served_bits,
         |  CASE WHEN f.ppm > $RotateFillPpm THEN r.n_arrived
         |    ELSE k.n_arrived END AS n_arrived,
         |  CASE WHEN f.ppm > $RotateFillPpm THEN r.n_miss
         |    ELSE k.n_miss END AS n_miss,
         |  CASE WHEN f.ppm > $RotateFillPpm THEN r.n_hit
         |    ELSE k.n_hit END AS n_hit,
         |  adm.n AS n_admitted
         |FROM fill_$fillTag f, stats_$keepTag k, stats_$rotTag r, adm"""
        .stripMargin
    s"""WITH fps AS (
       |  SELECT doc_id,
       |    sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       |  FROM documents),
       |histfp AS (
       |  SELECT fp FROM fps WHERE doc_id % $IncrementalMod <> 0),
       |arr AS (
       |  SELECT doc_id, fp FROM fps WHERE doc_id % $IncrementalMod = 0
       |  UNION ALL
       |  SELECT doc_id + $ReplayIdOffset AS doc_id, fp FROM fps
       |  WHERE doc_id % $IncrementalMod = 1),
       |hh AS (SELECT ${md5h("fp")} AS h FROM histfp),
       |ah AS (SELECT doc_id, ${md5h("fp")} AS h FROM arr),
       |adm AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n FROM arr
       |  WHERE fp NOT IN (SELECT fp FROM histfp)),
       |${rbitsCte("r", BloomRoomyBits)},
       |${rbitsCte("t", BloomTightBits)},
       |${screenCtes("r", (BloomRoomyBits - 1).toString)},
       |${fillCte("r", BloomRoomyBits)},
       |${screenCtes("r2", "(SELECT nb - 1 FROM rbits_r)")},
       |${screenCtes("t", (BloomTightBits - 1).toString)},
       |${fillCte("t", BloomTightBits)},
       |${screenCtes("t2", "(SELECT nb - 1 FROM rbits_t)")}
       |SELECT * FROM (
       |${scenarioSelect("1_roomy", "r", "r", "r2", BloomRoomyBits)}
       |UNION ALL
       |${scenarioSelect("2_saturated", "t", "t", "t2", BloomTightBits)}
       |) ORDER BY scenario""".stripMargin
  }

  /** x110: [[bloomRotateSql]] generalized per shard — every arithmetic
    * step gains a `shard` grouping key (shard = hash top routing bits),
    * the served geometry becomes a per-shard COLUMN joined into the
    * probe-position expressions, and both the fill decision and the
    * rebuild sizing replay independently per shard. */
  private def shardedBloomRotateSql: String = {
    val p = CoreQueries.BloomProbes
    val nS = BloomShards
    // probe position with the mask as a correlated column (g.nb - 1)
    def posExpr(hExpr: String) =
      s"((($hExpr & (g.nb-1)) + u.i * ((($hExpr >> 20) & (g.nb-1)) | 1)) & (g.nb-1))"
    def posExprConst(hExpr: String, mExpr: String) =
      s"((($hExpr & $mExpr) + u.i * ((($hExpr >> 20) & $mExpr) | 1)) & $mExpr)"
    def scenarioCtes(tag: String, initBits: Int) =
      s"""hpos_$tag AS (
         |  SELECT DISTINCT shard, ${posExprConst("h", (initBits - 1).toString)} AS pos
         |  FROM hh, UNNEST(range(0, $p)) u(i)),
         |fill_$tag AS (
         |  SELECT shard, count(*) * 1000000 // $initBits AS ppm
         |  FROM hpos_$tag GROUP BY 1),
         |geo_$tag AS (
         |  SELECT s.shard,
         |    CAST(coalesce(f.ppm, 0) AS BIGINT) AS ppm,
         |    CASE WHEN coalesce(f.ppm, 0) > $RotateFillPpm THEN 'rotate'
         |      ELSE 'keep' END AS decision,
         |    CAST(CASE WHEN coalesce(f.ppm, 0) > $RotateFillPpm THEN
         |      (SELECT min(1::BIGINT << k.k) FROM range(6, 31) k(k)
         |       WHERE (1::BIGINT << k.k) >= GREATEST(${2L * initBits},
         |         2 * coalesce(c.n, 0) * $p))
         |      ELSE $initBits END AS BIGINT) AS nb,
         |    CAST(coalesce(c.n, 0) AS BIGINT) AS n_hist
         |  FROM shards s LEFT JOIN fill_$tag f ON s.shard = f.shard
         |    LEFT JOIN hcnt c ON s.shard = c.shard),
         |hpos2_$tag AS (
         |  SELECT DISTINCT hh.shard, ${posExpr("hh.h")} AS pos
         |  FROM hh JOIN geo_$tag g ON hh.shard = g.shard,
         |    UNNEST(range(0, $p)) u(i)),
         |apos_$tag AS (
         |  SELECT a.doc_id, a.shard, ${posExpr("a.h")} AS pos
         |  FROM ah a JOIN geo_$tag g ON a.shard = g.shard,
         |    UNNEST(range(0, $p)) u(i)),
         |amaybe_$tag AS (
         |  SELECT a.doc_id, a.shard, bool_and(hp.pos IS NOT NULL) AS maybe
         |  FROM apos_$tag a LEFT JOIN hpos2_$tag hp
         |    ON a.shard = hp.shard AND a.pos = hp.pos
         |  GROUP BY 1, 2),
         |stats_$tag AS (
         |  SELECT shard, CAST(count(*) AS BIGINT) AS n_arrived,
         |    CAST(count(*) FILTER (WHERE NOT maybe) AS BIGINT) AS n_miss,
         |    CAST(count(*) FILTER (WHERE maybe) AS BIGINT) AS n_hit
         |  FROM amaybe_$tag GROUP BY 1)""".stripMargin
    def scenarioSelect(name: String, tag: String) =
      s"""SELECT '$name' AS scenario, g.shard, g.n_hist, g.ppm AS fill_ppm,
         |  g.decision, g.nb AS served_bits,
         |  CAST(coalesce(st.n_arrived, 0) AS BIGINT) AS n_arrived,
         |  CAST(coalesce(st.n_miss, 0) AS BIGINT) AS n_miss,
         |  CAST(coalesce(st.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(coalesce(ad.n, 0) AS BIGINT) AS n_admitted
         |FROM geo_$tag g LEFT JOIN stats_$tag st ON g.shard = st.shard
         |  LEFT JOIN admg ad ON g.shard = ad.shard""".stripMargin
    s"""WITH fps AS (
       |  SELECT doc_id,
       |    sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       |  FROM documents),
       |histfp AS (
       |  SELECT fp FROM fps WHERE doc_id % $IncrementalMod <> 0),
       |arr AS (
       |  SELECT doc_id, fp FROM fps WHERE doc_id % $IncrementalMod = 0
       |  UNION ALL
       |  SELECT doc_id + $ReplayIdOffset AS doc_id, fp FROM fps
       |  WHERE doc_id % $IncrementalMod = 1),
       |hh AS (
       |  SELECT h, (h >> ${Bloom.ShardShift}) & ${nS - 1} AS shard
       |  FROM (SELECT ${md5h("fp")} AS h FROM histfp)),
       |ah AS (
       |  SELECT doc_id, fp, h, (h >> ${Bloom.ShardShift}) & ${nS - 1} AS shard
       |  FROM (SELECT doc_id, fp, ${md5h("fp")} AS h FROM arr)),
       |shards AS (SELECT k AS shard FROM range(0, $nS) r(k)),
       |hcnt AS (SELECT shard, count(*) AS n FROM hh GROUP BY 1),
       |admg AS (
       |  SELECT shard, count(*) AS n FROM ah
       |  WHERE fp NOT IN (SELECT fp FROM histfp) GROUP BY 1),
       |${scenarioCtes("r", ShardRoomyBits)},
       |${scenarioCtes("t", ShardTightBits)}
       |SELECT * FROM (
       |${scenarioSelect("1_roomy", "r")}
       |UNION ALL
       |${scenarioSelect("2_saturated", "t")}
       |) ORDER BY scenario, shard""".stripMargin
  }

  /** Replays x45: the x39 screen arithmetic at the fuzzy threshold,
    * aggregated per flagged TRAIN document. */
  private def fuzzyDecontamSql: String =
    s"""WITH toked_new AS (
       |  SELECT doc_id AS id, $toksSql AS toks FROM documents
       |  WHERE doc_id % $IncrementalMod = 0),
       |toked_idx AS (
       |  SELECT doc_id AS id, $toksSql AS toks FROM documents
       |  WHERE doc_id % $IncrementalMod <> 0),
       |${minhashBandCtes("toked_new", "n")},
       |${minhashBandCtes("toked_idx", "i")},
       |pairs AS (
       |  SELECT DISTINCT n.id AS id_new, i.id AS id_idx
       |  FROM banded_n n JOIN banded_i i
       |    ON n.band = i.band AND n.bsig = i.bsig),
       |jac AS (
       |  SELECT id_new, id_idx,
       |    round(len(list_distinct(list_intersect(ta.toks, tb.toks)))::DOUBLE
       |          / nullif(len(list_distinct(ta.toks || tb.toks)), 0), 4) AS jaccard
       |  FROM pairs JOIN toked_new ta ON pairs.id_new = ta.id
       |             JOIN toked_idx tb ON pairs.id_idx = tb.id)
       |SELECT id_idx AS train_doc_id, count(*) AS n_eval_matches,
       |  max(jaccard) AS max_jaccard
       |FROM jac WHERE jaccard >= $FuzzyDecontamThreshold
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared CTE prefix replaying x49's feature pipeline to a `z` frame
    * (doc_id + rounded z-scores) — the x49 oracle selects it directly,
    * the x53 scorer builds its dot product on top of the SAME rounded
    * values, so both gates replay one arithmetic. */
  private[queries] def qualityFeatureCtes: String = {
    val feats = Seq("n_tokens", "punct_ratio", "stopword_ratio",
      "mean_token_len", "dup_bigram_frac")
    val statExprs = feats.zipWithIndex.map { case (f, i) =>
      s"avg($f) AS m$i, stddev_pop($f) AS s$i"
    }.mkString(",\n    ")
    val zExprs = feats.zipWithIndex.map { case (f, i) =>
      s"round(CASE WHEN s$i = 0 THEN 0 ELSE ($f - m$i) / s$i END, 4) AS z_$f"
    }.mkString(",\n  ")
    s"""WITH toked AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
       |m AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |    ${punctRatioSql("text")} AS punct_ratio,
       |    ${stopRatioSql("toks")} AS stopword_ratio,
       |    round(length(regexp_replace(text, '\\s', '', 'g'))::DOUBLE
       |          / nullif(len(toks), 0), 4) AS mean_token_len
       |  FROM toked),
       |grams AS (
       |  SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN []
       |    ELSE list_transform(range(0, len(toks)-1),
       |      i -> concat_ws(' ', toks[i+1], toks[i+2])) END) AS g
       |  FROM toked),
       |gc AS (SELECT doc_id, g, count(*) AS n FROM grams GROUP BY 1,2),
       |rep AS (
       |  SELECT doc_id, round(1 - count(*)::DOUBLE / sum(n), 4) AS dup_bigram_frac
       |  FROM gc GROUP BY doc_id),
       |f AS (
       |  SELECT m.doc_id, m.n_tokens::DOUBLE AS n_tokens, m.punct_ratio,
       |    m.stopword_ratio, m.mean_token_len, rep.dup_bigram_frac
       |  FROM m LEFT JOIN rep USING (doc_id)),
       |st AS (
       |  SELECT $statExprs
       |  FROM f),
       |z AS (
       |  SELECT doc_id,
       |  $zExprs
       |  FROM f, st)""".stripMargin
  }

  /** Replays x58: the shared x2 + x29 metric CTEs, the first-failing-rule
    * CASE chain in declared order, then the cumulative attrition over the
    * 4-row stage table (a stage with zero drops still reports). */
  private def filterCascadeSql: String =
    s"""$qualityFeatureCtes,
       |labeled AS (
       |  SELECT doc_id,
       |    CASE WHEN n_tokens < $CascadeMinTokens THEN 0
       |         WHEN NOT (mean_token_len BETWEEN $CascadeMtlLo AND $CascadeMtlHi) THEN 1
       |         WHEN stopword_ratio < $CascadeStopFloor THEN 2
       |         WHEN coalesce(dup_bigram_frac, 0) > $CascadeDupMax THEN 3
       |         ELSE -1 END AS stage
       |  FROM f),
       |counts AS (SELECT stage, count(*) AS n FROM labeled GROUP BY 1),
       |stages(stage, rule) AS (VALUES
       |  (0, 'min_tokens'), (1, 'mean_token_len'),
       |  (2, 'stopword_floor'), (3, 'dup_bigrams')),
       |tot AS (SELECT count(*) AS total FROM labeled)
       |SELECT s.stage, s.rule, CAST(coalesce(c.n, 0) AS BIGINT) AS n_dropped,
       |  CAST(total - sum(coalesce(c.n, 0))
       |    OVER (ORDER BY s.stage ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |    AS n_remaining
       |FROM stages s LEFT JOIN counts c USING (stage), tot
       |ORDER BY s.stage""".stripMargin

  /** Replays x49: the x2 + x29 feature chains joined, then z-scored
    * against one mean/stddev_pop pass (CASE 0 for constant columns, the
    * same guard as the operator). */
  private def qualityFeaturesSql: String =
    s"""$qualityFeatureCtes
       |SELECT doc_id, z_n_tokens, z_punct_ratio, z_stopword_ratio,
       |  z_mean_token_len, z_dup_bigram_frac
       |FROM z ORDER BY doc_id""".stripMargin

  /** Replays x53: the fixed-weight sigmoid gate over the z frame. The dot
    * product folds in [[ScoreWeights]] order — the identical float
    * addition sequence as the operator — and the pass gate compares the
    * ROUNDED score on both sides. */
  /** The x53 dot product in [[ScoreWeights]] order — shared by the x53
    * oracle and the pl10 pipeline replay. */
  private[queries] def scoreDotSql: String = ScoreWeights
    .map { case (c, w) => s"coalesce($c, 0.0) * $w" }
    .mkString("((", " + ", s") + $ScoreBias)")

  /** Replays x65's fit with UNROLLED per-iteration CTEs: iteration t
    * computes the 4-rounded mean gradients against the previous weight
    * row, and the weight update w − step·g is the same IEEE arithmetic
    * as the driver loop (step is a power of two), so the final weights
    * must be bit-identical — the strongest statement the suite makes
    * about an iterative learner. The gradient margin folds bias-FIRST
    * and the final scoring margin bias-LAST, mirroring the exact float
    * association of `fitLogistic` and `scoreLinear` respectively. */
  private def fitClassifierSql: String = {
    val feats = Seq("z_n_tokens", "z_punct_ratio", "z_stopword_ratio",
      "z_mean_token_len", "z_dup_bigram_frac")
    val n = feats.size
    def marginBiasFirst(w: Int => String, b: String): String =
      feats.zipWithIndex.foldLeft(b) { case (acc, (f, i)) =>
        s"($acc + coalesce($f, 0.0) * ${w(i)})"
      }
    val iterCtes = (1 to FitIters).map { t =>
      val (wRef, bRef, from) =
        if (t == 1) ((_: Int) => "0.0", "0.0", "zl")
        else ((i: Int) => s"w${t - 1}.w$i", s"w${t - 1}.b", s"zl, w${t - 1}")
      val m = marginBiasFirst(wRef, bRef)
      val gs = feats.indices.map(i =>
        s"round(avg((1.0 / (1.0 + exp(-$m)) - y) * coalesce(${feats(i)}, 0.0)), 4) AS g$i")
      val gb = s"round(avg(1.0 / (1.0 + exp(-$m)) - y), 4) AS gb"
      val ws = feats.indices.map(i =>
        s"${wRef(i)} - $FitStep * it$t.g$i AS w$i")
      val wb = s"$bRef - $FitStep * it$t.gb AS b"
      val wFrom = if (t == 1) s"it$t" else s"w${t - 1}, it$t"
      // AS MATERIALIZED: without it DuckDB inlines every CTE reference,
      // and the w(t)→it(t)→w(t−1) chain re-expands exponentially in the
      // iteration count (8 iterations planned for minutes; materialized,
      // milliseconds — each 1-row weight CTE evaluates once).
      s"""it$t AS MATERIALIZED (SELECT ${(gs :+ gb).mkString(",\n    ")}
         |  FROM $from),
         |w$t AS MATERIALIZED (SELECT ${(ws :+ wb).mkString(",\n    ")} FROM $wFrom)""".stripMargin
    }
    val wN = s"w$FitIters"
    // final scoring mirrors scoreLinear: flat + chain, bias LAST
    val scoreDot = feats.zipWithIndex
      .map { case (f, i) => s"coalesce($f, 0.0) * $wN.w$i" }
      .mkString("((", " + ", s") + $wN.b)")
    val termRows = feats.zipWithIndex.map { case (f, i) =>
      s"SELECT 'w_$f' AS term, w$i AS value FROM $wN"
    } ++ Seq(s"SELECT 'bias' AS term, b AS value FROM $wN",
      "SELECT 'accuracy' AS term, a AS value FROM acc")
    s"""$qualityFeatureCtes,
       |zl AS MATERIALIZED (
       |  SELECT z.doc_id, ${feats.mkString(", ")},
       |    CASE WHEN m.n_tokens >= $FitMinTokens
       |      AND m.mean_token_len <= $FitMtlMax
       |      THEN 1.0 ELSE 0.0 END AS y
       |  FROM z JOIN m USING (doc_id)),
       |${iterCtes.mkString(",\n")},
       |acc AS (
       |  SELECT avg(CASE WHEN (round(1.0 / (1.0 + exp(-$scoreDot)), 6) >= 0.5)
       |      = (y = 1.0) THEN 1.0 ELSE 0.0 END) AS a
       |  FROM zl, $wN)
       |${termRows.mkString("\nUNION ALL\n")}
       |ORDER BY term""".stripMargin
  }

  /** Replays x119 end to end: the marked corpus, the positional
    * char-bigram hash (integer counts — exact), relative frequencies
    * (one int/int division per cell), round-4 standardization, FIVE
    * unrolled one-vs-rest GD chains (x65's discipline: bias-first
    * gradient margin computed once per row per iteration, round-4 mean
    * gradients, power-of-two step), the bias-last serving margins, the
    * (score DESC, lang ASC) argmax, and the per-language confusion
    * counts in exact integer ppm.
    *
    * [[langIdPredCtes]] is the shared prefix — CTEs through
    * `pred(doc_id, actual, pred_lang)` — reused by pl16's per-language
    * curation funnel, so the two oracles cannot drift. */
  private def langIdPredCtes: String = {
    val langs = LangIdMarkers.map(_._1)
    val d = LangIdBuckets
    val feats = (0 until d).map(i => s"f$i")
    val zf = feats.map("z_" + _)
    val sfxCases = LangIdMarkers
      .map { case (l, m) => s"WHEN '$l' THEN '$m'" }.mkString(" ")
    val fExprs = (0 until d).map(i =>
      s"CAST(sum(CASE WHEN b = $i THEN 1 ELSE 0 END) AS DOUBLE)" +
        s" / count(*) AS f$i").mkString(",\n    ")
    val statExprs = feats.zipWithIndex.map { case (f, i) =>
      s"avg($f) AS m$i, stddev_pop($f) AS s$i" }.mkString(",\n    ")
    val zExprs = feats.zipWithIndex.map { case (f, i) =>
      s"round(CASE WHEN s$i = 0 THEN 0 ELSE ($f - m$i) / s$i END, 4)" +
        s" AS z_$f" }.mkString(",\n  ")
    def marginBiasFirst(w: Int => String, b: String): String =
      zf.zipWithIndex.foldLeft(b) { case (acc, (f, i)) =>
        s"($acc + coalesce($f, 0.0) * ${w(i)})"
      }
    def chain(tag: String, lang: String): String = {
      val iterCtes = (1 to LangIdIters).map { t =>
        val (wRef, bRef, from) =
          if (t == 1) ((_: Int) => "0.0", "0.0", s"zl_$tag")
          else ((i: Int) => s"w$tag${t - 1}.w$i", s"w$tag${t - 1}.b",
            s"zl_$tag, w$tag${t - 1}")
        val m = marginBiasFirst(wRef, bRef)
        val gs = zf.indices.map(i =>
          s"round(avg(err * coalesce(${zf(i)}, 0.0)), 4) AS g$i") :+
          "round(avg(err), 4) AS gb"
        val ws = zf.indices.map(i =>
          s"${wRef(i)} - $LangIdStep * it$tag$t.g$i AS w$i") :+
          s"$bRef - $LangIdStep * it$tag$t.gb AS b"
        val wFrom = if (t == 1) s"it$tag$t" else s"w$tag${t - 1}, it$tag$t"
        s"""e$tag$t AS MATERIALIZED (
           |  SELECT ${zf.mkString(", ")},
           |    1.0 / (1.0 + exp(-$m)) - y AS err
           |  FROM $from),
           |it$tag$t AS MATERIALIZED (SELECT ${gs.mkString(",\n    ")}
           |  FROM e$tag$t),
           |w$tag$t AS MATERIALIZED (SELECT ${ws.mkString(",\n    ")}
           |  FROM $wFrom)""".stripMargin
      }
      s"""zl_$tag AS MATERIALIZED (
         |  SELECT doc_id, ${zf.mkString(", ")},
         |    CASE WHEN lang = '$lang' THEN 1.0 ELSE 0.0 END AS y
         |  FROM z),
         |${iterCtes.mkString(",\n")}""".stripMargin
    }
    val wN = (l: String) => s"w$l$LangIdIters"
    val scoreCols = langs.map { l =>
      val dot = zf.zipWithIndex
        .map { case (f, i) => s"coalesce(z.$f, 0.0) * ${wN(l)}.w$i" }
        .mkString("((", " + ", s") + ${wN(l)}.b)")
      s"$dot AS s_$l"
    }.mkString(",\n    ")
    val scoreUnion = langs.map(l =>
      s"SELECT doc_id, actual, '$l' AS p, s_$l AS s FROM scored")
      .mkString("\n  UNION ALL ")
    s"""marked AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    lower(text || CASE lang $sfxCases ELSE '' END) AS t
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, lang, unnest(list_transform(range(1, length(t)),
       |    i -> (ascii(substr(t, i, 1)) * 31
       |          + ascii(substr(t, i + 1, 1))) % $d)) AS b
       |  FROM marked),
       |feat AS MATERIALIZED (
       |  SELECT doc_id, lang, $fExprs
       |  FROM pos GROUP BY 1, 2),
       |st AS (SELECT $statExprs FROM feat),
       |z AS MATERIALIZED (
       |  SELECT doc_id, lang, $zExprs
       |  FROM feat, st),
       |${langs.map(l => chain(l, l)).mkString(",\n")},
       |scored AS MATERIALIZED (
       |  SELECT z.doc_id, z.lang AS actual,
       |    $scoreCols
       |  FROM z${langs.map(l => s", ${wN(l)}").mkString}),
       |ranked AS (
       |  SELECT doc_id, actual, p, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY s DESC, p) AS rn FROM (
       |  $scoreUnion)),
       |pred AS (SELECT doc_id, actual, p AS pred_lang
       |  FROM ranked WHERE rn = 1)""".stripMargin
  }

  private def langIdTrainSql: String = {
    val langs = LangIdMarkers.map(_._1)
    val confRows = langs.map { l =>
      s"""SELECT '$l' AS lang,
         |  CAST(sum(CASE WHEN actual = '$l' AND pred_lang = '$l'
         |    THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN actual <> '$l' AND pred_lang = '$l'
         |    THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN actual = '$l' AND pred_lang <> '$l'
         |    THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |FROM pred""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $langIdPredCtes,
       |conf AS (
       |$confRows)
       |SELECT lang, tp, fp, fn,
       |  CASE WHEN tp + fp = 0 THEN NULL
       |    ELSE (tp * 1000000) // (tp + fp) END AS precision_ppm,
       |  CASE WHEN tp + fn = 0 THEN NULL
       |    ELSE (tp * 1000000) // (tp + fn) END AS recall_ppm
       |FROM conf ORDER BY lang""".stripMargin
  }

  /** pl16: the pred prefix, the UN-lowercased marked corpus (the
    * quality/fingerprint image runs on the text the model scored, not
    * its lowered feature rendering), x2's quality replay, x1's
    * fingerprint, per-(lang, fp) canonical keeper via arg_min, and the
    * four-stage funnel rollup. */
  private def multilingualCurationSql: String = {
    val sfxCases = LangIdMarkers
      .map { case (l, m) => s"WHEN '$l' THEN '$m'" }.mkString(" ")
    s"""WITH $langIdPredCtes,
       |mdoc AS MATERIALIZED (
       |  SELECT doc_id, text || CASE lang $sfxCases ELSE '' END AS text
       |  FROM documents),
       |toked AS (SELECT doc_id, text, $toksSql AS toks FROM mdoc),
       |qm AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    ${punctRatioSql("text")} AS punct_ratio,
       |    ${stopRatioSql("toks")} AS stopword_ratio
       |  FROM toked),
       |q AS (
       |  SELECT doc_id, n_tokens,
       |    ${qualityOkSql("n_tokens", "punct_ratio", "stopword_ratio")}
       |      AS quality_ok
       |  FROM qm),
       |f AS (
       |  SELECT doc_id,
       |    sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       |  FROM mdoc),
       |per AS (
       |  SELECT p.doc_id, p.pred_lang, q.n_tokens, q.quality_ok, f.fp
       |  FROM pred p JOIN q USING (doc_id) JOIN f USING (doc_id)),
       |qual AS (SELECT * FROM per WHERE quality_ok),
       |keep AS (
       |  SELECT pred_lang, fp, arg_min(n_tokens, doc_id) AS kt
       |  FROM qual GROUP BY 1, 2)
       |SELECT d.pred_lang AS lang,
       |  d.n_docs,
       |  coalesce(nq.n_quality, 0) AS n_quality,
       |  coalesce(nk.n_unique, 0) AS n_unique,
       |  coalesce(nk.n_tokens_kept, 0) AS n_tokens_kept
       |FROM (SELECT pred_lang, count(*) AS n_docs FROM per GROUP BY 1) d
       |LEFT JOIN (SELECT pred_lang, count(*) AS n_quality
       |           FROM qual GROUP BY 1) nq USING (pred_lang)
       |LEFT JOIN (SELECT pred_lang, count(*) AS n_unique,
       |             CAST(sum(kt) AS BIGINT) AS n_tokens_kept
       |           FROM keep GROUP BY 1) nk USING (pred_lang)
       |ORDER BY lang""".stripMargin
  }

  /** One unrolled Viterbi DP pass of the x120/x121 replay: over the
    * `base` frame (word, wn, len, …), against the `costCte` (piece,
    * cost) vocabulary, positions 1..UniMaxWordLen. dp_j is the encoded
    * candidate min (totalCost·8 + lastPieceLen — integer min == min cost
    * then SHORTEST last piece, the operator's k-ascending strict-less
    * rule); s_j rebuilds the prefix segmentation string from the backrefs
    * in the same pass (DuckDB lateral aliases). `least` ignores NULL
    * candidates (k > j, absent multi-char pieces, j > len). Emits
    * useg$tag: (word, wn, seg). */
  private def unigramDpChain(tag: String, base: String,
                             costCte: String): String = {
    val w = UniMaxWordLen
    val kMaxAll = UniMaxPieceLen
    val ctes = (1 to w).map { j =>
      val kMax = math.min(j, kMaxAll)
      val joins = (1 to kMax).map(k =>
        s"LEFT JOIN $costCte c$k ON c$k.piece = substr(d.word, ${j - k + 1}, $k)")
        .mkString("\n  ")
      val cands = (1 to kMax).map { k =>
        val prev = if (j - k == 0) "0" else s"d.dp${j - k} // 8"
        val cost =
          if (k == 1) s"coalesce(c1.cost, $UniUnkCostMicro)" else s"c$k.cost"
        s"CASE WHEN d.len >= $j THEN ($prev + $cost) * 8 + $k END"
      }.mkString(",\n      ")
      val segs = (1 to kMax).map { k =>
        val piece = s"substr(d.word, ${j - k + 1}, $k)"
        val s = if (j - k == 0) piece else s"d.s${j - k} || chr(31) || $piece"
        s"WHEN $k THEN $s"
      }.mkString(" ")
      s"""ud$tag$j AS MATERIALIZED (
         |  SELECT d.*, least(
         |      $cands) AS dp$j,
         |    CASE dp$j % 8 $segs END AS s$j
         |  FROM ud$tag${j - 1} d
         |  $joins)""".stripMargin
    }.mkString(",\n")
    s"""ud${tag}0 AS (SELECT * FROM $base),
       |$ctes,
       |useg$tag AS MATERIALIZED (
       |  SELECT word, wn,
       |    CASE len ${(1 to w).map(j => s"WHEN $j THEN s$j").mkString(" ")}
       |    END AS seg
       |  FROM ud$tag$w)""".stripMargin
  }

  /** Micro-nat cost table from a (piece, cnt) frame: +1 smoothing, the
    * DSIR integer-lattice ln. */
  private def unigramCostCte(name: String, src: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT piece, cnt + 1 AS cnt,
       |    -CAST(round(ln((cnt + 1)::DOUBLE /
       |      (SELECT CAST(sum(cnt + 1) AS BIGINT) FROM $src)) * 1000000, 0)
       |      AS BIGINT) AS cost
       |  FROM $src)""".stripMargin

  /** The x120 fit replay up to the final cost table uc$UniEmIters: the
    * distinct-word frame, the substring seed with its frequency-top cut,
    * then per EM iteration one DP chain + exact recount + prune +
    * re-cost. */
  private def unigramFitCtes: String = {
    val k = UniMaxPieceLen
    val iters = (1 to UniEmIters).map { m =>
      s"""${unigramDpChain(s"$m", "uw", s"uc${m - 1}")},
         |ucnt$m AS (
         |  SELECT piece, CAST(sum(wn) AS BIGINT) AS cnt FROM (
         |    SELECT wn, unnest(string_split(seg, chr(31))) AS piece
         |    FROM useg$m) GROUP BY 1),
         |uv$m AS MATERIALIZED (
         |  SELECT v.piece, coalesce(c.cnt, 0) AS cnt
         |  FROM (SELECT piece FROM uc${m - 1}) v
         |  LEFT JOIN ucnt$m c USING (piece)
         |  WHERE length(v.piece) = 1 OR coalesce(c.cnt, 0) > 0),
         |${unigramCostCte(s"uc$m", s"uv$m")}""".stripMargin
    }.mkString(",\n")
    s"""uw AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS wn, length(word) AS len
       |  FROM (SELECT unnest($toksSql) AS word FROM documents)
       |  GROUP BY 1),
       |useed AS (
       |  SELECT piece, CAST(sum(wn) AS BIGINT) AS cnt FROM (
       |    SELECT wn, unnest(flatten(list_transform(range(1, len + 1),
       |      i -> list_transform(range(1, least($k, len - i + 1) + 1),
       |        q -> substr(word, i, q))))) AS piece
       |    FROM uw) GROUP BY 1),
       |uv0 AS MATERIALIZED (
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece)
       |      AS rk FROM useed WHERE length(piece) > 1)
       |  WHERE rk <= $UniMaxPieces
       |  UNION ALL
       |  SELECT piece, cnt FROM useed WHERE length(piece) = 1),
       |${unigramCostCte("uc0", "uv0")},
       |$iters""".stripMargin
  }

  private def unigramTrainSql: String =
    s"""WITH $unigramFitCtes
       |SELECT piece, cnt, cost AS cost_micro FROM uc$UniEmIters
       |ORDER BY piece""".stripMargin

  /** x121: the fit replay, one MORE DP chain under the FINAL costs (the
    * serve segments with the stored model, not the last E-step's), then
    * positional per-document assembly — per-word piece counts summed and
    * the sha256 over the unit-separator-joined pieces in token order. */
  private def unigramApplySql: String =
    s"""WITH $unigramFitCtes,
       |${unigramDpChain("a", "uw", s"uc$UniEmIters")},
       |dtok AS (
       |  SELECT doc_id, u.i AS pos, list_extract(toks, u.i + 1) AS word
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents) t,
       |    UNNEST(range(0, len(toks))) u(i)),
       |dseg AS (
       |  SELECT d.doc_id, d.pos, s.seg,
       |    CAST(len(string_split(s.seg, chr(31))) AS BIGINT) AS np
       |  FROM dtok d JOIN usega s USING (word))
       |SELECT d.doc_id,
       |  CAST(coalesce(sum(x.np), 0) AS BIGINT) AS n_pieces,
       |  sha256(coalesce(string_agg(x.seg, chr(31) ORDER BY x.pos), ''))
       |    AS piece_fp
       |FROM documents d LEFT JOIN dseg x USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The UTF-8 byte-token expansion of a piece expression `pc` —
    * `<0xNN>` per byte, chr(31)-joined (hex() on BLOB is uppercase,
    * matching the Spark side's %02X). */
  private def byteExpandSql(pc: String): String =
    s"""array_to_string(list_transform(range(0, octet_length(encode($pc))),
       |      b -> '<0x' || substr(hex(encode($pc)), 2*b + 1, 2) || '>'),
       |      chr(31))""".stripMargin

  /** x130: the fit replay, one DP chain over the DECORATED word frame,
    * vocab-membership per chosen piece, byte expansion of the misses,
    * positional doc assembly. all_covered is the SPEC side of the gate:
    * the oracle pins TRUE; a serve that leaks an unknown flips the
    * Spark column and fails the hash. */
  private def unigramByteFallbackSql: String =
    s"""WITH $unigramFitCtes,
       |sdocs AS (
       |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
       |    THEN text || '$FallbackDecor' ELSE text END AS text
       |  FROM documents),
       |sw AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS wn, length(word) AS len
       |  FROM (SELECT unnest($toksSql) AS word FROM sdocs)
       |  GROUP BY 1),
       |${unigramDpChain("f", "sw", s"uc$UniEmIters")},
       |fbp AS (
       |  SELECT q.word, q.ppos, q.pc, c.piece IS NOT NULL AS known
       |  FROM (
       |    SELECT s.word, u.i AS ppos,
       |      list_extract(string_split(s.seg, chr(31)), u.i + 1) AS pc
       |    FROM usegf s,
       |      UNNEST(range(0, len(string_split(s.seg, chr(31))))) u(i)) q
       |  LEFT JOIN uc$UniEmIters c ON c.piece = q.pc),
       |fbw AS MATERIALIZED (
       |  SELECT word,
       |    string_agg(CASE WHEN known THEN pc
       |      ELSE ${byteExpandSql("pc")} END, chr(31) ORDER BY ppos) AS seg,
       |    CAST(sum(CASE WHEN known THEN 1
       |      ELSE octet_length(encode(pc)) END) AS BIGINT) AS np,
       |    CAST(sum(CASE WHEN known THEN 0
       |      ELSE octet_length(encode(pc)) END) AS BIGINT) AS nf
       |  FROM fbp GROUP BY 1),
       |dtok AS (
       |  SELECT doc_id, u.i AS pos, list_extract(toks, u.i + 1) AS word
       |  FROM (SELECT doc_id, $toksSql AS toks FROM sdocs) t,
       |    UNNEST(range(0, len(toks))) u(i)),
       |dseg AS (
       |  SELECT d.doc_id, d.pos, f.seg, f.np, f.nf
       |  FROM dtok d JOIN fbw f USING (word))
       |SELECT d.doc_id,
       |  CAST(coalesce(sum(x.np), 0) AS BIGINT) AS n_pieces,
       |  CAST(coalesce(sum(x.nf), 0) AS BIGINT) AS n_fallback,
       |  TRUE AS all_covered,
       |  sha256(coalesce(string_agg(x.seg, chr(31) ORDER BY x.pos), ''))
       |    AS piece_fp
       |FROM sdocs d LEFT JOIN dseg x USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** x131: the training-chain replay (rules b1..bN over the train
    * corpus), the apply chain over the DECORATED corpus, the stored
    * alphabet's membership test (compounds are vocab members by
    * construction — rules never match unseen symbols), byte expansion
    * of the misses. */
  private def bpeByteFallbackSql: String = {
    val i = BpeApplyIters
    val applyChain = (1 to i).map { j =>
      s"""${bpeLeadCte(s"u$j", s"t${j - 1}")},
         |${bpeMergePassCtes(s"u$j", s"b$j", s"v$j", s"w$j", s"t$j")}"""
        .stripMargin
    }.mkString(",\n")
    s"""${bpeChainSql(i)},
       |sdocs AS (
       |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
       |    THEN text || '$FallbackDecor' ELSE text END AS text
       |  FROM documents),
       |toked_s AS (SELECT doc_id, $toksSql AS toks FROM sdocs),
       |t0 AS MATERIALIZED (
       |  SELECT doc_id AS id, u.i AS pos, list_extract(toks, u.i + 1) AS sym
       |  FROM toked_s, UNNEST(range(0, len(toks))) u(i)),
       |$applyChain,
       |alpha AS MATERIALIZED (
       |  SELECT DISTINCT unnest($toksSql) AS sym FROM documents),
       |fb AS MATERIALIZED (
       |  SELECT q.id, q.pos,
       |    CASE WHEN q.known THEN q.sym
       |      ELSE ${byteExpandSql("q.sym")} END AS xsym,
       |    CASE WHEN q.known THEN 1
       |      ELSE octet_length(encode(q.sym)) END AS np,
       |    CASE WHEN q.known THEN 0
       |      ELSE octet_length(encode(q.sym)) END AS nf
       |  FROM (SELECT s.id, s.pos, s.sym,
       |          (contains(s.sym, ' ') OR a.sym IS NOT NULL) AS known
       |        FROM t$i s LEFT JOIN alpha a ON a.sym = s.sym) q)
       |SELECT d.doc_id,
       |  CAST(coalesce(sum(x.np), 0) AS BIGINT) AS n_symbols,
       |  CAST(coalesce(sum(x.nf), 0) AS BIGINT) AS n_fallback,
       |  TRUE AS all_covered,
       |  sha256(coalesce(string_agg(x.xsym, chr(31) ORDER BY x.pos), ''))
       |    AS sym_fp
       |FROM sdocs d LEFT JOIN fb x ON d.doc_id = x.id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private def qualityScoresSql: String = {
    val dot = scoreDotSql
    s"""$qualityFeatureCtes,
       |scored AS (
       |  SELECT doc_id, round(1.0 / (1.0 + exp(-$dot)), 6) AS quality_score
       |  FROM z)
       |SELECT doc_id, quality_score, quality_score >= 0.5 AS quality_pass
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** Replays x95: the fixed scorer (x53's round-6 sigmoid) against x65's
    * rule label, confusion counts per threshold, precision/recall via
    * integer ppm floor-division — every emitted number is an exact
    * integer or the shared round-6 threshold double. */
  private def prCurveSql: String = {
    val dot = scoreDotSql
    val perTh = PrThresholds.map { th =>
      s"""SELECT CAST($th AS DOUBLE) AS threshold,
         |  CAST(sum(CASE WHEN sc >= $th AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN sc >= $th AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN sc < $th AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  CAST(sum(CASE WHEN sc < $th AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |FROM scored""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$qualityFeatureCtes,
       |scored AS (
       |  SELECT round(1.0 / (1.0 + exp(-$dot)), 6) AS sc,
       |    CASE WHEN m.n_tokens >= $FitMinTokens
       |      AND m.mean_token_len <= $FitMtlMax THEN 1 ELSE 0 END AS y
       |  FROM z JOIN m USING (doc_id)),
       |curve AS (
       |$perTh)
       |SELECT threshold, tp, fp, fn, tn,
       |  CASE WHEN tp + fp = 0 THEN NULL
       |    ELSE (tp * 1000000) // (tp + fp) END AS precision_ppm,
       |  CASE WHEN tp + fn = 0 THEN NULL
       |    ELSE (tp * 1000000) // (tp + fn) END AS recall_ppm
       |FROM curve ORDER BY threshold""".stripMargin
  }

  private def incrementalNearDupSql: String =
    incrementalNearDupSqlFor(s"doc_id % $IncrementalMod <> 0")

  /** The x39 screen replay with a pluggable index-side predicate — x79
    * screens against the PRUNED index, whose contents must equal the
    * surviving corpus's signatures (band rows are per-document). */
  private def incrementalNearDupSqlFor(idxPred: String): String =
    s"""WITH toked_new AS (
       |  SELECT doc_id AS id, $toksSql AS toks FROM documents
       |  WHERE doc_id % $IncrementalMod = 0),
       |toked_idx AS (
       |  SELECT doc_id AS id, $toksSql AS toks FROM documents
       |  WHERE $idxPred),
       |${minhashBandCtes("toked_new", "n")},
       |${minhashBandCtes("toked_idx", "i")},
       |pairs AS (
       |  SELECT DISTINCT n.id AS id_new, i.id AS id_idx
       |  FROM banded_n n JOIN banded_i i
       |    ON n.band = i.band AND n.bsig = i.bsig)
       |SELECT id_new, id_idx,
       |  round(len(list_distinct(list_intersect(ta.toks, tb.toks)))::DOUBLE
       |        / nullif(len(list_distinct(ta.toks || tb.toks)), 0), 4) AS jaccard
       |FROM pairs JOIN toked_new ta ON pairs.id_new = ta.id
       |           JOIN toked_idx tb ON pairs.id_idx = tb.id
       |WHERE round(len(list_distinct(list_intersect(ta.toks, tb.toks)))::DOUBLE
       |        / nullif(len(list_distinct(ta.toks || tb.toks)), 0), 4)
       |      >= $NearDupThreshold
       |ORDER BY id_new, id_idx""".stripMargin

  private def minhashSql: String =
    s"""WITH toked AS (
       |  SELECT doc_id AS id, $toksSql AS toks FROM documents),
       |${minhashPairCtes("toked")}
       |SELECT id_a, id_b, jaccard FROM jac
       |WHERE jaccard >= $NearDupThreshold ORDER BY id_a, id_b""".stripMargin

  /** x91: the x4 pair pipeline, projected to cross-source edges (both
    * directions, multiplicity preserved — UNION ALL), then the shared
    * integer-ppm PageRank recurrence over the 20-source graph. */
  private def sourceAuthoritySql: String =
    s"""WITH toked AS (
       |  SELECT doc_id AS id, $toksSql AS toks FROM documents),
       |${minhashPairCtes("toked")},
       |ndp AS (
       |  SELECT id_a, id_b FROM jac WHERE jaccard >= $NearDupThreshold),
       |srcs AS (SELECT doc_id AS id, source FROM documents),
       |e0 AS (
       |  SELECT sa.source AS src_a, sb.source AS src_b
       |  FROM ndp JOIN srcs sa ON ndp.id_a = sa.id
       |           JOIN srcs sb ON ndp.id_b = sb.id
       |  WHERE sa.source <> sb.source),
       |edges0 AS (
       |  SELECT src_a AS src, src_b AS dst FROM e0
       |  UNION ALL
       |  SELECT src_b AS src, src_a AS dst FROM e0),
       |nodes AS (SELECT DISTINCT source AS id FROM documents),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges0 GROUP BY 1),
       |edges AS MATERIALIZED (
       |  SELECT e.src, e.dst, d.outdeg FROM edges0 e JOIN deg d USING (src)),
       |${VectorQueries.pageRankIterCtes(AuthorityIters)}
       |SELECT id AS source, r AS rank_ppm FROM r$AuthorityIters
       |ORDER BY rank_ppm DESC, source""".stripMargin

  /** Connected components as a recursive CTE: `reach` enumerates every
    * (node, reachable-label) pair over the symmetric near-dup edge list —
    * set-semantics UNION terminates the recursion — and min(label) per node
    * is the component, exactly [[graft.operators.Dedup.connectedComponents]]'s
    * fixpoint. The edge set replays the x4 minhash pipeline via the shared
    * [[minhashPairCtes]] builder. */
  /** Replays x48 as FULL from-scratch clustering over every document
    * (the incremental path must land exactly here), singletons filled
    * with their own id. */
  private def incrementalClustersSql: String =
    s"""WITH RECURSIVE toked AS (
       |  SELECT doc_id AS id, $toksSql AS toks FROM documents),
       |${minhashPairCtes("toked")},
       |e AS (SELECT id_a, id_b FROM jac WHERE jaccard >= $NearDupThreshold),
       |sym AS (SELECT id_a AS s, id_b AS d FROM e
       |        UNION SELECT id_b AS s, id_a AS d FROM e),
       |reach AS (
       |  SELECT s AS id, s AS label FROM sym
       |  UNION
       |  SELECT sym.d AS id, r.label FROM reach r JOIN sym ON sym.s = r.id),
       |cc AS (SELECT id, min(label) AS component FROM reach GROUP BY id)
       |SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS component,
       |  (d.doc_id = coalesce(cc.component, d.doc_id)) AS is_canonical
       |FROM documents d LEFT JOIN cc ON d.doc_id = cc.id
       |ORDER BY d.doc_id""".stripMargin

  private def qualityCanonicalSql: String =
    s"""WITH RECURSIVE toked AS (
       |  SELECT doc_id AS id, $toksSql AS toks FROM documents),
       |${minhashPairCtes("toked")},
       |e AS (SELECT id_a, id_b FROM jac WHERE jaccard >= $NearDupThreshold),
       |sym AS (SELECT id_a AS s, id_b AS d FROM e
       |        UNION SELECT id_b AS s, id_a AS d FROM e),
       |reach AS (
       |  SELECT s AS id, s AS label FROM sym
       |  UNION
       |  SELECT sym.d AS id, r.label FROM reach r JOIN sym ON sym.s = r.id),
       |comp AS (SELECT id AS doc_id, min(label) AS component FROM reach GROUP BY id),
       |lab AS (
       |  SELECT t.id AS doc_id,
       |    COALESCE(comp.component, t.id) AS component,
       |    CAST(len(t.toks) AS BIGINT) AS n_tokens
       |  FROM toked t LEFT JOIN comp ON t.id = comp.doc_id),
       |keeper AS (
       |  SELECT component, doc_id AS keeper FROM (
       |    SELECT component, doc_id,
       |      row_number() OVER (PARTITION BY component
       |        ORDER BY n_tokens DESC, doc_id) AS rn
       |    FROM lab) WHERE rn = 1)
       |SELECT lab.doc_id, lab.component, lab.n_tokens,
       |  lab.doc_id = k.keeper AS keep
       |FROM lab JOIN keeper k USING (component) ORDER BY lab.doc_id""".stripMargin

  private def dedupClustersSql: String =
    s"""WITH RECURSIVE toked AS (
       |  SELECT doc_id AS id, $toksSql AS toks FROM documents),
       |${minhashPairCtes("toked")},
       |e AS (SELECT id_a, id_b FROM jac WHERE jaccard >= $NearDupThreshold),
       |sym AS (SELECT id_a AS s, id_b AS d FROM e
       |        UNION SELECT id_b AS s, id_a AS d FROM e),
       |reach AS (
       |  SELECT s AS id, s AS label FROM sym
       |  UNION
       |  SELECT sym.d AS id, r.label FROM reach r JOIN sym ON sym.s = r.id)
       |SELECT id AS doc_id, min(label) AS component,
       |  (id = min(label)) AS is_canonical
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  private def simhashSql: String = {
    val bits = (0 until TextOps.SimHashBits).map { j =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> $j) & 1)*2 - 1)) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH toked AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |hashed AS (
       |  SELECT doc_id, list_transform(list_distinct(toks), t -> ${md5h("t")}) AS hs
       |  FROM toked)
       |SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM hashed ORDER BY doc_id""".stripMargin
  }

  /** Quality-metric expressions over a text column and a toks list column —
    * the exact [[TextOps.qualityMetrics]] arithmetic; shared by the x2
    * oracle and the pl5 curation-pipeline oracle. */
  private[queries] def punctRatioSql(t: String): String =
    s"""round(length(regexp_replace($t, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
       |          / nullif(length($t), 0), 4)""".stripMargin
  private[queries] def stopRatioSql(toks: String): String = {
    val stop = TextOps.Stopwords.map(w => matchesSql(toks, w)).mkString("(", " + ", ")")
    s"round($stop::DOUBLE / nullif(len($toks), 0), 4)"
  }
  private[queries] def qualityOkSql(nTokens: String, punct: String, stop: String): String =
    s"""($nTokens >= 10 AND COALESCE($punct <= 0.05, false)
       | AND COALESCE($stop <= 0.5, false))""".stripMargin

  private def qualitySql: String =
    s"""WITH toked AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    ${punctRatioSql("text")} AS punct_ratio,
       |    ${stopRatioSql("toks")} AS stopword_ratio,
       |    round(length(regexp_replace(text, '\\s', '', 'g'))::DOUBLE
       |          / nullif(len(toks), 0), 4) AS mean_token_len
       |  FROM toked)
       |SELECT doc_id, n_tokens, punct_ratio, stopword_ratio, mean_token_len,
       |  ${qualityOkSql("n_tokens", "punct_ratio", "stopword_ratio")} AS quality_ok
       |FROM m ORDER BY doc_id""".stripMargin

  def oracles: Map[String, String] = Map(
    "x0_exact_dedup" ->
      """WITH fp AS (
        |  SELECT sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |    count(*) AS n, min(doc_id) AS keeper_doc_id
        |  FROM documents GROUP BY 1)
        |SELECT count(*) AS n_fingerprints, CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(sum(n - 1) AS BIGINT) AS n_redundant,
        |  min(keeper_doc_id) AS first_keeper
        |FROM fp""".stripMargin,
    "x1_fingerprint" ->
      """SELECT doc_id, sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x2_quality_metrics" -> qualitySql,
    "x9_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len($toksSql) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '${TextOps.BpePattern.replace("'", "''")}')) AS BIGINT)
         |    AS n_bpe_tokens,
         |  list_reduce(
         |    list_prepend(0::BIGINT,
         |      list_transform(range(1, length(text)+1),
         |        i -> ascii(substr(text, i, 1))::BIGINT)),
         |    (h, c) -> (h*31 + c) % ${TextOps.P}) AS rhash
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x3_lang_id" -> langIdSql,
    "x4_minhash_neardups" -> minhashSql,
    // x91: x4's pair pipeline → source-level edge projection → the
    // shared BIGINT-ppm PageRank chain (VectorQueries.pageRankIterCtes).
    "x91_source_authority" -> sourceAuthoritySql,
    "x39_incremental_neardups" -> incrementalNearDupSql,
    // x41 selects the identical pair set through the materialized index —
    // the oracle is the same replay (indexes are a plan property, not a
    // semantic one).
    "x41_indexed_screen" -> incrementalNearDupSql,
    // x79 screens against the pruned index ≡ the surviving corpus.
    "x79_band_delete" -> incrementalNearDupSqlFor(
      s"doc_id % $IncrementalMod <> 0 AND doc_id % $BandDeleteMod <> 0"),
    "pl8_nightly_ingest" -> nightlyIngestSql,
    "pl14_bloom_rotate" -> bloomRotateSql,
    "x110_sharded_bloom_rotate" -> shardedBloomRotateSql,
    "x111_bpe_batched" -> bpeBatchedSql,
    "x45_fuzzy_decontam" -> fuzzyDecontamSql,
    "x47_unicode_dedup" ->
      """WITH v AS (
        |  SELECT text || ' caf' || chr(233) AS text FROM documents
        |  UNION ALL
        |  SELECT text || ' cafe' || chr(769) AS text FROM documents)
        |SELECT count(*) AS n_rows,
        |  count(DISTINCT sha256(regexp_replace(lower(trim(text)),
        |    '\s+', ' ', 'g'))) AS n_raw_fp,
        |  count(DISTINCT sha256(regexp_replace(lower(trim(nfc_normalize(text))),
        |    '\s+', ' ', 'g'))) AS n_nfc_fp
        |FROM v""".stripMargin,
    "x46_heavy_tokens" ->
      s"""WITH t AS (SELECT unnest($toksSql) AS token FROM documents),
         |tot AS (SELECT count(*) AS n FROM t)
         |SELECT token, count(*) AS n_occurrences
         |FROM t GROUP BY 1
         |HAVING count(*) * ($HHCapacity + 1) > (SELECT n FROM tot)
         |ORDER BY token""".stripMargin,
    "x28_dedup_clusters" -> dedupClustersSql,
    "x69_quality_canonical" -> qualityCanonicalSql,
    "x48_incremental_clusters" -> incrementalClustersSql,
    "x49_quality_features" -> qualityFeaturesSql,
    "x58_filter_cascade" -> filterCascadeSql,
    "x53_quality_scores" -> qualityScoresSql,
    "x65_fit_classifier" -> fitClassifierSql,
    "x95_pr_curve" -> prCurveSql,
    "x119_langid_train" -> langIdTrainSql,
    "pl16_multilingual_curation" -> multilingualCurationSql,
    "x120_unigram_train" -> unigramTrainSql,
    "x121_unigram_apply" -> unigramApplySql,
    "x130_unigram_byte_fallback" -> unigramByteFallbackSql,
    "x131_bpe_byte_fallback" -> bpeByteFallbackSql,
    "x67_dedup_thresholds" -> {
      val perTh = DedupCurve.map { th =>
        s"""SELECT CAST($th AS DOUBLE) AS threshold,
           |  (SELECT count(*) FROM jac WHERE jaccard >= $th) AS n_pairs,
           |  (SELECT count(DISTINCT id) FROM (
           |     SELECT id_a AS id FROM jac WHERE jaccard >= $th
           |     UNION ALL
           |     SELECT id_b AS id FROM jac WHERE jaccard >= $th))
           |    AS n_docs_flagged""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH toked AS (SELECT doc_id AS id, $toksSql AS toks FROM documents),
         |${minhashPairCtes("toked")}
         |$perTh
         |ORDER BY threshold""".stripMargin
    },
    "x29_repetition_metrics" ->
      s"""WITH grams AS (
         |  SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN []
         |    ELSE list_transform(range(0, len(toks)-1),
         |      i -> concat_ws(' ', toks[i+1], toks[i+2])) END) AS g
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
         |counts AS (SELECT doc_id, g, count(*) AS n FROM grams GROUP BY 1,2)
         |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
         |  round(1 - count(*)::DOUBLE / sum(n), 4) AS dup_bigram_frac,
         |  round(max(n)::DOUBLE / sum(n), 4) AS top_bigram_frac
         |FROM counts GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x5_simhash" -> simhashSql,
    "x14_fuzzy_names" ->
      s"""WITH names AS (
         |  SELECT DISTINCT p_name AS name,
         |    string_split(p_name, ' ')[1] || '|' ||
         |      CAST(length(p_name) // 4 AS VARCHAR) AS blk
         |  FROM part)
         |SELECT a.name AS name_a, b.name AS name_b,
         |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
         |FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
         |WHERE levenshtein(a.name, b.name) <= $FuzzyMaxDist
         |ORDER BY 1, 2""".stripMargin,
    "x15_tfidf_top_term" ->
      s"""WITH docs AS (
         |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM docs GROUP BY 1,2),
         |df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM docs) GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    round(tf.tf * ln(n.n_docs::DOUBLE / df.df), 4) AS score
         |  FROM tf JOIN df USING (term), n),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term) AS rn
         |  FROM scored)
         |SELECT doc_id, term AS top_term, score FROM ranked WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,
    "x13_token_chunks" ->
      s"""WITH toked AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |chunks AS (
         |  SELECT doc_id, u.i AS chunk_index,
         |    list_slice(toks, u.i*$ChunkStep + 1, u.i*$ChunkStep + $ChunkTokens) AS chunk
         |  FROM toked, UNNEST(range(0, CASE WHEN len(toks) = 0 THEN 0
         |    ELSE ((len(toks)-1) // $ChunkStep) + 1 END)) u(i))
         |SELECT doc_id, chunk_index, CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
         |  sha256(array_to_string(chunk, ' ')) AS chunk_fp
         |FROM chunks ORDER BY doc_id, chunk_index""".stripMargin,
    "x12_chunk_neardups" ->
      s"""WITH $chunksCte
         |SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared_chunks
         |FROM chunks a JOIN chunks b ON a.ch = b.ch AND a.id < b.id
         |GROUP BY 1,2 HAVING count(*) >= $MinSharedChunks
         |ORDER BY 1,2""".stripMargin,
    "x16_ngram_jaccard" ->
      s"""WITH $chunksCte,
         |cand AS (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM chunks a JOIN chunks b ON a.ch = b.ch AND a.id < b.id
         |  GROUP BY 1,2 HAVING count(*) >= $MinSharedChunks),
         |grams AS (
         |  SELECT doc_id, CASE WHEN len(toks) < 2 THEN []
         |    ELSE list_transform(range(0, len(toks)-1),
         |      i -> concat_ws(' ', toks[i+1], toks[i+2])) END AS g
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents))
         |SELECT c.id_a, c.id_b,
         |  round(len(list_distinct(list_intersect(ga.g, gb.g)))::DOUBLE
         |    / nullif(len(list_distinct(ga.g || gb.g)), 0), 4) AS bigram_jaccard
         |FROM cand c JOIN grams ga ON c.id_a = ga.doc_id
         |            JOIN grams gb ON c.id_b = gb.doc_id
         |ORDER BY 1, 2""".stripMargin,
    "x34_span_dedup" -> spanDedupSql,
    "x97_substring_dedup" -> substringDedupSql,
    "x102_self_repetition" -> selfRepetitionSql,
    "x104_span_corruption" -> spanCorruptionSql,
    "x100_bpe_merges" -> bpeMergesSql,
    "x101_bpe_apply" -> bpeApplySql,
    // the local applier must land exactly where the declarative one does,
    // so it faces the identical replay
    "x105_bpe_apply_local" -> bpeApplySql,
    "x106_bpe_sampled" -> bpeSampledApplySql,
    // The Bloom screen is result-invisible (no false negatives; false
    // positives are removed by the exact confirm join), so the oracle is
    // the plain fingerprint anti-join the filter accelerates.
    "x99_bloom_admission" ->
      s"""WITH fps AS (
         |  SELECT doc_id,
         |    sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM documents),
         |arr AS (
         |  SELECT doc_id, fp FROM fps WHERE doc_id % $IncrementalMod = 0
         |  UNION ALL
         |  SELECT doc_id + $ReplayIdOffset AS doc_id, fp FROM fps
         |  WHERE doc_id % $IncrementalMod = 1)
         |SELECT a.doc_id, a.fp
         |FROM arr a
         |WHERE a.fp NOT IN (SELECT fp FROM fps WHERE doc_id % $IncrementalMod <> 0)
         |ORDER BY a.doc_id""".stripMargin,
    "x17_pii_scrub" ->
      s"""SELECT doc_id,
         |  CAST(length(scrubbed) AS BIGINT) AS scrub_len,
         |  sha256(scrubbed) AS scrub_fp
         |FROM (
         |  SELECT doc_id, regexp_replace(regexp_replace(
         |      text || ' contact' || CAST(doc_id AS VARCHAR) || '@example.com'
         |        || ' https://example.com/d/' || CAST(doc_id AS VARCHAR),
         |      '${TextOps.UrlPattern}', '<URL>', 'g'),
         |    '${TextOps.EmailPattern}', '<EMAIL>', 'g') AS scrubbed
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "x32_bigram_logprob" ->
      s"""WITH $bigramScoredCtes
         |SELECT doc_id, n_bigrams, avg_logp FROM scored ORDER BY doc_id""".stripMargin,
    // x133: the KN chain replayed — train-slice counts (token, forward-
    // type, continuation-type), the quarters discount, the smoothed
    // continuation denominator K, backoff, integer micro-nat sums.
    "x133_kn_perplexity" ->
      s"""WITH toked AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |grams AS (
         |  SELECT doc_id, doc_id % 2 = 0 AS train, ${md5h("g")} AS gh,
         |    ${md5h("string_split(g, ' ')[1]")} AS wh,
         |    ${md5h("string_split(g, ' ')[2]")} AS w2h
         |  FROM (
         |    SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN []
         |      ELSE list_transform(range(0, len(toks)-1),
         |        i -> concat_ws(' ', toks[i+1], toks[i+2])) END) AS g
         |    FROM toked)),
         |tg AS MATERIALIZED (SELECT * FROM grams WHERE train),
         |bi AS (SELECT gh, count(*) AS c12 FROM tg GROUP BY 1),
         |heads AS (
         |  SELECT wh, count(*) AS c1, count(DISTINCT gh) AS fwd
         |  FROM tg GROUP BY 1),
         |conts AS (SELECT w2h, count(DISTINCT gh) AS cont FROM tg GROUP BY 1),
         |kk AS MATERIALIZED (
         |  SELECT (SELECT count(DISTINCT gh) FROM tg)
         |    + (SELECT count(DISTINCT ${md5h("w")}) FROM (
         |        SELECT unnest(toks) AS w FROM toked WHERE doc_id % 2 = 0))
         |    + 1 AS k),
         |kscored AS (
         |  SELECT g.doc_id,
         |    CAST(round(ln(
         |      CASE WHEN coalesce(h.c1, 0) = 0
         |        THEN (coalesce(c.cont, 0) + 1)::DOUBLE / kk.k
         |        ELSE (greatest(4 * coalesce(b.c12, 0) - 3, 0) * kk.k
         |              + 3 * h.fwd * (coalesce(c.cont, 0) + 1))::DOUBLE
         |          / (4 * h.c1 * kk.k)
         |      END) * 1000000, 0) AS BIGINT) AS mnat
         |  FROM grams g
         |  LEFT JOIN bi b USING (gh)
         |  LEFT JOIN heads h USING (wh)
         |  LEFT JOIN conts c USING (w2h)
         |  CROSS JOIN kk)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(mnat) AS BIGINT) AS kn_mnats
         |FROM kscored GROUP BY 1 ORDER BY 1""".stripMargin,
    "x31_vocab_stats" ->
      s"""WITH toked AS (SELECT unnest($toksSql) AS tok FROM documents),
         |freqs AS (SELECT tok, count(*) AS f FROM toked GROUP BY 1),
         |stats AS (
         |  SELECT CAST(sum(f) AS BIGINT) AS n_tokens, count(*) AS n_types,
         |    CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
         |  FROM freqs),
         |top AS (SELECT tok AS top_tok, f AS top_f FROM freqs
         |  ORDER BY f DESC, tok DESC LIMIT 1)
         |SELECT * FROM stats, top""".stripMargin
  )

  /** Replays [[graft.operators.TextOps.spanDedup]]: non-overlapping
    * 8-token spans, 60-bit span hashes, distinct-doc boilerplate count,
    * positional reassembly via `string_agg(... ORDER BY pos)` (string_agg
    * skips the NULLs the kept-span CASE emits, exactly as Spark's
    * collect_list does). */
  private def spanDedupSql: String = {
    val w = SpanTokens
    s"""WITH toked AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |spans AS (
       |  SELECT doc_id, u.i AS pos,
       |    array_to_string(list_slice(toks, u.i*$w + 1, u.i*$w + $w), ' ') AS span,
       |    len(list_slice(toks, u.i*$w + 1, u.i*$w + $w)) AS ntk
       |  FROM toked, UNNEST(range(0, CASE WHEN len(toks) = 0 THEN 0
       |    ELSE ((len(toks)-1) // $w) + 1 END)) u(i)),
       |shared AS (
       |  SELECT ${md5h("span")} AS spanh FROM spans
       |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= $SpanMinDocs),
       |marked AS (
       |  SELECT s.doc_id, s.pos, s.span, s.ntk, sh.spanh IS NOT NULL AS boiler
       |  FROM spans s LEFT JOIN shared sh ON ${md5h("s.span")} = sh.spanh),
       |agg AS (
       |  SELECT d.doc_id,
       |    count(m.pos) AS n_spans,
       |    coalesce(sum(CASE WHEN m.boiler THEN 1 ELSE 0 END), 0) AS n_dropped,
       |    coalesce(sum(CASE WHEN NOT m.boiler THEN m.ntk END), 0) AS n_clean_tokens,
       |    coalesce(string_agg(CASE WHEN NOT m.boiler THEN m.span END, ' '
       |      ORDER BY m.pos), '') AS clean_text
       |  FROM documents d LEFT JOIN marked m ON d.doc_id = m.doc_id
       |  GROUP BY 1)
       |SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
       |  CAST(n_dropped AS BIGINT) AS n_dropped,
       |  CAST(n_clean_tokens AS BIGINT) AS n_clean_tokens,
       |  sha256(clean_text) AS clean_fp
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  /** Replays [[graft.operators.TextOps.selfRepetitionDedup]]:
    * [[substringDedupSql]]'s machinery pointed inward — the flag set is
    * "windows whose (doc, hash) already occurred at a smaller position in
    * the SAME doc", everything else identical. */
  private def selfRepetitionSql: String = {
    val w = RepWindowTokens
    s"""WITH toked AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |wins AS (
       |  SELECT doc_id, u.i AS pos,
       |    ${md5h(s"array_to_string(list_slice(toks, u.i + 1, u.i + $w), ' ')")} AS spanh
       |  FROM toked, UNNEST(range(0, CASE WHEN len(toks) >= $w
       |    THEN len(toks) - $w + 1 ELSE 0 END)) u(i)),
       |firsts AS (
       |  SELECT doc_id, spanh, min(pos) AS minpos FROM wins GROUP BY 1, 2),
       |dropped AS (
       |  SELECT DISTINCT win.doc_id, u2.j AS tpos
       |  FROM (SELECT w2.doc_id, w2.pos FROM wins w2
       |        JOIN firsts f ON w2.doc_id = f.doc_id AND w2.spanh = f.spanh
       |          AND w2.pos > f.minpos) win,
       |    UNNEST(range(win.pos, win.pos + $w)) u2(j)),
       |tokrows AS (
       |  SELECT doc_id, u.i AS tpos, list_extract(toks, u.i + 1) AS tok
       |  FROM toked, UNNEST(range(0, len(toks))) u(i)),
       |agg AS (
       |  SELECT d.doc_id,
       |    count(t.tpos) AS n_tokens,
       |    coalesce(sum(CASE WHEN dr.tpos IS NOT NULL THEN 1 ELSE 0 END), 0)
       |      AS n_dropped_tokens,
       |    coalesce(string_agg(CASE WHEN dr.tpos IS NULL THEN t.tok END, ' '
       |      ORDER BY t.tpos), '') AS clean_text
       |  FROM documents d
       |  LEFT JOIN tokrows t ON d.doc_id = t.doc_id
       |  LEFT JOIN dropped dr ON t.doc_id = dr.doc_id AND t.tpos = dr.tpos
       |  GROUP BY 1)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(n_dropped_tokens AS BIGINT) AS n_dropped_tokens,
       |  CAST(n_tokens - n_dropped_tokens AS BIGINT) AS n_clean_tokens,
       |  sha256(clean_text) AS clean_fp
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  /** Replays [[graft.operators.TextOps.spanCorruption]]: hash-driven span
    * starts, interval fan-out to masked positions, gaps-and-islands run
    * ids (runid = pos − rank, non-decreasing, so dense_rank over it is
    * the run order), sentinel-rewritten input, sentinel-interleaved
    * target with the terminator sentinel. */
  private def spanCorruptionSql: String = {
    val len = SpanCorrLen
    val mod = SpanCorrMod
    s"""WITH toked AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tokrows AS (
       |  SELECT doc_id, u.i AS tpos, list_extract(toks, u.i + 1) AS tok
       |  FROM toked, UNNEST(range(0, len(toks))) u(i)),
       |starts AS (
       |  SELECT doc_id, tpos FROM tokrows
       |  WHERE ${md5h(s"doc_id || ':' || tpos")} % $mod = 0),
       |masked AS (
       |  SELECT DISTINCT s.doc_id, u2.j AS tpos
       |  FROM starts s, UNNEST(range(s.tpos, s.tpos + $len)) u2(j)),
       |m AS (
       |  SELECT t.doc_id, t.tpos, t.tok, (mk.tpos IS NOT NULL) AS msk
       |  FROM tokrows t LEFT JOIN masked mk
       |    ON t.doc_id = mk.doc_id AND t.tpos = mk.tpos),
       |runsrc AS (
       |  SELECT *,
       |    CASE WHEN msk THEN tpos - row_number()
       |      OVER (PARTITION BY doc_id, msk ORDER BY tpos) END AS runid,
       |    coalesce(lag(msk) OVER (PARTITION BY doc_id ORDER BY tpos),
       |      false) AS prevmsk
       |  FROM m),
       |runk AS (
       |  SELECT *,
       |    CASE WHEN msk THEN dense_rank()
       |      OVER (PARTITION BY doc_id, msk ORDER BY runid) - 1 END AS k,
       |    (msk AND NOT prevmsk) AS runstart
       |  FROM runsrc),
       |agg AS (
       |  SELECT doc_id,
       |    count(*) AS n_tokens,
       |    coalesce(sum(CASE WHEN msk THEN 1 ELSE 0 END), 0) AS n_masked,
       |    coalesce(max(k) + 1, 0) AS n_spans,
       |    coalesce(string_agg(
       |      CASE WHEN NOT msk THEN tok
       |           WHEN runstart THEN '<extra_id_' || k || '>' END,
       |      ' ' ORDER BY tpos), '') AS input_text,
       |    string_agg(
       |      CASE WHEN runstart THEN '<extra_id_' || k || '> ' || tok
       |           WHEN msk THEN tok END,
       |      ' ' ORDER BY tpos) AS tgt
       |  FROM runk GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(a.n_masked, 0) AS BIGINT) AS n_masked,
       |  CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
       |  sha256(coalesce(a.input_text, '')) AS input_fp,
       |  sha256(CASE WHEN a.tgt IS NOT NULL THEN a.tgt || ' ' ELSE '' END
       |    || '<extra_id_' || coalesce(a.n_spans, 0) || '>') AS target_fp
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Replays [[graft.operators.BpeTrainer.learnMerges]] as an unrolled
    * MATERIALIZED CTE chain (the x65 lesson: without MATERIALIZED, DuckDB
    * inlines every CTE reference and the plan re-expands exponentially in
    * the iteration count). Per iteration i over the rewritten corpus
    * s(i-1):
    *   n_i: next-symbol + per-symbol rank (for the gaps-and-islands run
    *        id pos − rank, constant within a maximal same-symbol run);
    *   p_i/b_i: adjacent-pair counts and the argmax (ties lexicographic);
    *   f_i: greedy merge starts — when the pair is a symbol with itself,
    *        only odd in-run ranks start a merge;
    *   g_i: a row is consumed iff its predecessor started a merge;
    *   s_i: survivors re-numbered, merge starts rewritten to "a b". */
  private def bpeMergesSql: String = bpeMergesSql(BpeIters)

  /** The apply gate's oracle: replay the training chain to derive the
    * same rules, then summarize the final corpus s<iters> per document —
    * symbol count plus sha256 over the unit-separator-joined sequence. */
  private def bpeApplySql: String = {
    val i = BpeApplyIters
    s"""${bpeChainSql(i)}
       |SELECT d.doc_id,
       |  CAST(count(s.pos) AS BIGINT) AS n_symbols,
       |  sha256(coalesce(string_agg(s.sym, chr(31) ORDER BY s.pos), ''))
       |    AS sym_fp
       |FROM documents d LEFT JOIN s$i s ON d.doc_id = s.id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private def bpeMergesSql(iters: Int): String = {
    val union = (1 to iters).map(i => s"SELECT * FROM r$i").mkString(" UNION ALL ")
    s"""${bpeChainSql(iters)}
       |SELECT it, sym_a, sym_b, pair_n, n_merged FROM ($union) ORDER BY it""".stripMargin
  }

  /** The x106 oracle: replay the training chain over EXACTLY the sampled
    * slice (the stratifiedSample hash coin in SQL), then apply the learned
    * per-iteration winners b1..b<iters> to the FULL corpus through the
    * same greedy-merge CTE machinery, and summarize per document. Both
    * sides of the production boundary are replayed — rules derived from
    * the sample, serving over everything. */
  /** The lead/in-symbol-rank CTE every merge pass starts from. */
  private def bpeLeadCte(name: String, src: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT id, pos, sym,
       |    lead(sym) OVER (PARTITION BY id ORDER BY pos) AS nsym,
       |    row_number() OVER (PARTITION BY id, sym ORDER BY pos) AS rnsym
       |  FROM $src)""".stripMargin

  /** One greedy merge pass applied to a prepared lead relation, as three
    * CTEs — THE shared machinery of every BPE oracle (x100/x101/x105/
    * x106): mstart vs the 1-row rule relation (self-pairs merge at odd
    * in-run ranks — the gaps-and-islands arithmetic exists exactly
    * once), consumed = predecessor merged, survivors re-numbered and
    * rewritten into `out`. */
  private def bpeMergePassCtes(leadRel: String, ruleRel: String,
                               flag: String, cons: String,
                               out: String): String =
    s"""$flag AS MATERIALIZED (
       |  SELECT n.id, n.pos, n.sym, n.nsym,
       |    n.sym = b.a AND n.nsym = b.b AND (b.a <> b.b OR
       |      (row_number() OVER (PARTITION BY n.id, n.sym, n.pos - n.rnsym
       |                          ORDER BY n.pos)) % 2 = 1) AS mstart
       |  FROM $leadRel n CROSS JOIN $ruleRel b),
       |$cons AS MATERIALIZED (
       |  SELECT id, pos, sym, nsym, mstart,
       |    coalesce(lag(mstart) OVER (PARTITION BY id ORDER BY pos),
       |             false) AS consumed
       |  FROM $flag),
       |$out AS MATERIALIZED (
       |  SELECT id, row_number() OVER (PARTITION BY id ORDER BY pos) AS pos,
       |    CASE WHEN mstart THEN sym || ' ' || nsym ELSE sym END AS sym
       |  FROM $cons WHERE NOT consumed)""".stripMargin

  private def bpeSampledApplySql: String = {
    val i = BpeApplyIters
    val samplePred =
      s"WHERE ${md5h("CAST(doc_id AS VARCHAR)")} % $BpeSampleBuckets" +
        s" < $BpeSamplePerMille"
    val applyChain = (1 to i).map { j =>
      s"""${bpeLeadCte(s"u$j", s"t${j - 1}")},
         |${bpeMergePassCtes(s"u$j", s"b$j", s"v$j", s"w$j", s"t$j")}"""
        .stripMargin
    }.mkString(",\n")
    s"""${bpeChainSql(i, samplePred)},
       |toked_full AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |t0 AS MATERIALIZED (
       |  SELECT doc_id AS id, u.i AS pos, list_extract(toks, u.i + 1) AS sym
       |  FROM toked_full, UNNEST(range(0, len(toks))) u(i)),
       |$applyChain
       |SELECT d.doc_id,
       |  CAST(count(s.pos) AS BIGINT) AS n_symbols,
       |  sha256(coalesce(string_agg(s.sym, chr(31) ORDER BY s.pos), ''))
       |    AS sym_fp
       |FROM documents d LEFT JOIN t$i s ON d.doc_id = s.id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** x111: replay the BATCHED recurrence — per scan, pair counts get a
    * deterministic rank (count desc, lexicographic), the non-interacting
    * selection is an unrolled cascade (slot k = the lowest-ranked pair
    * sharing no symbol with slots 1..k−1), and the merge pass is the
    * shared machinery generalized to a LEFT JOIN against the slot
    * relation (each row matches ≤1 rule; non-interaction keeps merge
    * starts of different rules non-adjacent, so consumed = lag(mstart)
    * stays exact). Scan 2 runs over scan 1's rewritten corpus. */
  private def bpeBatchedSql: String = {
    val n = BpeBatchN
    val chain = (1 to BpeBatchScans).map { i =>
      val sels = (1 to n).map { k =>
        val prev =
          if (k == 1) "SELECT NULL AS a, NULL AS b WHERE false"
          else (1 until k).map(j => s"SELECT a, b FROM q${i}_$j")
            .mkString(" UNION ALL ")
        s"""q${i}_$k AS MATERIALIZED (
           |  SELECT a, b, c FROM p$i p
           |  WHERE p.rk = (SELECT min(p2.rk) FROM p$i p2
           |    WHERE NOT EXISTS (SELECT 1 FROM ($prev) s
           |      WHERE p2.a IN (s.a, s.b, s.a || ' ' || s.b)
           |         OR p2.b IN (s.a, s.b, s.a || ' ' || s.b))))"""
          .stripMargin
      }.mkString(",\n")
      val slots = (1 to n).map(k => s"SELECT $k AS slot, a, b, c FROM q${i}_$k")
        .mkString(" UNION ALL ")
      s"""${bpeLeadCte(s"n$i", s"s${i - 1}")},
         |pc$i AS MATERIALIZED (
         |  SELECT sym AS a, nsym AS b, count(*) AS c FROM n$i
         |  WHERE nsym IS NOT NULL GROUP BY 1, 2),
         |p$i AS MATERIALIZED (
         |  SELECT a, b, c, row_number() OVER (ORDER BY c DESC, a, b) AS rk
         |  FROM pc$i),
         |$sels,
         |b$i AS MATERIALIZED ($slots),
         |f$i AS MATERIALIZED (
         |  SELECT n.id, n.pos, n.sym, n.nsym,
         |    b.a IS NOT NULL AND (b.a <> b.b OR
         |      (row_number() OVER (PARTITION BY n.id, n.sym, n.pos - n.rnsym
         |                          ORDER BY n.pos)) % 2 = 1) AS mstart
         |  FROM n$i n LEFT JOIN b$i b ON n.sym = b.a AND n.nsym = b.b),
         |g$i AS MATERIALIZED (
         |  SELECT id, pos, sym, nsym, mstart,
         |    coalesce(lag(mstart) OVER (PARTITION BY id ORDER BY pos), false)
         |      AS consumed
         |  FROM f$i),
         |s$i AS MATERIALIZED (
         |  SELECT id, row_number() OVER (PARTITION BY id ORDER BY pos) AS pos,
         |    CASE WHEN mstart THEN sym || ' ' || nsym ELSE sym END AS sym
         |  FROM g$i WHERE NOT consumed),
         |r$i AS (
         |  SELECT $i AS scan, b.slot, b.a AS sym_a, b.b AS sym_b,
         |    b.c AS pair_n,
         |    (SELECT count(*) FROM g$i g
         |     WHERE g.mstart AND g.sym = b.a AND g.nsym = b.b) AS n_merged
         |  FROM b$i b)""".stripMargin
    }.mkString(",\n")
    val union = (1 to BpeBatchScans).map(i => s"SELECT * FROM r$i")
      .mkString(" UNION ALL ")
    s"""WITH toked AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |s0 AS MATERIALIZED (
       |  SELECT doc_id AS id, u.i AS pos, list_extract(toks, u.i + 1) AS sym
       |  FROM toked, UNNEST(range(0, len(toks))) u(i)),
       |$chain
       |SELECT scan, slot, sym_a, sym_b, CAST(pair_n AS BIGINT) AS pair_n,
       |  CAST(n_merged AS BIGINT) AS n_merged
       |FROM ($union) ORDER BY scan, slot""".stripMargin
  }

  private def bpeChainSql(iters: Int, where: String = ""): String = {
    val chain = (1 to iters).map { i =>
      s"""${bpeLeadCte(s"n$i", s"s${i - 1}")},
         |b$i AS MATERIALIZED (
         |  SELECT sym AS a, nsym AS b, count(*) AS c FROM n$i
         |  WHERE nsym IS NOT NULL
         |  GROUP BY 1, 2 ORDER BY c DESC, a, b LIMIT 1),
         |${bpeMergePassCtes(s"n$i", s"b$i", s"f$i", s"g$i", s"s$i")},
         |r$i AS (
         |  SELECT $i AS it, a AS sym_a, b AS sym_b, c AS pair_n,
         |    (SELECT count(*) FROM g$i WHERE mstart) AS n_merged
         |  FROM b$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH toked AS (SELECT doc_id, $toksSql AS toks FROM documents $where),
       |s0 AS MATERIALIZED (
       |  SELECT doc_id AS id, u.i AS pos, list_extract(toks, u.i + 1) AS sym
       |  FROM toked, UNNEST(range(0, len(toks))) u(i)),
       |$chain""".stripMargin
  }

  /** Replays [[graft.operators.TextOps.substringDedup]]: SLIDING 8-token
    * windows (positions 0..n−W), 60-bit window hashes, distinct-doc
    * boilerplate count, token-interval union via UNNEST(range(pos,
    * pos+W)) + DISTINCT, token-level left join, positional reassembly. */
  private def substringDedupSql: String = {
    val w = SubstrTokens
    s"""WITH toked AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |wins AS (
       |  SELECT doc_id, u.i AS pos,
       |    ${md5h(s"array_to_string(list_slice(toks, u.i + 1, u.i + $w), ' ')")} AS spanh
       |  FROM toked, UNNEST(range(0, CASE WHEN len(toks) >= $w
       |    THEN len(toks) - $w + 1 ELSE 0 END)) u(i)),
       |shared AS (
       |  SELECT spanh FROM wins
       |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= $SubstrMinDocs),
       |dropped AS (
       |  SELECT DISTINCT win.doc_id, u2.j AS tpos
       |  FROM (SELECT w2.doc_id, w2.pos FROM wins w2
       |        JOIN shared sh ON w2.spanh = sh.spanh) win,
       |    UNNEST(range(win.pos, win.pos + $w)) u2(j)),
       |tokrows AS (
       |  SELECT doc_id, u.i AS tpos, list_extract(toks, u.i + 1) AS tok
       |  FROM toked, UNNEST(range(0, len(toks))) u(i)),
       |agg AS (
       |  SELECT d.doc_id,
       |    count(t.tpos) AS n_tokens,
       |    coalesce(sum(CASE WHEN dr.tpos IS NOT NULL THEN 1 ELSE 0 END), 0)
       |      AS n_dropped_tokens,
       |    coalesce(string_agg(CASE WHEN dr.tpos IS NULL THEN t.tok END, ' '
       |      ORDER BY t.tpos), '') AS clean_text
       |  FROM documents d
       |  LEFT JOIN tokrows t ON d.doc_id = t.doc_id
       |  LEFT JOIN dropped dr ON t.doc_id = dr.doc_id AND t.tpos = dr.tpos
       |  GROUP BY 1)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(n_dropped_tokens AS BIGINT) AS n_dropped_tokens,
       |  CAST(n_tokens - n_dropped_tokens AS BIGINT) AS n_clean_tokens,
       |  sha256(clean_text) AS clean_fp
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  /** Shared chunk-hash CTE (x12 candidate generation, reused by x16). */
  private def chunksCte: String =
    s"""chunks AS (
       |  SELECT DISTINCT doc_id AS id, ${md5h("u.c")} AS ch
       |  FROM documents,
       |    UNNEST(list_transform(range(0, ((length(text)-1) // $ChunkSize) + 1),
       |      i -> substr(text, i*$ChunkSize + 1, $ChunkSize))) u(c)
       |  WHERE length(text) > 0)""".stripMargin
}
