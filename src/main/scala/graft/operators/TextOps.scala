package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftCache

/** Text-analysis operators for large-scale training-data pipelines (engine
  * extension beyond the reference — SURVEY.md §7.5(8)): tokenization, token
  * counting, language-ID heuristic, quality scoring, fingerprinting, and the
  * MinHash/SimHash machinery used by the dedup suite.
  *
  * Everything here is pure Catalyst expressions (split/transform/aggregate
  * higher-order functions) — no UDFs — so the whole suite stays inside
  * whole-stage codegen and scales linearly with input partitions: per-doc
  * work only, no driver-side loops. The only shuffles in the dedup paths are
  * the LSH band group-bys, which is the point of LSH.
  *
  * Hash constants are shared with the DuckDB oracle generators in
  * `graft.queries.TextQueries` so both engines compute identical signatures.
  */
object TextOps {

  /** Whitespace tokenization of lowercased, trimmed text; empty text → empty
    * array (plain `split` would yield `[""]`). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array())
      .otherwise(split(lower(trim(text)), "\\s+"))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** SentencePiece's BYTE-FALLBACK alphabet rendering: one `<0xNN>`
    * token per UTF-8 byte of an out-of-vocabulary piece. The 256 byte
    * tokens are a CLOSED alphabet every serve-side consumer reserves
    * ids for, so a tokenizer with fallback has zero UNKs by
    * construction — any character in any script decomposes into known
    * symbols. Shared by the unigram and BPE serve paths (the x130/x131
    * coverage gates). */
  def byteFallbackTokens(piece: String): Seq[String] =
    piece.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .toIndexedSeq.map(b => f"<0x${b & 0xff}%02X>")

  /** Membership test for the fallback alphabet's rendering. */
  def isByteFallbackToken(t: String): Boolean =
    t.length == 6 && t.startsWith("<0x") && t.endsWith(">") &&
      t.substring(3, 5).forall(c => (c >= '0' && c <= '9') || (c >= 'A' && c <= 'F'))

  /** BPE-ish subword tokenization: a GPT-2-style regex split into
    * contraction suffixes, space-prefixed letter runs, digit runs, and
    * punctuation runs — deliberately lookahead-free so Java regex (Spark)
    * and RE2 (DuckDB/most engines) agree. */
  val BpePattern = "'[A-Za-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+"
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** Polynomial rolling hash of the whole text (Rabin-Karp base 31 mod P):
    * h ← (h*31 + codepoint) per character, left to right. The chunk-level
    * dedup key for shift-tolerant fingerprinting; `aggregate` is a
    * sequential left fold, so DuckDB's `list_reduce` computes the identical
    * value. Empty text hashes to 0. */
  def rollingHash(text: Column): Column =
    when(length(text) === 0, lit(0L)).otherwise(
      aggregate(
        transform(sequence(lit(1), length(text)),
          i => ascii(substr(text, i, lit(1))).cast("long")),
        lit(0L), (h, c) => (h * 31 + c) % P))

  /** Whole-table rolling hashes via the codegen'd
    * [[graft.functions.RollingHash]] expression — a tight per-char loop,
    * linear per document, no explode/shuffle/length cap. (An earlier
    * explode+aggregate form paid the regex engine per character through
    * `split(text, "")` — seconds per million chars; the [[rollingHash]]
    * HOF fold is O(n²) per doc from `substr` seeks. Per-char work is the
    * one shape that genuinely needs a custom expression.)
    * Returns (id, rhash). */
  def rollingHashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    df.select(col(idCol).as("id"),
      coalesce(
        ColumnBridge.column(graft.functions.RollingHash(
          ColumnBridge.expression(col(textCol)))),
        lit(0L)).as("rhash"))
  }

  /** Hashed character-bigram relative-frequency features — the fastText
    * feature shape for the trained language-ID gate (x119): per document,
    * f_d = |bigrams hashing to bucket d| / |bigrams| over the LOWERCASED
    * text, bucket = (cp₁·31 + cp₂) mod `buckets`. The counting pass is
    * the codegen'd [[graft.functions.CharBigramBuckets]] (per-char work —
    * the [[rollingHashes]] precedent); the ratios are exact int/int
    * divisions, so the oracle's positional replay is bit-identical.
    * Documents with fewer than two characters have no bigrams and are
    * dropped (both engines). Returns (idCol, carry…, f0..f{buckets-1}). */
  def hashedCharBigramFeatures(docs: DataFrame, idCol: String,
                               textCol: String, buckets: Int,
                               carry: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val counts = ColumnBridge.column(graft.functions.CharBigramBuckets(
      ColumnBridge.expression(lower(col(textCol))), buckets))
    docs.select((col(idCol) +: carry.map(col)) :+ counts.as("__c"): _*)
      .withColumn("__n", aggregate(col("__c"), lit(0L), _ + _))
      .filter(col("__n") > 0)
      .select((col(idCol) +: carry.map(col)) ++
        (0 until buckets).map(d =>
          (element_at(col("__c"), d + 1).cast("double") / col("__n"))
            .as(s"f$d")): _*)
  }

  /** Count of tokens exactly equal to `word`. */
  def tokenMatches(toks: Column, word: String): Column =
    size(filter(toks, t => t === word))

  /** Language-ID marker words: per language, three high-frequency function
    * words; the predicted language is the argmax of summed token matches,
    * ties broken in declaration order (en, de, es, fr). A deliberately simple
    * deterministic n-gram-style heuristic — SQL-expressible for the oracle. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "die"),
    "es" -> Seq("el", "que", "los"),
    "fr" -> Seq("le", "et", "les"))

  def langScores(toks: Column): Seq[(String, Column)] =
    LangMarkers.map { case (lang, words) =>
      lang -> words.map(w => tokenMatches(toks, w)).reduce(_ + _)
    }

  /** Argmax with first-declared tie-break: label_i wins if its score >= all
    * later scores (scores are >= 0 so the first max wins). */
  def argmaxFirst(scores: Seq[(String, Column)]): Column = {
    val cols = scores.map(_._2)
    scores.zipWithIndex.init.foldRight(lit(scores.last._1)) {
      case (((label, score), i), elseCol) =>
        when(cols.drop(i + 1).map(score >= _).reduce(_ && _), label).otherwise(elseCol)
    }
  }

  def predictedLang(toks: Column): Column = argmaxFirst(langScores(toks))

  /** Quality metrics (length / punctuation / stopword ratios + mean token
    * length), each an exact integer ratio so rounding is oracle-stable. */
  val Stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def punctChars(text: Column): Column =
    length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))

  def qualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("__toks", tokens(t))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
      .withColumn("punct_ratio",
        round(punctChars(t).cast("double") / nullif(length(t), lit(0)), 4))
      .withColumn("stopword_ratio",
        round(Stopwords.map(w => tokenMatches(col("__toks"), w)).reduce(_ + _).cast("double")
          / nullif(col("n_tokens"), lit(0L)), 4))
      .withColumn("mean_token_len",
        round(length(regexp_replace(t, "\\s", "")).cast("double")
          / nullif(col("n_tokens"), lit(0L)), 4))
      .withColumn("quality_ok",
        col("n_tokens") >= 10 && coalesce(col("punct_ratio") <= 0.05, lit(false)) &&
          coalesce(col("stopword_ratio") <= 0.5, lit(false)))
      .drop("__toks")
  }

  /** Within-document repetition metrics — the duplicate-n-gram family of
    * quality filters (Rae et al., "Scaling Language Models: ... Gopher",
    * 2021, §A.1.1: high duplicate-n-gram-fraction documents are templated/
    * boilerplate text that degrades training): per document, the total
    * bigram occurrences, the fraction of occurrences that are repeats
    * (1 − distinct/total), and the share held by the single most frequent
    * bigram. Documents with fewer than 2 tokens emit no row (no bigrams to
    * measure).
    *
    * Shape: explode → two keyed aggregations on (id, gram) then (id) —
    * both codegen'd with map-side partial aggregation, partitioned by
    * document id, no joins; linear in corpus token count at any scale.
    * (A per-row higher-order-function form would avoid the shuffles but
    * top-frequency-within-array needs an interpreted aggregate lambda —
    * the exploded form stays inside whole-stage codegen.) */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("__tk"))
      .select(col(idCol), explode(ngrams(col("__tk"), 2)).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__n"))
      .groupBy(col(idCol))
      .agg(sum("__n").as("n_bigrams"),
        count(lit(1)).as("__distinct"),
        max("__n").as("__top"))
      .select(col(idCol), col("n_bigrams"),
        round(lit(1.0) - col("__distinct") / col("n_bigrams"), 4)
          .as("dup_bigram_frac"),
        round(col("__top") / col("n_bigrams"), 4).as("top_bigram_frac"))

  /** Corpus-trained bigram language-model score per document: avg
    * ln P(w₂|w₁) with P = C(w₁w₂)/C(w₁·), counts from the corpus itself —
    * the KenLM-style perplexity proxy curation pipelines use to rank text
    * naturalness (templated/garbled text scores low). No smoothing needed:
    * every scored bigram is in the counts by construction.
    *
    * Scale shape: bigrams hash to 60-bit keys IMMEDIATELY (strings never
    * cross a shuffle), corpus counts are two keyed aggs with map-side
    * partials (Zipf heads combine in-map), scoring is two equi joins on
    * the hash + one per-doc agg. The gram frame feeds three consumers, so
    * it is [[graft.GraftCache]]-persisted — callers release after
    * consuming. */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val grams = graft.GraftCache.persist(
      df.select(col(idCol), tokens(col(textCol)).as("__tk"))
        .select(col(idCol), explode(ngrams(col("__tk"), 2)).as("__g"))
        .select(col(idCol), md5Hash60(col("__g")).as("__gh"),
          md5Hash60(element_at(split(col("__g"), " "), 1)).as("__wh")))
    val biCounts = grams.groupBy("__gh").agg(count(lit(1)).as("__c12"))
    val headCounts = grams.groupBy("__wh").agg(count(lit(1)).as("__c1"))
    grams.join(biCounts, "__gh").join(headCounts, "__wh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("__c12") / col("__c1"))), 4).as("avg_logp"))
  }

  /** Interpolated KNESER–NEY bigram LM scoring against a TRAIN slice —
    * the held-out perplexity filter production curation deploys (KenLM's
    * model family; Kneser & Ney 1995, interpolated per Chen & Goodman
    * 1998). [[bigramLogProb]] (x32) is the SELF-scored form and needs no
    * smoothing because every scored bigram is in its own counts; a
    * deployed filter trains on a reference corpus and scores ARRIVING
    * documents, where unseen heads and continuations are exactly the
    * signal — and unsmoothed ML assigns them ln 0. Absolute discount
    * D = 3/4 carried in QUARTERS so every probability is an exact
    * BIGINT ratio both engines derive identically:
    *
    *   P(w2|w1) = [max(4·c12 − 3, 0)·K + 3·N1+(w1,·)·(N1+(·,w2)+1)]
    *              / (4·c1·K)
    *   K = T + V + 1  (the +1-smoothed continuation denominator; T =
    *   distinct train bigram types, V = distinct train words — the
    *   open-vocabulary guard, so a NEVER-seen continuation scores the
    *   floor 1/K instead of −∞), with full backoff to the smoothed
    *   continuation distribution when the head is unseen (c1 = 0).
    *
    * Each bigram's ln lands as an INTEGER micro-nat (round(ln·10⁶) —
    * the established lattice), so the per-document SUM is
    * order-independent and hash-exact. Scale shape is x32's: grams hash
    * to 60 bits before any shuffle, the model is four keyed aggs over
    * the TRAIN slice only (map-side partials absorb the Zipf head), and
    * serving is three equi joins + one broadcast scalar row — at 100 TB
    * the model frames are vocabulary-sized, never corpus-sized, and
    * nothing sorts. */
  def knBigramScore(df: DataFrame, idCol: String, textCol: String,
                    trainPred: Column): DataFrame = {
    val toked = df.select(col(idCol), trainPred.as("__train"),
      tokens(col(textCol)).as("__tk"))
    val grams = graft.GraftCache.persist(
      toked.select(col(idCol), col("__train"),
          explode(ngrams(col("__tk"), 2)).as("__g"))
        .select(col(idCol), col("__train"),
          md5Hash60(col("__g")).as("__gh"),
          md5Hash60(element_at(split(col("__g"), " "), 1)).as("__wh"),
          md5Hash60(element_at(split(col("__g"), " "), 2)).as("__w2h")))
    val tg = grams.filter(col("__train"))
    val bi = tg.groupBy("__gh").agg(count(lit(1)).as("__c12"))
    val heads = tg.groupBy("__wh").agg(count(lit(1)).as("__c1"),
      countDistinct(col("__gh")).as("__fwd"))
    val conts = tg.groupBy("__w2h")
      .agg(countDistinct(col("__gh")).as("__cont"))
    val kRow = broadcast(
      tg.agg(countDistinct(col("__gh")).as("__t")).crossJoin(
        toked.filter(col("__train"))
          .select(explode(col("__tk")).as("__w"))
          .agg(countDistinct(md5Hash60(col("__w"))).as("__v")))
        .select((col("__t") + col("__v") + lit(1L)).as("__k")))
    val c1 = coalesce(col("__c1"), lit(0L))
    val c12 = coalesce(col("__c12"), lit(0L))
    val fwd = coalesce(col("__fwd"), lit(0L))
    val contN = coalesce(col("__cont"), lit(0L)) + lit(1L)
    val pNum = when(c1 === 0L, contN)
      .otherwise(greatest(c12 * 4L - 3L, lit(0L)) * col("__k")
        + fwd * 3L * contN)
    val pDen = when(c1 === 0L, col("__k")).otherwise(c1 * 4L * col("__k"))
    grams
      .join(bi, Seq("__gh"), "left")
      .join(heads, Seq("__wh"), "left")
      .join(conts, Seq("__w2h"), "left")
      .crossJoin(kRow)
      .select(col(idCol),
        round(log(pNum.cast("double") / pDen.cast("double")) * 1e6, 0)
          .cast("long").as("__mnat"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum("__mnat").as("kn_mnats"))
  }

  /** PII scrubbing for training text: emails and URLs replaced with typed
    * placeholder tokens. Pure codegen'd regexp_replace passes — linear per
    * document; lookahead-free patterns so any RE2-based engine matches. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPattern = "https?://[^\\s]+"
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, UrlPattern, "<URL>"),
      EmailPattern, "<EMAIL>")

  /** Document fingerprint: sha256 of whitespace-collapsed lowercased text —
    * the exact-dedup key for near-identical formatting variants. */
  def fingerprint(text: Column): Column =
    sha2(regexp_replace(lower(trim(text)), "\\s+", " "), 256)

  /** Unicode NFC normalization ([[graft.functions.NfcNormalize]],
    * codegen'd): canonical composition so byte-level keys agree across
    * composed/decomposed encodings of the same text. */
  def nfcNormalize(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.NfcNormalize(ColumnBridge.expression(text)))
  }

  /** [[fingerprint]] over NFC-normalized text — the dedup key a
    * multilingual corpus needs: "café" with a precomposed é and with a
    * combining acute are byte-different inputs but ONE document. Use this
    * (not the raw [[fingerprint]]) wherever sources mix encoders (web
    * crawls, OCR, user uploads). */
  def fingerprintNfc(text: Column): Column = fingerprint(nfcNormalize(text))

  /** Whole-table per-document word counts via explode → codegen'd sums:
    * emits (idCol, extraCols..., n_tokens, cnt_<word>...). The scale form of
    * [[tokenMatches]] — each token is examined once total instead of once
    * per word by an interpreted lambda; partial aggregation collapses each
    * document to one row of counters before the shuffle.
    * `extraCols` must be functionally determined by `idCol` (they join the
    * group key). */
  def wordCounts(toked: DataFrame, idCol: String, toksCol: String,
                 words: Seq[String], extraCols: Seq[String] = Nil): DataFrame = {
    val keys = (idCol +: extraCols).map(col)
    val exploded = toked.select(keys :+ explode_outer(col(toksCol)).as("__t"): _*)
    val aggs = count(col("__t")).cast("long").as("n_tokens") +:
      words.map(w => sum(when(col("__t") === w, 1L).otherwise(0L)).as(s"cnt_$w"))
    exploded.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  // ------------------------------------------------------------------ hashing

  /** Prime modulus for MinHash permutations. */
  val P: Long = 1000000007L

  /** 60-bit integer hash of a string via md5 — chosen because DuckDB can
    * compute the identical value (`('0x' || substr(md5(s),1,15))::BIGINT`),
    * making MinHash signatures oracle-checkable. Computed by the codegen'd
    * [[graft.functions.Md5Hash60]] expression (digest bytes → long, no hex
    * round-trip); [[md5Hash60Composed]] is the built-in composition it is
    * proven bit-identical to. */
  def md5Hash60(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.Md5Hash60(ColumnBridge.expression(c)))
  }

  /** The built-in-composed definition of [[md5Hash60]], kept as the
    * reference semantics the custom expression is spec-tested against. */
  def md5Hash60Composed(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** MinHash permutation parameters (a, b): deterministic from a fixed seed
    * so Spark and the generated oracle SQL agree. */
  val NumHashes = 16
  val BandRows = 4
  def numBands: Int = NumHashes / BandRows
  val hashParams: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(NumHashes)(
      ((rnd.nextLong() & Long.MaxValue) % (P - 1) + 1,
       (rnd.nextLong() & Long.MaxValue) % P))
  }

  /** Word n-gram shingles (default 3). Documents shorter than n words yield
    * a single shingle of the whole text so they still participate.
    *
    * PERF CONTRACT (also [[ngrams]], [[tokenChunks]]): pass a MATERIALIZED
    * array column (an attribute from a prior select), never an inline
    * `tokens(...)` expression — the lambda references `toks` once per
    * element_at and interpreted higher-order functions have no
    * common-subexpression elimination, so an inline expression re-runs the
    * regex split per reference (measured 50× slower). CollapseProject
    * preserves the select boundary: it never inlines a non-cheap
    * expression referenced more than once. */
  def shingles(toks: Column, n: Int = 3): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ",
          (0 until n).map(k => element_at(toks, (i + k + 1).cast("int"))): _*)))

  /** 16-hash MinHash signature as an array column. h_i(doc) =
    * min over shingles s of (a_i * (md5h(s) mod P) + b_i) mod P.
    *
    * NOTE: prefer [[minhashSignatures]] for whole-table signatures — this
    * single-column form duplicates the md5 transform 16× after projection
    * collapse (higher-order-function lambdas are interpreted, not
    * codegen'd), so each shingle gets hashed once per permutation. */
  def minhashSignature(shingleCol: Column): Column = {
    val hashed = transform(shingleCol, s => md5Hash60(s) % P)
    array(hashParams.map { case (a, b) =>
      array_min(transform(hashed, h => (h * a + b) % P))
    }: _*)
  }

  /** Whole-table MinHash signatures via explode → codegen'd min aggregates:
    * each shingle is md5-hashed exactly ONCE, the 16 permutations are plain
    * `min()` aggregates with map-side partial aggregation, and the only
    * data movement is one shuffle of 16 longs per document on `id`. This is
    * the 100 TB path — per-doc work linear in shingle count, no interpreted
    * lambda re-evaluation. Returns (id, h0..h15). */
  def minhashSignatures(toked: DataFrame, idCol: String, toksCol: String): DataFrame = {
    val exploded = toked.select(col(idCol).as("id"),
      explode(transform(shingles(col(toksCol)), s => md5Hash60(s) % P)).as("h"))
    val aggs = hashParams.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % P).as(s"h$i")
    }
    exploded.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** Fixed-size chunk hashes: split the text into `size`-char substrings
    * and 60-bit-hash each — the chunk-level dedup key (documents sharing
    * chunks are shift-aligned near-dups or boilerplate carriers). Chunk
    * count per doc is ⌈n/size⌉, so per-doc work is linear. */
  def chunkHashes(text: Column, size: Int): Column =
    when(length(text) === 0, array().cast("array<bigint>"))
      .otherwise(transform(
        sequence(lit(0), floor((length(text) - 1) / size).cast("int")),
        i => md5Hash60(substr(text, (i * size + 1).cast("int"), lit(size)))))

  /** Chunk-sharing candidate pairs: explode chunk hashes, self-join on the
    * hash (distinct per doc first), count shared chunks per pair. The same
    * partitionable-join-key shape as the LSH paths — never all-pairs. */
  def chunkNearDups(df: DataFrame, idCol: String, textCol: String,
                    chunkSize: Int, minShared: Int): DataFrame = {
    val chunks = df
      .select(col(idCol).as("id"), explode(chunkHashes(col(textCol), chunkSize)).as("ch"))
      .distinct()
    chunks.as("a").join(chunks.as("b"),
        col("a.ch") === col("b.ch") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared_chunks"))
      .filter(col("n_shared_chunks") >= minShared)
  }

  /** Token-window chunking for training-sample construction: windows of
    * `size` tokens every `step` tokens (overlap = size − step). Chunk i
    * covers tokens [i·step+1, i·step+size]; the last window may be short;
    * empty docs yield no chunks. Returns an array of token-array chunks —
    * explode it to fan documents out to samples. */
  def tokenChunks(toks: Column, windowSize: Int, step: Int): Column = {
    require(windowSize > 0 && step > 0)
    when(size(toks) === 0, array().cast("array<array<string>>"))
      .otherwise(transform(
        sequence(lit(0), floor((size(toks) - 1) / step).cast("int")),
        i => slice(toks, i * step + 1, lit(windowSize))))
  }

  /** Word n-grams of a token array, space-joined — the unit for exact
    * n-gram Jaccard dedup. Array element access is O(1), so per-doc work is
    * linear (unlike char-level substr seeks). Fewer than n tokens → empty
    * (the `when` guard matters: `sequence(0, negative)` counts DOWN). */
  def ngrams(toks: Column, n: Int): Column = {
    require(n > 0)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
  }

  /** Cross-document duplicated-span removal — the paragraph-level exact
    * dedup of CCNet (Wenzek et al. 2020) / RefinedWeb (Penedo et al. 2023)
    * adapted to a corpus without paragraph breaks: the unit is a
    * non-overlapping `spanTokens`-token window ([[tokenChunks]] with
    * step = size). A span whose text occurs in at least `minDocs` DISTINCT
    * documents is corpus boilerplate (headers, license blurbs, templated
    * sentences); every occurrence is removed and the surviving spans
    * reassemble in position order. Returns one row per input document:
    * (id, n_spans, n_dropped, n_clean_tokens, clean_text) — zero-span
    * (empty) documents survive with clean_text = "".
    *
    * Scale shape: spans hash to 60-bit keys immediately, so the
    * boilerplate count is a keyed agg on a LONG (span strings never cross
    * that shuffle) and the mark-up is an equi-join on the same long. The
    * chunk pipeline deliberately runs twice (once to count, once to mark)
    * instead of persisting the re-chunked corpus — persisting the widest
    * data to save one columnar re-scan is the wrong trade at 100× (the
    * pl5 lesson). Reassembly is per-document: the collect_list is bounded
    * by a single document's length, the unit of work any reassembly
    * inherently holds. */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                spanTokens: Int, minDocs: Int): DataFrame = {
    require(spanTokens > 0, "spanTokens must be positive")
    require(minDocs >= 2, "minDocs < 2 would drop every span")
    // def, not val: each reference re-derives the pipeline from the scan
    // (two passes) rather than sharing a persisted text-bearing frame.
    def chunked = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__tk"))
      .select(col("id"),
        posexplode_outer(tokenChunks(col("__tk"), spanTokens, spanTokens))
          .as(Seq("pos", "chunk")))
      .select(col("id"), col("pos"),
        concat_ws(" ", col("chunk")).as("span"),
        size(col("chunk")).cast("long").as("ntk"))
      .select(col("id"), col("pos"), col("span"), col("ntk"),
        md5Hash60(col("span")).as("spanh"))
    val shared = chunked.filter(col("pos").isNotNull)
      .groupBy("spanh")
      .agg(countDistinct(col("id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("spanh"), lit(true).as("__boiler"))
    val keep = col("pos").isNotNull && col("__boiler").isNull
    chunked.join(shared, Seq("spanh"), "left")
      .groupBy("id")
      .agg(
        count(col("pos")).as("n_spans"),
        sum(when(col("__boiler"), 1L).otherwise(0L)).as("n_dropped"),
        coalesce(sum(when(keep, col("ntk"))), lit(0L)).as("n_clean_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(keep, struct(col("pos"), col("span"))))),
          s => s.getField("span"))).as("clean_text"))
  }

  /** Exact-substring dedup — the sliding-window twin of [[spanDedup]],
    * after the ExactSubstr dedup of "Deduplicating Training Data Makes
    * Language Models Better" (Lee et al. 2022): a duplicated passage is
    * caught at ANY token alignment, not only on chunk boundaries, and the
    * REMOVAL unit is the individual token (the union of every flagged
    * window's [p, p+W) interval), so a shared passage is excised exactly
    * while the unique text around it survives. Lee et al. build a suffix
    * array; the equivalent declarative form is: every W-token window →
    * 60-bit hash → a window whose hash occurs in ≥ `minDocs` DISTINCT
    * docs flags its token interval → anti-join tokens against the flagged
    * positions → reassemble survivors in order. Returns one row per doc:
    * (id, n_tokens, n_dropped_tokens, n_clean_tokens, clean_text);
    * docs shorter than one window pass through whole.
    *
    * Scale shape: windows hash to longs BEFORE the distinct-doc shuffle
    * (window strings never cross it); flagged intervals fan out W rows
    * per flagged window (sparse in a real corpus — bounded by the
    * boilerplate mass, not the corpus); the token-level mark is a keyed
    * anti-join, linear in corpus tokens — the same order of work as the
    * suffix-array construction it replaces, with no per-doc quadratic
    * corner (an array-contains mask would be O(n·dropped) on a fully
    * boilerplate doc). Reassembly collect_list is bounded by one doc. */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     windowTokens: Int, minDocs: Int): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    require(minDocs >= 2, "minDocs < 2 would drop every window")
    val w = windowTokens
    // def, not val: re-derive from the scan per pass (the spanDedup trade:
    // persisting the widest data to save a columnar re-scan loses at 100×).
    // The generator explodes window POSITIONS only; each span string is
    // built and hashed ABOVE the Generate from the passed-through token
    // array (slice + concat_ws). Exploding pre-built ngram arrays instead
    // (posexplode(ngrams(__tk, w))) re-evaluated the ngram lambda through
    // the collapsed projection per OUTPUT element — O(windows²·w) per doc,
    // measured 90× slower on sf0.1 — and materializing the array as an
    // attribute does not survive CollapseProject into the Generate.
    def windows = slidingWindows(df, idCol, textCol, w)
    val shared = windows
      .groupBy("spanh").agg(countDistinct(col("id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("spanh")
    val dropped = windows.join(shared, Seq("spanh"), "left_semi")
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("tpos"))
      .distinct()
    excise(df, idCol, textCol, dropped)
  }

  /** Sliding `w`-token windows of every document as (id, pos, spanh) —
    * spanh a 60-bit hash of the window text. The generator explodes
    * window POSITIONS only; each span string is built and hashed ABOVE
    * the Generate from the passed-through token array (slice +
    * concat_ws). Exploding pre-built ngram arrays instead
    * (posexplode(ngrams(__tk, w))) re-evaluated the ngram lambda through
    * the collapsed projection per OUTPUT element — O(windows²·w) per doc,
    * measured 90× slower on sf0.1 — and materializing the array as an
    * attribute does not survive CollapseProject into the Generate. */
  private def slidingWindows(df: DataFrame, idCol: String, textCol: String,
                             w: Int): DataFrame =
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("__tk"))
      .select(col("id"), col("__tk"),
        explode(when(size(col("__tk")) >= w,
            sequence(lit(0), size(col("__tk")) - w))
          .otherwise(array().cast("array<int>"))).as("pos"))
      .select(col("id"), col("pos"),
        md5Hash60(concat_ws(" ",
          slice(col("__tk"), col("pos") + 1, lit(w)))).as("spanh"))

  /** Excise the token positions in `dropped` (id, tpos) from every
    * document and reassemble survivors in order: one row per doc with
    * (id, n_tokens, n_dropped_tokens, n_clean_tokens, clean_text). The
    * token-level mark is a keyed left join, linear in corpus tokens;
    * reassembly collect_list is bounded by one doc. */
  private def excise(df: DataFrame, idCol: String, textCol: String,
                     dropped: DataFrame): DataFrame =
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("__tk"))
      .select(col("id"), posexplode_outer(col("__tk")).as(Seq("tpos", "tok")))
      .join(dropped.withColumn("__drop", lit(true)), Seq("id", "tpos"), "left")
      .groupBy("id")
      .agg(
        count(col("tpos")).as("n_tokens"),
        sum(when(col("__drop"), 1L).otherwise(0L)).as("n_dropped_tokens"),
        (count(col("tpos")) - sum(when(col("__drop"), 1L).otherwise(0L)))
          .as("n_clean_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("__drop").isNull && col("tpos").isNotNull,
              struct(col("tpos"), col("tok"))))),
          s => s.getField("tok"))).as("clean_text"))

  /** WITHIN-document repetition removal — the self-boilerplate cut of the
    * Gopher/MassiveText repetition filters (Rae et al. 2021 §A1.1) made
    * surgical: instead of dropping any document whose duplicate-window
    * fraction crosses a threshold, every REPEATED window keeps its first
    * occurrence and later occurrences' token intervals are excised, so a
    * document that loops a navigation bar or a chorus survives with one
    * copy of it ([[substringDedup]]'s machinery pointed inward — repeats
    * are counted per document, not across documents). Flags are computed
    * against the ORIGINAL text in one pass (no iterative re-scan), which
    * makes the result deterministic and oracle-replayable.
    *
    * Scale shape: same as [[substringDedup]] except the window shuffle
    * key is (id, spanh) — document-local, so the heavy aggregation
    * co-partitions with the corpus and no cross-document hotspot can
    * form at any scale. */
  def selfRepetitionDedup(df: DataFrame, idCol: String, textCol: String,
                          windowTokens: Int): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val w = windowTokens
    def windows = slidingWindows(df, idCol, textCol, w)
    val firsts = windows
      .groupBy("id", "spanh").agg(min(col("pos")).as("minpos"))
    val dropped = windows.join(firsts, Seq("id", "spanh"))
      .filter(col("pos") > col("minpos"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("tpos"))
      .distinct()
    excise(df, idCol, textCol, dropped)
  }

  /** T5-style span-corruption sample generation (Raffel et al., "Exploring
    * the Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer", JMLR 2020 §3.1.4): deterministic span masking turns
    * every document into a (corrupted input, target) denoising pair — the
    * objective-construction step between curation and export. A token
    * position STARTS a masked span iff a 60-bit hash of (doc_id, pos)
    * lands in 1/maskMod of the hash space (RNG-free, so the oracle
    * replays the exact mask); each start covers `spanLen` positions, and
    * overlapping/adjacent covers merge into MAXIMAL masked runs —
    * T5 semantics: one sentinel per run, however many starts produced it.
    * The input keeps unmasked tokens and replaces each run with
    * `<extra_id_k>` (k = 0-based run order in the doc); the target is
    * each sentinel followed by that run's original tokens, terminated by
    * the final sentinel `<extra_id_n>` (n = run count) — also emitted for
    * mask-free docs, exactly the reference formulation.
    *
    * Scale shape: the mask is a per-position hash (no RNG state, no
    * per-doc sequential scan); run structure is gaps-and-islands over the
    * masked positions (runid = pos − rank, non-decreasing in pos, so
    * dense_rank over it IS the run order); assembly is one keyed
    * aggregation per doc with collect_list bounded by the document.
    * Returns (id, n_tokens, n_masked, n_spans, input_text, target_text). */
  def spanCorruption(df: DataFrame, idCol: String, textCol: String,
                     spanLen: Int, maskMod: Int): DataFrame = {
    require(spanLen > 0 && maskMod > 1, "spanLen > 0 and maskMod > 1 required")
    import org.apache.spark.sql.expressions.Window
    val toks = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__tk"))
      .select(col("id"), posexplode_outer(col("__tk")).as(Seq("tpos", "tok")))
    // span starts → interval fan-out → distinct masked positions; starts
    // near the doc end over-cover harmlessly (the join below only keeps
    // positions that exist)
    val masked = toks
      .filter(col("tpos").isNotNull &&
        md5Hash60(concat(col("id"), lit(":"), col("tpos"))) % maskMod === 0)
      .select(col("id"),
        explode(sequence(col("tpos"), col("tpos") + (spanLen - 1))).as("tpos"))
      .distinct()
    val wSeq = Window.partitionBy("id").orderBy("tpos")
    val runs = toks.join(masked.withColumn("__m", lit(true)), Seq("id", "tpos"), "left")
      .withColumn("runid",
        when(col("__m"), col("tpos") - row_number().over(
          Window.partitionBy("id", "__m").orderBy("tpos"))))
      .withColumn("k",
        when(col("__m"), dense_rank().over(
          Window.partitionBy("id", "__m").orderBy("runid")) - 1))
      // positions are dense (posexplode), so a run starts exactly where
      // the previous row is unmasked (or absent)
      .withColumn("runStart",
        col("__m") && !coalesce(lag(col("__m"), 1).over(wSeq), lit(false)))
    val sentinel = concat(lit("<extra_id_"), col("k"), lit(">"))
    runs.groupBy("id")
      .agg(
        count(col("tpos")).as("n_tokens"),
        sum(when(col("__m"), 1L).otherwise(0L)).as("n_masked"),
        (max(when(col("__m"), col("k"))) + 1).as("__maxk"),
        // input: unmasked tokens + one sentinel at each run start
        concat_ws(" ", transform(array_sort(collect_list(
          when(col("tpos").isNotNull && (col("__m").isNull || col("runStart")),
            struct(col("tpos"),
              when(col("runStart"), sentinel).otherwise(col("tok")).as("t"))))),
          s => s.getField("t"))).as("__input"),
        // target: per run, sentinel then the run's tokens (sort key puts
        // the sentinel row at the run's first position, tokens after)
        concat_ws(" ", transform(array_sort(collect_list(
          when(col("__m"),
            struct((col("tpos") * 2 + when(col("runStart"), 0).otherwise(1)).as("o"),
              when(col("runStart"),
                concat(sentinel, lit(" "), col("tok"))).otherwise(col("tok")).as("t"))))),
          s => s.getField("t"))).as("__target"))
      .select(col("id"), col("n_tokens"), col("n_masked"),
        coalesce(col("__maxk"), lit(0L)).cast("long").as("n_spans"),
        col("__input").as("input_text"),
        concat(
          when(length(col("__target")) > 0, concat(col("__target"), lit(" ")))
            .otherwise(lit("")),
          lit("<extra_id_"), coalesce(col("__maxk"), lit(0L)), lit(">"))
          .as("target_text"))
  }

  /** Exact Jaccard similarity of the distinct-token sets. */
  def jaccard(toksA: Column, toksB: Column): Column = {
    val inter = size(array_intersect(array_distinct(toksA), array_distinct(toksB)))
    val union = size(array_union(toksA, toksB))
    inter.cast("double") / nullif(union, lit(0))
  }

  /** 60-bit SimHash over the distinct features of a document (unit
    * weights): bit j set iff Σ_features (2*((h(f)>>j)&1) - 1) > 0. 60 bits
    * = every bit [[md5Hash60]] provides; fewer (e.g. 32) measurably
    * under-discriminates: band slices get so coarse that blocking buckets
    * degenerate (measured 51% of a corpus in ONE 8-bit bucket).
    *
    * NOTE: prefer [[simhashes]] for whole-table hashing — this form
    * re-evaluates the interpreted md5 transform once per bit (60×). */
  val SimHashBits = 60
  def simhash(toks: Column): Column = {
    val hashed = transform(array_distinct(toks), t => md5Hash60(t))
    (0 until SimHashBits).map { j =>
      val bitSum = aggregate(hashed, lit(0L),
        (acc, h) => acc + (shiftright(h, j).bitwiseAND(1) * 2 - 1))
      when(bitSum > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Whole-table SimHash via explode → SimHashBits codegen'd sum
    * aggregates: each distinct feature is md5-hashed exactly once; bit
    * sums are plain `sum()` with map-side partial aggregation (one shuffle
    * of SimHashBits longs per doc).
    * `explode_outer` keeps empty documents, whose simhash is 0 — matching
    * [[simhash]] on an empty array. Returns (id, simhash). */
  def simhashes(toked: DataFrame, idCol: String, toksCol: String): DataFrame = {
    val exploded = toked.select(col(idCol).as("id"),
      explode_outer(transform(array_distinct(col(toksCol)), t => md5Hash60(t))).as("h"))
    val aggs = (0 until SimHashBits).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(1) * 2 - 1).as(s"b$j")
    }
    exploded.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        (0 until SimHashBits).map { j =>
          when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _).as("simhash"))
  }

  /** SimHash band split: `SimHashBands` structs of (band, bits), where
    * `bits` is the band-th `SimHashBandBits`-bit slice of the signature.
    * Two signatures within Hamming distance d share at least one band
    * whenever d < SimHashBands (pigeonhole), so band-equality blocking has
    * guaranteed recall for d ≤ SimHashBands − 1. 15-bit slices give 32k
    * bucket values per band — high enough cardinality that bucket sizes
    * stay bounded (the blocking-key-cardinality lesson of round 2's x14). */
  val SimHashBands = 4
  val SimHashBandBits: Int = SimHashBits / SimHashBands
  def simhashBands(sig: Column): Column =
    array((0 until SimHashBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(sig, b * SimHashBandBits)
          .bitwiseAND((1L << SimHashBandBits) - 1).as("bits"))
    }: _*)

  /** Hamming distance between two simhash signatures. */
  def hammingDist(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** SimHash near-duplicate pairs: word-3-gram shingles → signature → band
    * buckets → candidate pairs (equal band slice) → exact Hamming
    * verification. Completes the signature computation of [[simhashes]]
    * into a dedup operator.
    *
    * The signature is computed over SHINGLES, not unigrams: on any corpus
    * with a shared core vocabulary every document's distinct-TOKEN set is
    * nearly identical, so unigram signatures collapse (measured: 43% of
    * all pairs within Hamming 3 — blocking buckets of half the corpus).
    * Shingle sets are distinctive, exactly why [[minhashNearDups]] also
    * shingles first.
    *
    * Scale path: the band self-join is an equi-join on (band, bits) — the
    * same partitionable shape as the MinHash band join — and, unlike x4's
    * token arrays, the verification payload is the 8-byte signature itself,
    * so it rides ALONG the band join (cheaper than a re-join by id; there
    * is nothing bigger to re-fetch). Recall is exact for
    * `maxDist` ≤ SimHashBands − 1 by the pigeonhole bound above.
    *
    * Caching contract: the signature frame persists via [[graft.GraftCache]]
    * (the self-join reads it twice); call `GraftCache.release()` after
    * consuming the result. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxDist: Int): DataFrame = {
    require(maxDist < SimHashBands,
      s"band blocking only guarantees recall for maxDist <= ${SimHashBands - 1}")
    // Two-step select: tokens materialize to an attribute BEFORE the
    // shingle lambda references them (3 element_at per shingle — an inline
    // tokens(...) would re-run the regex split per reference; interpreted
    // HOF lambdas have no subexpression elimination).
    // Persisted (via GraftCache — caller releases): the band self-join reads
    // the signature frame twice and Spark does not reuse the aggregation
    // exchange across the self-join's two (re-aliased) branches — without
    // the persist the whole tokenize→shingle→hash→aggregate pipeline runs
    // twice. The frame is (id, 60-bit sig): 16 bytes/doc, the cheapest
    // thing in the query to keep and the most expensive to recompute.
    val sigs = GraftCache.persist(simhashes(
      df.select(col(idCol).as("id"), tokens(col(textCol)).as("__tk"))
        .select(col("id"), shingles(col("__tk")).as("toks")), "id", "toks"))
    val banded = sigs
      .select(col("id"), col("simhash"), explode(simhashBands(col("simhash"))).as("b"))
      .select(col("id"), col("simhash"), col("b.band").as("band"), col("b.bits").as("bits"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hammingDist(col("a.simhash"), col("b.simhash")).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxDist)
  }

  /** MinHash+LSH near-duplicate pairs: shingle → signature → band buckets →
    * candidate pairs (shared band) → exact-Jaccard verification.
    *
    * Scale path: the band self-join ships ONLY (id, band, bsig) — never the
    * token arrays — and candidate pairs are deduplicated (a pair sharing k
    * bands appears once) *before* the token arrays are re-joined by id for
    * the exact-Jaccard check. Bucket sizes are bounded by LSH collision
    * probability, so the candidate set is ~linear in the number of true
    * near-dup clusters, never O(n²).
    *
    * Caching contract: the tokenized corpus and the band frame persist via
    * [[graft.GraftCache]] (multi-branch reuse); call `GraftCache.release()`
    * after consuming the result, or the blocks outlive the query.
    * `df` must have columns (idCol, textCol). */
  /** Incremental MinHash+LSH near-dup check: pairs (new doc, indexed doc)
    * with exact Jaccard ≥ threshold — the nightly-ingest shape, where a
    * small arriving batch is screened against the standing corpus WITHOUT
    * re-deduping corpus×corpus (that quadratic rerun is exactly what
    * incremental ingestion must avoid). The frames are assumed disjoint.
    *
    * Scale shape: the new batch's band frame (4 rows × |batch|) is
    * BROADCAST onto the indexed band frame, so the standing index is
    * never reshuffled by the join; indexed tokens are re-read columnar
    * behind a semi-join on the candidate ids only (never persisted — the
    * candidate subset is a vanishing fraction of the corpus), while the
    * small new side persists its tokens across its two uses. A production
    * deployment stores the indexed band signatures next to the sink and
    * skips recomputing them here; the signature aggregation below is the
    * bootstrap path. */
  def minhashNearDupsAgainst(newDocs: DataFrame, indexed: DataFrame,
                             idCol: String, textCol: String,
                             threshold: Double): DataFrame = {
    val tokedNew = GraftCache.persist(
      newDocs.select(col(idCol).as("id"), tokens(col(textCol)).as("toks")))
    def tokedIdx =
      indexed.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
    val cands = GraftCache.persist(minhashBands(tokedIdx).as("i")
      .join(broadcast(minhashBands(tokedNew).as("n")),
        col("n.band") === col("i.band") && col("n.bsig") === col("i.bsig"))
      .select(col("n.id").as("id_new"), col("i.id").as("id_idx"))
      .dropDuplicates("id_new", "id_idx"))
    val idxToks = tokedIdx.join(
      cands.select(col("id_idx").as("id")).distinct(), Seq("id"), "left_semi")
    cands
      .join(tokedNew.select(col("id").as("id_new"), col("toks").as("toks_new")),
        "id_new")
      .join(idxToks.select(col("id").as("id_idx"), col("toks").as("toks_idx")),
        "id_idx")
      .withColumn("jaccard", round(jaccard(col("toks_new"), col("toks_idx")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_new", "id_idx", "jaccard")
  }

  /** MinHash band frame of a tokenized corpus `toked`(id, toks):
    * `numBands` rows per document of (id, band, bsig) — the blocking keys
    * every LSH screen joins on. Shared by the batch self-join
    * ([[minhashNearDups]]), the bootstrap incremental screen
    * ([[minhashNearDupsAgainst]]), and the materialized index
    * ([[writeBandIndex]] / [[minhashNearDupsAgainstIndex]]). */
  def minhashBands(toked: DataFrame): DataFrame = {
    val bandStructs = (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(":", (0 until BandRows).map(r => col(s"h${b * BandRows + r}")): _*)
          .as("sig"))
    }
    minhashSignatures(toked, "id", "toks")
      .select(col("id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.sig").as("bsig"))
  }

  /** Materialize the corpus's MinHash band signatures as a parquet index —
    * the production corpus side of the incremental screen, written once at
    * ingest (or nightly after the sink write) so each subsequent arriving
    * batch is screened with ZERO corpus re-tokenization
    * ([[minhashNearDupsAgainstIndex]]). The index is skinny — (id, band,
    * bsig), ~tens of bytes × numBands per document vs the kilobytes of
    * text it summarizes — and is range-laid-out by `bsig`
    * ([[graft.sinks.LayoutSink]]) so every file covers a disjoint
    * signature range: a reader probing specific buckets prunes whole
    * files on parquet min/max stats, and the layout cost is one sampled
    * range shuffle at write time. */
  def writeBandIndex(docs: DataFrame, idCol: String, textCol: String,
                     path: String, numFiles: Int = 32): Unit =
    graft.sinks.LayoutSink.writeRangeLayout(
      minhashBands(docs.select(col(idCol).as("id"),
        tokens(col(textCol)).as("toks"))),
      "bsig", numFiles, path)

  /** Incremental maintenance of a [[writeBandIndex]] index: append an
    * arriving batch's band signatures once it clears screening, so the
    * NEXT batch screens against a corpus that includes this one — the
    * other half of the nightly loop ([[minhashNearDupsAgainstIndex]]
    * reads; this writes). Appended files are not range-laid: bucket-range
    * file pruning degrades gracefully (extra files scanned, correctness
    * unaffected) until a periodic [[compactBandIndex]] re-lays the
    * table — the standard append-then-compact lifecycle of a
    * sorted-layout table. Cost is O(|batch|): the standing index is
    * never read or rewritten. */
  def appendBandIndex(docs: DataFrame, idCol: String, textCol: String,
                      path: String): Unit =
    minhashBands(docs.select(col(idCol).as("id"),
        tokens(col(textCol)).as("toks")))
      .write.mode("append").parquet(path)

  /** [[appendBandIndex]] with EXACTLY-ONCE admission keyed by batch id —
    * the seam [[graft.streaming.EventStreams.maintainClusters]]'s replay
    * caveat named: a blind `mode(append)` duplicates the batch's band
    * rows on micro-batch replay (harmless to screen results, inflating
    * to the index). Band signatures are a deterministic projection of the
    * batch, which is exactly the contract
    * [[graft.sinks.LayoutSink.appendExactlyOnce]]'s staged-move/marker
    * protocol needs; the index directory stays a flat parquet table, so
    * readers, compaction, and the tombstone pass work unchanged. Returns
    * false on a detected replay. */
  def appendBandIndexExactlyOnce(docs: DataFrame, idCol: String,
                                 textCol: String, path: String,
                                 batchId: Long): Boolean =
    graft.sinks.LayoutSink.appendExactlyOnce(
      minhashBands(docs.select(col(idCol).as("id"),
        tokens(col(textCol)).as("toks"))),
      path, batchId)

  /** The periodic half of the append-then-compact lifecycle: restore an
    * appended index's range layout WITHOUT touching the corpus — reads
    * only the skinny (id, band, bsig) parquet and re-lays it by `bsig`
    * ([[graft.sinks.LayoutSink.compact]] with the sort key), collapsing
    * the append-era small files into byte-targeted range-disjoint ones.
    * O(|index|) columnar bytes, never a tokenization pass:
    * [[writeBandIndex]] (which re-derives signatures from text) is only
    * the bootstrap, not the maintenance path. Output to a new path; the
    * atomic swap belongs to the caller's table layer. */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, outPath: String,
                       targetFileBytes: Long): Int =
    graft.sinks.LayoutSink.compact(spark, path, outPath, targetFileBytes,
      Some("bsig"))

  /** Tombstone maintenance for a [[writeBandIndex]] index: drop the
    * removed documents' band rows and re-lay the survivors by `bsig` —
    * composed with [[graft.operators.Merge.snapshotDiff]]'s `removed`
    * changeset, this is the takedown/re-crawl path that previously
    * forced a full rebuild. Band signatures are PER-DOCUMENT (a doc's
    * rows never depend on the rest of the corpus), so the pruned index
    * is row-identical to [[writeBandIndex]] over the surviving corpus —
    * spec-pinned — while touching only the skinny (id, band, bsig)
    * parquet, never a tokenization pass. The removal set joins as a
    * left-anti equi-join on id (AQE broadcasts it when small, the
    * expected case). Output to a new path; the atomic swap belongs to
    * the caller's table layer, as for [[compactBandIndex]]. */
  def deleteFromBandIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, outPath: String,
                          removedIds: DataFrame, numFiles: Int = 32): Unit =
    graft.sinks.LayoutSink.writeRangeLayout(
      spark.read.parquet(path).join(
        removedIds.toDF("id"), Seq("id"), "left_anti"),
      "bsig", numFiles, outPath)

  /** [[minhashNearDupsAgainst]] against a MATERIALIZED band-signature
    * index ([[writeBandIndex]]) instead of the live corpus: candidate
    * generation reads ONLY the skinny parquet index — the corpus text is
    * never scanned, tokenized, or signature-aggregated on the index side.
    * The arriving batch's band frame is broadcast onto the index scan
    * (the index is never reshuffled), and the corpus text is touched
    * exactly once, behind a left-semi join on the surviving candidate
    * ids — a vanishing fraction of the corpus. This is the nightly-ingest
    * steady state: per-batch cost is O(|batch| + |candidates|) plus one
    * columnar index scan, independent of corpus tokenization cost.
    * `indexedDocs` must be the same corpus `bandIndex` was built from. */
  def minhashNearDupsAgainstIndex(newDocs: DataFrame, bandIndex: DataFrame,
                                  indexedDocs: DataFrame, idCol: String,
                                  textCol: String, threshold: Double): DataFrame = {
    val tokedNew = GraftCache.persist(
      newDocs.select(col(idCol).as("id"), tokens(col(textCol)).as("toks")))
    val cands = GraftCache.persist(bandIndex.as("i")
      .join(broadcast(minhashBands(tokedNew).as("n")),
        col("n.band") === col("i.band") && col("n.bsig") === col("i.bsig"))
      .select(col("n.id").as("id_new"), col("i.id").as("id_idx"))
      .dropDuplicates("id_new", "id_idx"))
    val idxToks = indexedDocs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .join(cands.select(col("id_idx").as("id")).distinct(), Seq("id"), "left_semi")
    cands
      .join(tokedNew.select(col("id").as("id_new"), col("toks").as("toks_new")),
        "id_new")
      .join(idxToks.select(col("id").as("id_idx"), col("toks").as("toks_idx")),
        "id_idx")
      .withColumn("jaccard", round(jaccard(col("toks_new"), col("toks_idx")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_new", "id_idx", "jaccard")
  }

  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double): DataFrame = {
    // Persisted (via GraftCache — caller releases): `toked` feeds the
    // signature pipeline AND both legs of the exact-Jaccard re-join (3
    // reads); `banded` feeds both sides of the band self-join (2 reads,
    // each otherwise recomputing the signature aggregation — Spark does not
    // reuse the exchange across re-aliased self-join branches). Persisting
    // trades n×(sig) memory for not re-tokenizing the corpus per leg — the
    // right trade at every scale.
    val toked = GraftCache.persist(
      df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks")))
    val banded = GraftCache.persist(minhashBands(toked))
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(toked.select(col("id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(toked.select(col("id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .withColumn("jaccard", round(jaccard(col("toks_a"), col("toks_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }
}
