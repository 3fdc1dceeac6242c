package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for large-scale training-data pipelines.
  *
  * Everything here is a `Column` expression over
  * `org.apache.spark.sql.functions` — codegen'd, no UDFs, no shuffles of its
  * own — so a 100 TB documents scan computes these in the same whole-stage
  * codegen pass that reads the parquet.
  */
object TextOps {

  /** Whitespace tokenization (the reference delegates all text handling to
    * arbitrary JS; we expose explicit primitives instead).
    */
  def tokens(text: Column): Column = split(text, "\\s+")

  def normTokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count: whitespace tokens plus an extra unit per 4 chars
    * of long tokens — a cheap, deterministic proxy for tokenizer load
    * estimation at corpus scale.
    */
  def subwordCount(text: Column): Column =
    aggregate(
      tokens(text),
      lit(0L),
      (acc, t) => acc + greatest(lit(1L), ceil(length(t) / lit(4.0)).cast("long")))

  /** Symbol-boundary markers for the BPE encoding: every symbol is wrapped
    * as \u0001·sym·\u0002, so a merge's literal `replace` can never match
    * across symbol (or word) boundaries and never overlap itself.
    */
  private val BpeS1 = "\u0001"
  private val BpeS2 = "\u0002"

  /** A single word as its initial BPE symbol sequence: each code point
    * wrapped in the boundary markers, plus the classic `</w>` terminal
    * marker symbol. `word` must be non-empty.
    * The split regex is zero-width with a one-code-point lookbehind and a
    * not-at-end lookahead: no trailing empty element, and — unlike a bare
    * `(?!$)` — it never cuts a surrogate pair in half (code points are
    * what DuckDB's `string_split(word, '')` and the native
    * [[BpeEncodeExpr]] iterate too).
    */
  private def bpeWordEnc(word: Column): Column = concat(
    concat_ws("", transform(split(word, "(?<=[\\s\\S])(?!$)"),
      c => concat(lit(BpeS1), c, lit(BpeS2)))),
    lit(BpeS1 + "</w>" + BpeS2))

  /** BPE tokenizer training as corpus-scale aggregates: learn `steps`
    * merge rules over the corpus's word histogram. The corpus is scanned
    * ONCE (word counts, map-side combined); every iteration then runs on
    * the distinct-words table — vocab-sized, orders of magnitude smaller
    * than the corpus and roughly constant as the corpus grows, which is
    * what makes tokenizer training feasible at 100 TB. Per step: adjacent
    * symbol-pair counts (one shuffle over vocab×word-len rows), arg-max
    * via TakeOrdered(1) (count desc, pair asc — deterministic ties), and
    * the merge applied as a literal string `replace` over an encoding
    * where every symbol is wrapped in \u0001..\u0002 (matches cannot
    * cross symbol boundaries and cannot overlap, and `replace`'s
    * left-to-right non-overlapping semantics — identical in Spark, Java
    * and DuckDB — is exactly BPE's greedy merge order). Words carry the
    * classic `</w>` terminal marker symbol.
    *
    * Returns the learned merge table (step, lhs, rhs, pair_count) —
    * driver-collected control-plane data (`steps` rows), like the k-means
    * centroids in [[graft.operators.Similarity.collectCentroids]]. The
    * per-step arg-max is a blocking job by nature: each merge depends on
    * the previous one. Training stops early when the best pair's count
    * falls below `minPairCount` (the min-frequency floor real tokenizer
    * trainers use — singleton-tail merges memorize noise; default 1 =
    * merge to exhaustion).
    */
  def bpeTrainMerges(docs: org.apache.spark.sql.DataFrame, steps: Int,
                     textCol: String = "text",
                     minPairCount: Long = 1L): org.apache.spark.sql.DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    require(minPairCount >= 1, "minPairCount must be >= 1")
    import org.apache.spark.sql.DataFrame
    val spark = docs.sparkSession
    import spark.implicits._
    val S1 = BpeS1; val S2 = BpeS2
    // the U+0001/U+0002 boundary markers are STRIPPED from corpus
    // words exactly as the encoders strip them (Bpe.stripMarkers): a
    // marker surviving into a learned merge rule would fail the
    // encoders' marker-free require at query construction — and make
    // the wrapped pair encoding ambiguous inside this very loop
    var words: DataFrame = graft.plans.LazyCheckpoint.shared(
      docs.select(explode(normTokens(col(textCol))).as("__w"))
        .select(translate(col("__w"), BpeS1 + BpeS2, "").as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .select(bpeWordEnc(col("word")).as("enc"), col("cnt")))
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val syms = split(expr("substring(enc, 2, length(enc) - 2)"), S2 + S1)
      // guard: sequence(1, 0) DESCENDS in Spark, so a fully-merged
      // single-symbol word needs an explicit empty pair list
      val pairs = when(size(syms) >= 2,
        transform(sequence(lit(1), size(syms) - 1), i =>
          concat(lit(S1), element_at(syms, i), lit(S2),
            lit(S1), element_at(syms, i + 1), lit(S2))))
        .otherwise(array().cast("array<string>"))
      val best = words.select(col("cnt"), explode(pairs).as("pair"))
        .groupBy("pair").agg(sum("cnt").as("pc"))
        .orderBy(col("pc").desc, col("pair").asc)
        .limit(1).collect()
      if (best.isEmpty || best(0).getLong(1) < minPairCount) exhausted = true
      else {
        val pair = best(0).getString(0)
        val pc = best(0).getLong(1)
        val Array(lhs, rhs) = pair.substring(1, pair.length - 1).split(S2 + S1)
        words = graft.plans.LazyCheckpoint.shared(
          words.withColumn("enc",
            replace(col("enc"), lit(pair), lit(pair.replace(S2 + S1, "")))))
        merges += ((step.toLong, lhs, rhs, pc))
        step += 1
      }
    }
    merges.result().toDF("step", "lhs", "rhs", "pair_count")
  }

  /** Default histogram cap for [[bpeTrainMergesLocal]]: 2^20 distinct
    * words bounds the driver collect at ~tens of MB while exceeding any
    * real tokenizer's working vocabulary by two orders of magnitude (BPE
    * merges concentrate in the histogram's head; 100 TB of web text has
    * BILLIONS of distinct "words" — URLs, hashes, typos — whose singleton
    * tail contributes nothing a 32k-merge vocabulary keeps).
    */
  val DefaultMaxVocab: Int = 1 << 20

  /** The hybrid BPE trainer — the 100 TB shape for REAL vocabulary sizes:
    * ONE distributed corpus scan builds the word histogram (map-side
    * combined), the TOP-`maxVocab` histogram rows by (count desc, word
    * asc — a distributed TakeOrdered, never a full collect) come back to
    * the driver as control-plane data, and the merge loop runs
    * driver-local over symbol arrays. The cap is finite BY DEFAULT
    * ([[DefaultMaxVocab]] = 2^20): the raw distinct-word count of a web
    * corpus is unbounded (billions at 100 TB), so an uncapped collect is
    * a driver-OOM design — opting out (`maxVocab = 0`) is for histograms
    * the caller KNOWS are bounded (and is exercised only in tests here).
    * [[bpeTrainMerges]] runs the SAME loop as `steps` sequential Spark
    * jobs — exact but ~200 ms/step of scheduling, which at a 32k-merge
    * vocabulary is hours of pure job latency; this local loop does
    * thousands of steps in seconds (wall-time-pinned by
    * `BpeTrainerScaleSpec`), and an equivalence suite pins the two
    * trainers to identical output ([[Bpe]] supplies the one shared
    * rule-application routine).
    *
    * Tie-breaking matches the distributed arg-max exactly: count desc,
    * then the boundary-wrapped pair string ascending in UTF-8 BINARY
    * order (Spark compares `UTF8String` bytes, not Java chars — they
    * differ beyond the BMP). `minPairCount` is the same min-frequency
    * early-stop as [[bpeTrainMerges]]'s.
    */
  def bpeTrainMergesLocal(docs: org.apache.spark.sql.DataFrame, steps: Int,
                          textCol: String = "text",
                          maxVocab: Int = DefaultMaxVocab,
                          minPairCount: Long = 1L): org.apache.spark.sql.DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    require(maxVocab >= 0, "maxVocab must be >= 0 (0 = uncapped opt-out)")
    require(minPairCount >= 1, "minPairCount must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    // markers stripped, as in [[bpeTrainMerges]]
    val histDf = docs.select(explode(normTokens(col(textCol))).as("__w"))
      .select(translate(col("__w"), BpeS1 + BpeS2, "").as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val hist = (if (maxVocab > 0)
      histDf.orderBy(col("cnt").desc, col("word").asc).limit(maxVocab)
    else histDf).as[(String, Long)].collect()
    val words = hist.map { case (w, _) => Bpe.wordSymbols(w) }
    val cnts = hist.map(_._2)
    def wrapped(l: String, r: String): org.apache.spark.unsafe.types.UTF8String =
      org.apache.spark.unsafe.types.UTF8String.fromString(
        BpeS1 + l + BpeS2 + BpeS1 + r + BpeS2)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var w = 0
      while (w < words.length) {
        val syms = words(w); val c = cnts(w)
        var j = 0
        while (j < syms.size - 1) {
          val k = (syms.get(j), syms.get(j + 1))
          pc.update(k, pc.getOrElse(k, 0L) + c)
          j += 1
        }
        w += 1
      }
      if (pc.isEmpty) exhausted = true
      else {
        var best: (String, String) = null
        var bestN = Long.MinValue
        pc.foreachEntry { (k, n) =>
          if (n > bestN || (n == bestN &&
              wrapped(k._1, k._2).compareTo(wrapped(best._1, best._2)) < 0)) {
            best = k; bestN = n
          }
        }
        if (bestN < minPairCount) exhausted = true
        else {
          var w2 = 0
          while (w2 < words.length) {
            words(w2) = Bpe.applyRule(words(w2), best._1, best._2)
            w2 += 1
          }
          merges += ((step.toLong, best._1, best._2, bestN))
          step += 1
        }
      }
    }
    merges.result().toDF("step", "lhs", "rhs", "pair_count")
  }

  /** The BPE vocabulary induced by a corpus and its learned merges: base
    * symbols (every distinct code point appearing in corpus words, plus
    * the `</w>` terminal) followed by the merged symbols in learning
    * order. Dense ids: base symbols sorted ascending (UTF-8 BINARY — the
    * order both Spark and DuckDB sort strings in), then merges by step.
    * This is the id↔symbol table a trainer consumes. One distributed
    * distinct over exploded code points (tiny output), ids assigned
    * deterministically.
    *
    * The table is deduplicated to ONE row per surface string, keeping the
    * LOWEST token_id: two different merge paths can produce the same
    * merged surface (e.g. (a,bc) after (b,c), and (ab,c) after (a,b)
    * both surface as "abc"), and a merged surface can even collide with
    * a base symbol. Without the dedup, every symbol→id equijoin
    * downstream (`text_bpe_ids`, `pipeline_batches`) would fan each
    * occurrence out into one row PER duplicate id — and since the oracle
    * replays the same join, the correctness harness could not see it.
    * The oracle's vocab CTE mirrors the same min-id-per-symbol rule.
    * Duplicate-dropped ids leave gaps; ids stay deterministic.
    */
  def bpeVocab(docs: org.apache.spark.sql.DataFrame,
               merges: Seq[(String, String)],
               textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs
      .select(explode(normTokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .select(explode(split(col("word"), "(?<=[\\s\\S])(?!$)")).as("symbol"))
      .distinct()
      .as[String].collect().sorted(utf8Order) :+ "</w>"
    val rows =
      base.zipWithIndex.map { case (s, i) => (i.toLong, s, "base") } ++
        merges.zipWithIndex.map { case ((l, r), i) =>
          ((base.length + i).toLong, l + r, "merge")
        }
    // first occurrence wins == min token_id per symbol (rows are id-ascending)
    val seen = scala.collection.mutable.HashSet.empty[String]
    rows.filter(r => seen.add(r._2)).toSeq.toDF("token_id", "symbol", "kind")
  }

  /** UTF-8 binary string order — what Spark's `orderBy` on StringType and
    * DuckDB's default VARCHAR collation both compare by. Differs from
    * Java's UTF-16 `compareTo` beyond the BMP.
    */
  private val utf8Order: Ordering[String] = Ordering.comparatorToOrdering(
    (a: String, b: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)))

  /** Apply learned BPE merges ([[bpeTrainMerges]]) to a document — the
    * 100 TB tokenization path: the rules are control-plane data
    * (driver-held, like broadcast centroids) and the corpus streams
    * through a map-only scan projection (no shuffle, no explode). The
    * implementation is the native [[BpeEncodeExpr]] — one text pass, rules
    * applied per word over a small symbol array; see
    * [[bpeEncodeDeclarative]] for the reference formulation it is
    * property-tested bit-identical to.
    *
    * Returns the boundary-wrapped encoded string (deterministic bytes —
    * the oracle md5-verifies it); [[bpeEncodeTokens]] splits it into the
    * subword token array.
    */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.GraftBridge.column(
      BpeEncodeExpr(org.apache.spark.sql.GraftBridge.expression(text), merges))

  /** The declarative twin of [[bpeEncode]]: `merges.size` chained literal
    * `replace`s over the boundary-wrapped whole-text encoding. Kept as the
    * cross-engine reference implementation — it is the exact expression
    * the DuckDB oracle replays, and the property suite asserts the native
    * [[BpeEncodeExpr]] is bit-identical to it. Slower at scale: every
    * rule rewrites the full ~3×-inflated document string once.
    */
  def bpeEncodeDeclarative(text: Column, merges: Seq[(String, String)]): Column = {
    val words = filter(normTokens(text), w => length(w) > 0)
    val enc0 = concat_ws("", transform(words, bpeWordEnc(_)))
    merges.foldLeft(enc0) { case (c, (lhs, rhs)) =>
      replace(c,
        lit(BpeS1 + lhs + BpeS2 + BpeS1 + rhs + BpeS2),
        lit(BpeS1 + lhs + rhs + BpeS2))
    }
  }

  /** Subword tokens of an already-encoded string ([[bpeEncode]] output)
    * split at the symbol boundaries (empty → empty array). Take the
    * encoded string through a named column first when deriving several
    * features from it: the encode is a CodegenFallback subtree, which
    * codegen's subexpression elimination does not share — inlining
    * [[bpeEncode]] here N times would run the whole encode N times per
    * row.
    */
  def bpeTokensFromEncoded(enc: Column): Column =
    when(length(enc) === 0, array().cast("array<string>"))
      .otherwise(split(enc.substr(lit(2), length(enc) - 2), BpeS2 + BpeS1))

  /** The learned-BPE subword tokens of a doc — [[bpeEncode]] split at the
    * symbol boundaries (empty doc → empty array).
    */
  def bpeEncodeTokens(text: Column, merges: Seq[(String, String)]): Column =
    bpeTokensFromEncoded(bpeEncode(text, merges))

  /** Learned-BPE tokenization straight to token ids
    * ([[BpeEncodeIdsExpr]]): one native pass resolving each emitted
    * symbol against the (control-plane) vocabulary inside the scan
    * projection — `array<bigint>` out, so at corpus scale the exploded
    * token stream carries ONLY longs and the per-token symbol strings
    * never enter a shuffle or a broadcast join. Property-tested
    * row-equal to the encode→explode→id-join formulation (which remains
    * the oracle's independent replay). Unknown symbol → -1 (impossible
    * when `vocab` came from [[bpeVocab]] on the same corpus/merges).
    */
  def bpeEncodeIds(text: Column, merges: Seq[(String, String)],
                   vocab: Seq[(String, Long)]): Column =
    org.apache.spark.sql.GraftBridge.column(
      BpeEncodeIdsExpr(org.apache.spark.sql.GraftBridge.expression(text),
        merges, vocab))

  /** Unicode normalization ([[NormalizeExpr]]): form ∈ NFC|NFD|NFKC|NFKD. */
  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    org.apache.spark.sql.GraftBridge.column(
      NormalizeExpr(org.apache.spark.sql.GraftBridge.expression(text), form))

  /** Canonical text cleanup — the normalization front door of a curation
    * pipeline, run before any fingerprint/tokenizer sees the bytes:
    * NFC-compose combining sequences, strip C0/DEL control characters
    * (tab/newline included — they are whitespace, folded by the next
    * step), collapse whitespace runs to one space, trim. Pure scan
    * projection; every step is expressible in ANSI/DuckDB SQL so the
    * cleaned BYTES are oracle-verified (md5), not just row counts.
    */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(unicodeNormalize(text, "NFC"),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "\\s+", " "))

  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")

  /** The one-pass token-statistics struct every text feature derives from
    * ([[TokenStatsExpr]]). Equal instances of this expression inside one
    * projection are evaluated ONCE per row (codegen common-subexpression
    * elimination), so stacking quality + language + repetition columns in
    * a select costs a single tokenize sweep.
    */
  def tokenStats(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      TokenStatsExpr(org.apache.spark.sql.GraftBridge.expression(text),
        stopwords, langProfiles.map(_._2)))

  /** The one-pass per-script character-count struct the script-gate
    * ladder derives from ([[ScriptCountsExpr]]): every BMP script range
    * the langid/profile queries count, plus total and non-whitespace
    * code points, in ONE sweep — replaces the per-script
    * `regexp_replace` length deltas (one full regex pass per script).
    * Equal instances inside one projection evaluate once per row, like
    * [[tokenStats]].
    */
  def scriptCounts(text: Column, stopSets: Seq[String] = Nil): Column =
    org.apache.spark.sql.GraftBridge.column(
      ScriptCountsExpr(org.apache.spark.sql.GraftBridge.expression(text),
        stopSets))

  /** HTML/markup → text extraction ([[HtmlExtractExpr]] — the
    * [[HtmlExtract]] contract): struct<text, n_blocks, n_dropped>.
    * The crawl-ingest pre-step every other text operator assumes has
    * already run; map-only, fused into the scan projection.
    */
  def extractHtml(html: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      HtmlExtractExpr(org.apache.spark.sql.GraftBridge.expression(html)))

  /** Main-content extraction ([[HtmlMainExpr]] — the [[MainContent]]
    * jusText-style classifier): struct<main_text, blocks> with
    * per-block features and classes. Same tag walk as [[extractHtml]],
    * one pass, map-only.
    */
  def htmlMain(html: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      HtmlMainExpr(org.apache.spark.sql.GraftBridge.expression(html)))

  /** Charset sniff + decode ([[CharsetDecodeExpr]] — the
    * [[CharsetDecode]] contract): struct<text, charset, method> from
    * raw bytes plus an optional Content-Type hint. The step between
    * the crawl container (bytes) and [[extractHtml]] (string);
    * map-only, fused into the scan projection.
    */
  def decodeCharset(body: Column, contentType: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      CharsetDecodeExpr(
        org.apache.spark.sql.GraftBridge.expression(body),
        org.apache.spark.sql.GraftBridge.expression(contentType)))

  /** [[decodeCharset]] against a PINNED [[EncodingStore]] artifact
    * ([[CharsetDecodeArtifactExpr]]): the same detection ladder, but
    * the legacy multi-byte families (shift_jis, euc-jp, gbk, gb18030,
    * big5, euc-kr) decode through the pinned version's index tables
    * instead of rejecting. The tables load ONCE at construction on
    * the driver (negative version = latest at construction; 0 is
    * invalid, the stores' shared convention) and ship inside the plan.
    */
  def decodeCharsetFromArtifact(body: Column, contentType: Column,
      dir: String, version: Int = -1): Column =
    org.apache.spark.sql.GraftBridge.column(
      CharsetDecodeArtifactExpr(
        org.apache.spark.sql.GraftBridge.expression(body),
        org.apache.spark.sql.GraftBridge.expression(contentType),
        EncodingStore.tablesAt(dir, version)))

  /** Quality-scoring features: token counts, average token length,
    * stop-word ratio, distinct-token ratio. All exact integer ratios turned
    * into doubles (deterministic across engines — used by the DuckDB oracle).
    */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val st = tokenStats(text)
    val nTok = st.getField("n_tokens")
    Seq(
      "n_tokens" -> nTok,
      "n_chars" -> length(text).cast("long"),
      "avg_token_len" ->
        (st.getField("sum_token_len").cast("double") / nTok),
      "stopword_ratio" -> (st.getField("n_stop").cast("double") / nTok),
      "distinct_ratio" -> (st.getField("n_distinct").cast("double") / nTok))
  }

  /** Repetition signals (the C4/Gopher-style filters a pretraining corpus
    * is screened with): fraction of tokens taken by the single most
    * frequent token, and the fraction of duplicate token bigrams. Exact
    * integer-ratio arithmetic — oracle-reproducible; heavily repetitive
    * machine-generated text scores high on both.
    */
  def repetitionSignals(text: Column): Seq[(String, Column)] = {
    val st = tokenStats(text)
    val nTok = st.getField("n_tokens")
    val totalBigrams = greatest(nTok - 1, lit(0L))
    Seq(
      "top_token_ratio" ->
        round(st.getField("top_count").cast("double") / nTok, 6),
      "dup_bigram_ratio" ->
        round(when(totalBigrams === 0, 0.0)
          .otherwise(lit(1.0) -
            st.getField("distinct_bigrams").cast("double") / totalBigrams), 6))
  }

  /** Composite quality score in [0,1]: rewards mid-length docs, lexical
    * diversity, and a natural stop-word rate. Deterministic arithmetic only.
    */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text).toMap
    val lenScore = least(f("n_tokens").cast("double") / lit(64.0), lit(1.0))
    val divScore = f("distinct_ratio")
    val stopScore = lit(1.0) - abs(f("stopword_ratio") - lit(0.4))
    round((lenScore + divScore + stopScore) / lit(3.0), 6)
  }

  /** Language-ID by marker-token voting (n-gram-free heuristic: count hits
    * against per-language stop-word profiles, argmax, ties → first in list).
    * Pure expression → runs inside codegen; suitable as a pre-filter at
    * corpus scale where a real classifier is a later, costlier pass.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das", "nicht", "ein"),
    "es" -> Seq("el", "la", "de", "que", "los", "una", "por"),
    "fr" -> Seq("le", "les", "et", "des", "une", "est", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "不"))

  def langId(text: Column): Column = {
    val scores = tokenStats(text).getField("lang_scores")
    // struct(score, negIdx, lang): array_max picks highest score, ties → first profile
    val scored = array(langProfiles.zipWithIndex.map { case ((lang, _), i) =>
      struct(
        scores.getItem(i).as("score"),
        lit(-i).as("tiebreak"),
        lit(lang).as("lang"))
    }: _*)
    array_max(scored).getField("lang")
  }

  /** Language-ID from a WEIGHTED-token profile set — the scoring the
    * artifact path runs ([[LangProfileStore]]): a document's score for
    * a language is the integer sum of that language's token weights
    * over the document's whitespace tokens; the verdict is the argmax
    * with the same first-profile tie-break as [[langId]]. Runs as ONE
    * native expression ([[LangIdFromExpr]], per-token hash lookups
    * against tables resolved at construction; CodegenFallback, shared
    * by the Column API and the SQL wire) — map-only in the scan
    * projection, no shuffle, no store access on executors.
    */
  def langIdFrom(text: Column,
                 profiles: Seq[(String, Seq[(String, Long)])]): Column =
    org.apache.spark.sql.GraftBridge.column(
      LangIdFromExpr(
        org.apache.spark.sql.GraftBridge.expression(text), profiles))

  /** [[langIdFrom]] against a PINNED [[LangProfileStore]] artifact:
    * the profile set loads ONCE at construction on the driver
    * ([[VersionedSlots.Files.at]]: negative version = latest at
    * construction, 0 invalid) and ships inside the plan.
    */
  def langIdFromArtifact(text: Column, dir: String,
                         version: Int = -1): Column =
    langIdFrom(text, LangProfileStore.Slots.at(dir, version)._2.asPairs)

  /** BPE-ish subword tokenization by regex: runs of letters, runs of
    * digits, or runs of other non-space symbols — the cheap deterministic
    * stand-in for a learned BPE vocabulary (same class structure GPT-style
    * pre-tokenizers use), cross-engine reproducible for the oracle.
    */
  val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(trim(text)), lit(bpePattern), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text)).cast("long")

  /** Distinct character n-grams of whitespace-normalized lowercase text. */
  def charNgrams(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      CharNgramsExpr(org.apache.spark.sql.GraftBridge.expression(
        regexp_replace(lower(trim(text)), "\\s+", " ")), n))

  /** Language-ID by character-trigram profile overlap (the n-gram
    * heuristic): score(lang) = |distinct trigrams of doc ∩ profile|,
    * argmax, ties → first profile. Spaces inside trigrams carry word-
    * boundary signal (" th", "he ").
    */
  val trigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", " th", "he ", "ing", "ng ", "and", "nd ", " of",
      "of ", " to", "to ", "ed ", " in", "is "),
    "de" -> Seq("der", "er ", "ein", "ich", "ch ", "sch", "die", "ie ",
      "und", " un", "en ", "ung", "cht", " ge"),
    "es" -> Seq(" de", "de ", "la ", " la", "os ", "ión", "ó n", "que",
      "ue ", " qu", "ar ", "el ", " el", "as "),
    "fr" -> Seq(" le", "le ", "es ", " de", "de ", "ent", "nt ", "la ",
      " la", "une", "ne ", " et", "et ", "ais"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "不").map(c => c))

  def langIdNgram(text: Column): Column = {
    val tris = charNgrams(text, 3)
    val chars = charNgrams(text, 1) // CJK profiles are single chars
    val scored = array(trigramProfiles.zipWithIndex.map { case ((lang, profile), i) =>
      val source = if (lang == "zh") chars else tris
      struct(
        size(array_intersect(source, array(profile.map(lit(_)): _*))).as("score"),
        lit(-i).as("tiebreak"),
        lit(lang).as("lang"))
    }: _*)
    array_max(scored).getField("lang")
  }

  /** Content-defined fingerprint: md5 of whitespace-normalized, lowercased
    * text. Cross-engine deterministic (oracle: DuckDB `md5`).
    */
  def fingerprintMd5(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** 31-bit rolling polynomial fingerprint over normalized tokens
    * (base-31 Horner over a 31-bit token hash, kept in [0, 2^31) so the
    * arithmetic never overflows under ANSI mode) — the cheap shift-resistant
    * fingerprint for near-dup pre-bucketing.
    *
    * Token hash is pluggable like [[graft.functions.SimHashExpr]]:
    * xxhash64 (fast, engine-internal) or md5-derived (cross-engine — the
    * DuckDB oracle mirrors it with `md5` + `list_reduce`).
    */
  def fingerprintRolling(text: Column, md5Tokens: Boolean = false): Column = {
    val tokHash: Column => Column =
      if (md5Tokens)
        t => conv(substring(md5(t), 1, 8), 16, 10).cast("long")
          .bitwiseAND(lit(0x7fffffffL))
      else t => xxhash64(t).bitwiseAND(lit(0x7fffffffL))
    aggregate(
      normTokens(text),
      lit(0L),
      (acc, t) => pmod(acc * lit(31L) + tokHash(t), lit(1L << 31)))
  }

  /** Per-(doc, term) TF-IDF over a corpus: tf = term count / doc length,
    * idf = ln(N / df). Two hash aggregates (term-in-doc, then df) — both
    * map-side partial; df joins back on the term, N is a scalar.
    * Output: (doc_id, term, tf, df, tfidf).
    */
  def tfidf(docs: org.apache.spark.sql.DataFrame, textCol: String = "text",
            idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(normTokens(col(textCol))).as("term"))
    val perDoc = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("n"))
    val docLen = perDoc.groupBy("doc_id").agg(sum("n").as("len"))
    val dfreq = perDoc.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(col(idCol)).distinct().count()
    perDoc.join(docLen, "doc_id").join(dfreq, "term")
      .select(col("doc_id"), col("term"),
        (col("n").cast("double") / col("len")).as("tf"), col("df"),
        ((col("n").cast("double") / col("len")) *
          log(lit(n.toDouble) / col("df"))).as("tfidf"))
  }

  /** PII detection/redaction patterns: (kind, regex, replacement token).
    * The regex subset is chosen to behave identically under Java regex
    * (Spark) and RE2 (DuckDB — the oracle recomputes counts and the
    * redacted text): ASCII classes, bounded repetition, `\b` anchors; no
    * backrefs or lookarounds (RE2 has neither). Redaction applies the
    * patterns IN ORDER, so earlier kinds cannot be re-matched by later
    * ones. A real corpus run extends this table (names, addresses need a
    * model pass); the operator shape — counts + in-place redaction in the
    * scan projection, no shuffle — is the 100 TB path either way.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\+\\d{1,2}-\\d{3}-\\d{3}-\\d{4}", "<PHONE>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** Per-kind PII match counts over the raw text. */
  def piiCounts(text: Column): Seq[(String, Column)] =
    piiPatterns.map { case (kind, pattern, _) =>
      s"n_${kind}s" -> regexp_count(text, lit(pattern)).cast("long")
    }

  /** Text with every PII match replaced by its kind token, patterns
    * applied in [[piiPatterns]] order.
    */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (_, pattern, repl)) =>
      regexp_replace(c, pattern, repl)
    }

  /** Corpus-derived unigram language-model score per doc: a token's
    * log-probability is ln(count / total_tokens) over the WHOLE corpus;
    * a doc scores the average log-prob of its tokens (the cheap perplexity
    * proxy used to rank docs by "typicality" — spam and boilerplate sit in
    * the tails). Two map-side-combining aggregates (term counts, totals)
    * + one join of the token stream against the (broadcastable) frequency
    * table; N is carried as a 1-row crossJoin, not a driver round-trip.
    * Output: (doc_id, n_tokens, avg_logprob ROUNDED to 4 — the only
    * accumulated float, so the oracle comparison tolerates summation
    * order).
    */
  def unigramLogProb(docs: org.apache.spark.sql.DataFrame,
                     textCol: String = "text",
                     idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(normTokens(col(textCol))).as("term"))
    val freq = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum("cnt").as("total"))
    toks.join(freq, "term").crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        round(avg(log(col("cnt").cast("double") / col("total"))), 4)
          .as("avg_logprob"))
  }

  /** Corpus-derived BIGRAM language-model score per doc — the step up
    * from [[unigramLogProb]] a curation pass actually ranks with: a
    * bigram's log-probability is the conditional MLE
    * ln(c(w1,w2) / c(w1,·)) over the whole corpus (c(w1,·) = w1's
    * first-position marginal, so the model is self-consistent), and a
    * doc scores the average log-prob of its bigrams. Repetitive
    * boilerplate scores HIGH (its bigrams are corpus-frequent),
    * word-salad scores LOW — the two tails a perplexity filter trims.
    * Shape: one bigram explode (map-only), two map-side-combining
    * aggregates, two equi-joins of the bigram stream against the
    * (vocab²-bounded) count tables. Docs with < 2 tokens carry no
    * bigrams and are excluded (the oracle mirrors the same inner
    * semantics). Output: (doc_id, n_bigrams, avg_logprob ROUNDED to 4 —
    * the only accumulated float, tolerating summation order).
    */
  def bigramLogProb(docs: org.apache.spark.sql.DataFrame,
                    textCol: String = "text",
                    idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    // the token array MUST flow through a named column: the transform
    // lambda's element_at calls would otherwise re-evaluate the regex
    // split PER ELEMENT (HOF lambdas defeat codegen subexpression
    // elimination — measured 12.7 s → 1.0 s at sf0.1). CollapseProject
    // keeps the split because the alias is non-cheap and multiply
    // referenced.
    val toks = col("__toks")
    // guard: sequence(1, 0) DESCENDS, so short docs need the explicit
    // empty list (same pitfall as the BPE trainer's pair builder)
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1), i =>
        struct(element_at(toks, i).as("w1"), element_at(toks, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    // the pair stream feeds BOTH the count aggregate and the scoring
    // join; recomputing the map-only tokenize+explode on each side is
    // CHEAPER than a shared checkpoint (A/B at sf0.1 warm: 1.6 s
    // recomputed vs 2.1 s checkpointed — materializing the pair strings
    // costs more than the second scan)
    val pairs = docs
      .select(col(idCol).as("doc_id"), normTokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), explode(bigrams).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    pairs.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(avg(log(col("c12").cast("double") / col("c1"))), 4)
          .as("avg_logprob"))
  }

  /** PMI collocation extraction — the corpus-analysis op that surfaces
    * multiword expressions ("new york", "machine learning") for
    * tokenizer/phrase-mining pipelines: adjacent-bigram pointwise
    * mutual information `ln(P(w1,w2) / (P(w1)·P(w2)))` with a minimum
    * pair-count floor (PMI without a floor is maximized by hapax noise
    * — the floor IS the operator's statistical guard), top-N by PMI.
    *
    * Shape at scale: one token explode → unigram aggregate, one bigram
    * explode → pair aggregate (both map-side-combined), two
    * vocab-bounded equi-joins of the FLOORED pair table against the
    * unigram counts, a 1-row totals broadcast, TakeOrdered top-N (no
    * global sort). All probability arithmetic runs in doubles with a
    * fixed operation order (`(c12·T·T) / (B·c1·c2)`, each product
    * left-to-right) so both engines compute the identical IEEE value;
    * the PMI is rounded to 4 decimals (the [[bigramLogProb]] ulp-
    * headroom argument) before ranking, ties break on the pair.
    * Output: (w1, w2, n_pair, pmi, rk ≤ topN).
    */
  def pmiBigrams(docs: org.apache.spark.sql.DataFrame, topN: Int = 20,
                 minCount: Long = 5,
                 textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(topN >= 1 && minCount >= 1, "topN and minCount must be >= 1")
    val toks = col("__toks")
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1), i =>
        struct(element_at(toks, i).as("w1"), element_at(toks, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val pairs = docs
      .select(normTokens(col(textCol)).as("__toks"))
      .select(explode(bigrams).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uni = docs
      .select(explode(normTokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val c12 = pairs.groupBy("w1", "w2")
      .agg(count(lit(1)).as("n_pair"))
    val totals = c12.agg(sum("n_pair").as("__b"))
      .crossJoin(uni.agg(sum("cw").as("__t")))
    val pmi = round(log(
      (col("n_pair").cast("double") * col("__t") * col("__t")) /
        (col("__b").cast("double") * col("c1") * col("c2"))), 4)
    val scored = c12.filter(col("n_pair") >= minCount)
      .join(uni.select(col("w").as("w1"), col("cw").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi", pmi)
    scored
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc).limit(topN)
      .select(col("w1"), col("w2"), col("n_pair"), col("pmi"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)))
  }

  /** Trigram STUPID-BACKOFF language-model scoring of a HELD-OUT batch
    * under a corpus-trained model — the cross-corpus form of
    * [[bigramLogProb]] (which scores a corpus under itself, where every
    * n-gram is by construction seen): a new crawl scores under last
    * snapshot's LM, and unseen trigrams back off
    * `S(w3|w1w2) = c123/c12 → α·c23/c2 → α²·(c3+1)/(N+V)`
    * (Brants et al.'s stupid backoff with an add-one unigram floor, so
    * the score is defined for fully novel tokens). This is the
    * perplexity-style quality gate run where it is actually used:
    * ranking INCOMING text, not the training corpus.
    *
    * Shape at scale: the batch's trigram stream left-joins five
    * train-side count tables (trigram, trigram-context, bigram,
    * bigram-context, unigram — all corpus-vocabulary-bounded and
    * map-side-combined) plus one 1-row (N, V) broadcast; everything
    * else is scan expressions. Docs with < 3 tokens carry no trigrams
    * and are excluded (inner semantics, mirrored by the oracle).
    * Output: (doc_id, n_trigrams, avg_logprob ROUNDED to 4 — the only
    * accumulated float, tolerating summation order).
    */
  def backoffLogProb(train: org.apache.spark.sql.DataFrame,
                     batch: org.apache.spark.sql.DataFrame,
                     alpha: Double = 0.4,
                     textCol: String = "text",
                     idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    val toks = col("__toks")
    val tris = when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2), i =>
        struct(element_at(toks, i).as("w1"),
          element_at(toks, i + 1).as("w2"),
          element_at(toks, i + 2).as("w3"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string,w3:string>>"))
    val bigs = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1), i =>
        struct(element_at(toks, i).as("wa"),
          element_at(toks, i + 1).as("wb"))))
      .otherwise(array().cast("array<struct<wa:string,wb:string>>"))
    def base(docs: org.apache.spark.sql.DataFrame) = docs
      .select(col(idCol).as("doc_id"), normTokens(col(textCol)).as("__toks"))
    def triStream(docs: org.apache.spark.sql.DataFrame) = docs
      .select(col("doc_id"), explode(tris).as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"),
        col("t.w3").as("w3"))
    // tokenize the training corpus ONCE: the trigram, bigram and unigram
    // count streams each consume the same token arrays — without the
    // barrier each ran its own normTokens scan over the full train side
    // (three tokenize passes per model build)
    val trainBase = graft.plans.LazyCheckpoint.shared(base(train))
    val c123 = triStream(trainBase).groupBy("w1", "w2", "w3")
      .agg(count(lit(1)).as("c123"))
    val c12 = c123.groupBy("w1", "w2").agg(sum("c123").as("c12"))
    val c23 = trainBase.select(explode(bigs).as("b"))
      .select(col("b.wa").as("w2"), col("b.wb").as("w3"))
      .groupBy("w2", "w3").agg(count(lit(1)).as("c23"))
    val c2 = c23.groupBy("w2").agg(sum("c23").as("c2"))
    val unis = trainBase.select(explode(toks).as("w3"))
    val c3 = unis.groupBy("w3").agg(count(lit(1)).as("c3"))
    val tot = unis.agg(count(lit(1)).as("__n"),
      count_distinct(col("w3")).as("__v"))
    val lp =
      when(col("c123").isNotNull,
        log(col("c123").cast("double") / col("c12")))
      .when(col("c23").isNotNull,
        log(lit(alpha) * (col("c23").cast("double") / col("c2"))))
      .otherwise(log(lit(alpha * alpha) *
        ((coalesce(col("c3"), lit(0L)) + 1).cast("double") /
          (col("__n") + col("__v")))))
    triStream(base(batch))
      .join(c123, Seq("w1", "w2", "w3"), "left")
      .join(c12, Seq("w1", "w2"), "left")
      .join(c23, Seq("w2", "w3"), "left")
      .join(c2, Seq("w2"), "left")
      .join(c3, Seq("w3"), "left")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_trigrams"),
        round(avg(lp), 4).as("avg_logprob"))
  }

  /** BM25 document ranking for a fixed query-term set — the lexical
    * retrieval scorer of a RAG / retrieval-curation pipeline (Robertson–
    * Spärck Jones weights with the Lucene `+1` idf, so idf > 0 even for
    * terms present in most documents). Returns the top `k` documents by
    * score with their integer micro-unit score and dense selection rank.
    *
    * Shape at scale — ONE corpus scan, ZERO corpus shuffles: each query
    * term's tf is an array expression over the shared token split
    * (`size(filter(toks, = term))`, computed in the scan projection — the
    * term list is a literal, there is no explode and no (doc, term)
    * shuffle), corpus statistics (N, Σdl, per-term df) are ONE 1-row
    * aggregate broadcast back over the scan, the score is a pure
    * expression, and selection is a global top-k (TakeOrdered heaps).
    *
    * Cross-engine exactness: tf/df/dl/N are integers; avgdl divides two
    * exactly-represented integer doubles (correctly rounded, identical
    * anywhere); each per-term partial is rounded to integer MICRO-UNITS
    * before the per-doc sum, so the accumulated score is long addition —
    * order-free, hash-comparable (the [[qualityScore]] micro-unit
    * discipline). The only transcendental (ln in idf) sits before a 1e6
    * round, absorbing any libm ulp.
    *
    * Output: (doc_id, n_hit, score_micro, rk) — `n_hit` = how many query
    * terms the doc contains; docs containing none score 0 and rank after
    * every hit (ties break on doc_id).
    */
  def bm25TopK(docs: org.apache.spark.sql.DataFrame, terms: Seq[String],
               k: Int, k1: Double = 1.2, b: Double = 0.75,
               textCol: String = "text",
               idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(terms.distinct == terms, "query terms must be distinct")
    require(k >= 1, "k must be >= 1")
    val toks = col("__toks")
    val perDoc = docs
      .select(col(idCol).as("doc_id"), normTokens(col(textCol)).as("__toks"))
      .select(col("doc_id") +: size(toks).cast("long").as("__dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(toks, x => x === lit(t))).cast("long").as(s"__tf_$i")
        }: _*)
    val stats = perDoc.agg(
      count(lit(1)).cast("long").as("__n"),
      sum("__dl").as("__tot") +:
        terms.indices.map(i => sum(when(col(s"__tf_$i") > 0, 1L)
          .otherwise(0L)).as(s"__df_$i")): _*)
    val joined = perDoc.crossJoin(broadcast(stats))
    // per-term partial, micro-rounded BEFORE the fixed-order long sum —
    // formula structure mirrored verbatim by the SQL oracle so both
    // engines round the same double
    def partial(i: Int): Column = {
      val tf = col(s"__tf_$i").cast("double")
      val idf = log(lit(1.0) +
        (col("__n") - col(s"__df_$i") + lit(0.5)) /
          (col(s"__df_$i") + lit(0.5)))
      val avgdl = col("__tot").cast("double") / col("__n")
      round(idf * (tf * lit(k1 + 1)) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * (col("__dl") / avgdl))) *
        lit(1e6)).cast("long")
    }
    val nHit = terms.indices
      .map(i => when(col(s"__tf_$i") > 0, 1).otherwise(0))
      .reduce(_ + _).cast("int")
    val scored = joined.select(col("doc_id"), nHit.as("n_hit"),
      terms.indices.map(partial).reduce(_ + _).as("score_micro"))
    val top = scored
      .orderBy(col("score_micro").desc, col("doc_id").asc).limit(k)
    // rank window over the k winners only (control-plane-sized)
    top.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("score_micro").desc, col("doc_id").asc)))
  }

  /** Distinct word n-gram shingles (n consecutive tokens joined by space);
    * docs with fewer than n tokens yield an empty array. Native single-pass
    * expression ([[ShinglesExpr]]) — the HOF formulation
    * (`transform(sequence, slice+concat_ws)`) interprets one expression tree
    * per shingle position and dominated the dedup profile at scale.
    */
  def shingles(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      ShinglesExpr(org.apache.spark.sql.GraftBridge.expression(text), n))
}
