package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** UNIGRAM-LM tokenizer (the SentencePiece family) — the OTHER
  * tokenizer real LLM stacks train beside BPE: instead of learning
  * merge rules bottom-up, a unigram model scores a candidate vocabulary
  * top-down (seed with frequent substrings, EM-re-estimate token
  * probabilities from how the corpus actually segments, prune) and
  * encodes by VITERBI — the maximum-likelihood segmentation of each
  * word under the token scores.
  *
  * Reference analog: a registered evaluator transforming raw documents
  * into emitted keys (`/root/reference/Projector/indexjs.go:73-191`) —
  * tokenization is the map function an LLM-data pipeline registers
  * between extraction and packing, and the trained model is catalog
  * data fetched frozen at evaluator construction
  * (`/root/reference/Projector/indexjs.go:21`), which is exactly
  * [[UnigramStore]]'s pinned-artifact discipline.
  *
  * INTEGER-EXACT CONTRACT (the [[graft.operators.LinkGraph]] PageRank
  * discipline: a SQL oracle must replay every decision without float
  * summation/rounding hazards, so log-probabilities quantize to
  * integers BY CONTRACT, not as an implementation shortcut):
  *
  *  - `ilog2(n) = floor(log2(n))` computed exactly (bit length — both
  *    the JVM and SQL compute it without floating point).
  *  - A token's COST is `ilog2(T) - ilog2(count)` where `T` is the
  *    total count mass of its vocabulary generation — the integer
  *    quantization of `-log2 p(token)`. Viterbi MINIMIZES total cost,
  *    which maximizes the quantized likelihood; the `ilog2(T)` term
  *    per emitted token is what makes one frequent long token beat
  *    two very frequent halves, exactly as the real `-n·log T` term
  *    does.
  *  - Viterbi ties (equal total cost at a word position) resolve to
  *    the LARGER last-token length — deterministic, and replayable as
  *    one `ORDER BY cost ASC, t DESC` in SQL.
  *
  * TRAINING (hard-EM — Viterbi counts, not expected counts; the
  * honest name for the integer-exact variant, documented rather than
  * hidden):
  *
  *  1. Word histogram: one distributed corpus scan (map-side combined
  *     groupBy), top-`maxVocab` rows to the driver — the
  *     [[TextOps.bpeTrainMergesLocal]] hybrid shape: the histogram is
  *     the only corpus-scale aggregate; everything after is
  *     control-plane arithmetic over ≤ 2^20 rows.
  *  2. SEED: every substring of length 1..[[MaxTokenLen]] of every
  *     histogram word, weighted by word count × occurrences.
  *  3. Seed vocabulary: ALL single characters (coverage — encode can
  *     never fail) plus the top `multiVocab` longer substrings by
  *     (seed count desc, token asc in UTF-8 binary order).
  *  4. Per EM round: Viterbi-segment every histogram word under the
  *     current costs (E), re-count each token's usage = Σ word count ×
  *     occurrences-in-segmentation, re-derive costs from usage with
  *     `T` = total usage mass, and PRUNE: longer tokens must be used
  *     (usage ≥ 1) and survive the same top-`multiVocab` rank; single
  *     chars always stay — an unused char keeps coverage at the
  *     OOV-level cost `ilog2(T) + 1`.
  *
  * ENCODE: per word of [[TextOps.normTokens]], the Viterbi
  * segmentation under the FINAL costs; a single character absent from
  * the vocabulary (possible only on corpora other than the training
  * one) is emitted as itself at the OOV cost — the UNK-as-char
  * convention, so output token count is always defined. Words longer
  * than [[MaxWordLen]] fall back to per-character segmentation (a
  * bounded-depth contract keeps the SQL replay's DP a fixed CTE
  * chain; real corpus "words" that long are URLs/hashes a real
  * tokenizer also refuses to model).
  *
  * 100 TB shape: training is one histogram scan + driver-local loop
  * (control-plane, like the k-means centroids); encode is a native
  * scan expression ([[UnigramEncodeExpr]]) with the vocabulary as
  * plan literals — map-only, no shuffle, no executor store access.
  */
object Unigram {

  /** Seed substrings up to this length — SentencePiece's
    * max_sentencepiece_length default is longer, but 4 covers the
    * subword regime BPE's 10-step fixtures exercise and bounds the
    * seed at 4 rows per word char.
    */
  val MaxTokenLen = 4

  /** Viterbi DP depth bound — words longer than this segment
    * per-character (see above).
    */
  val MaxWordLen = 24

  /** floor(log2(n)) for n ≥ 1, exactly (no floating point). */
  @inline def ilog2(n: Long): Long = {
    require(n >= 1, s"ilog2 domain is n >= 1, got $n")
    63L - java.lang.Long.numberOfLeadingZeros(n)
  }

  /** One trained vocabulary entry: surface, final usage count, integer
    * cost (`ilog2(T) - ilog2(count)`, or `ilog2(T) + 1` for an unused
    * coverage char).
    */
  final case class Entry(token: String, count: Long, cost: Long)

  /** A trained model: entries (sorted token asc) + the OOV single-char
    * cost (`ilog2(T) + 1` of the final generation).
    */
  final case class Model(entries: Seq[Entry], oovCost: Long) {
    def costs: Map[String, Long] =
      entries.map(e => e.token -> e.cost).toMap
  }

  private def utf8Lt(a: String, b: String): Boolean =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

  /** Viterbi segmentation of one word under integer costs — minimum
    * total cost, ties to the larger last-token length. `costs` maps
    * tokens of length 1..[[MaxTokenLen]]; unknown single chars cost
    * `oovCost`.
    */
  def segment(word: String, costs: Map[String, Long],
              oovCost: Long): Seq[String] = {
    val n = word.length
    if (n == 0) return Seq.empty
    if (n > MaxWordLen) return word.map(_.toString)
    val dp = new Array[Long](n + 1)
    val back = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      var bestCost = Long.MaxValue
      var bestT = 0
      val tMax = math.min(MaxTokenLen, i)
      var t = 1
      while (t <= tMax) {
        val tok = word.substring(i - t, i)
        val c: Long =
          if (t == 1) costs.getOrElse(tok, oovCost)
          else costs.getOrElse(tok, -1L)
        if (c >= 0) {
          val cand = dp(i - t) + c
          // strict < plus ascending t: at equal cost the LARGER t wins
          if (cand < bestCost || (cand == bestCost && t > bestT)) {
            bestCost = cand; bestT = t
          }
        }
        t += 1
      }
      dp(i) = bestCost; back(i) = bestT
      i += 1
    }
    // backtrace
    var at = n
    var out = List.empty[String]
    while (at > 0) {
      val t = back(at)
      out = word.substring(at - t, at) :: out
      at -= t
    }
    out
  }

  /** Train on a word histogram (driver-local control-plane loop — the
    * caller supplies the distributed histogram). `multiVocab` = how
    * many tokens of length ≥ 2 each generation keeps.
    */
  def trainOnHistogram(hist: Seq[(String, Long)], multiVocab: Int,
                       emRounds: Int): Model = {
    require(multiVocab >= 0, "multiVocab must be >= 0")
    require(emRounds >= 0, "emRounds must be >= 0")
    // seed: substrings 1..MaxTokenLen weighted by count × occurrences
    val seed = scala.collection.mutable.HashMap.empty[String, Long]
    hist.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        var l = 1
        while (l <= MaxTokenLen && i + l <= w.length) {
          val t = w.substring(i, i + l)
          seed.update(t, seed.getOrElse(t, 0L) + c)
          l += 1
        }
        i += 1
      }
    }
    def generation(counts: collection.Map[String, Long],
                   keepChars: Iterable[String]): Model = {
      val total = counts.valuesIterator.sum
      val t = if (total >= 1) ilog2(total) else 0L
      val oov = t + 1
      val multi = counts.iterator.filter(_._1.length >= 2).toSeq
        .sortWith { case ((ta, ca), (tb, cb)) =>
          if (ca != cb) ca > cb else utf8Lt(ta, tb) }
        .take(multiVocab)
      val chars = keepChars.toSeq.distinct.map { ch =>
        val c = counts.getOrElse(ch, 0L)
        if (c >= 1) Entry(ch, c, t - ilog2(c)) else Entry(ch, 0L, oov)
      }
      val entries = (chars ++ multi.map { case (tok, c) =>
        Entry(tok, c, t - ilog2(c)) })
        .sortWith((a, b) => utf8Lt(a.token, b.token))
      Model(entries, oov)
    }
    val seedChars = seed.keysIterator.filter(_.length == 1).toSeq
      .sortWith(utf8Lt)
    var model = generation(seed, seedChars)
    var r = 0
    while (r < emRounds) {
      val costs = model.costs
      val usage = scala.collection.mutable.HashMap.empty[String, Long]
      hist.foreach { case (w, c) =>
        segment(w, costs, model.oovCost).foreach { tok =>
          usage.update(tok, usage.getOrElse(tok, 0L) + c)
        }
      }
      model = generation(usage, seedChars)
      r += 1
    }
    model
  }

  /** The hybrid trainer: ONE distributed histogram scan (capped — the
    * [[TextOps.bpeTrainMergesLocal]] discipline and rationale), then
    * the driver-local loop above.
    */
  def train(docs: org.apache.spark.sql.DataFrame, multiVocab: Int,
            emRounds: Int = 1, textCol: String = "text",
            maxVocab: Int = TextOps.DefaultMaxVocab): Model = {
    import org.apache.spark.sql.functions._
    val spark = docs.sparkSession
    import spark.implicits._
    val histDf = docs
      .select(explode(TextOps.normTokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val hist = (if (maxVocab > 0)
      histDf.orderBy(col("cnt").desc, col("word").asc).limit(maxVocab)
    else histDf).as[(String, Long)].collect().toSeq
    trainOnHistogram(hist, multiVocab, emRounds)
  }

  /** Column helper: Viterbi-encode an `array<string>` of words (the
    * [[TextOps.normTokens]] output — splitting stays Spark's own) to
    * the flattened token sequence.
    */
  def encode(words: org.apache.spark.sql.Column, model: Model)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftBridge.column(
      UnigramEncodeExpr(
        org.apache.spark.sql.GraftBridge.expression(words),
        model.entries.map(e => (e.token, e.cost)), model.oovCost))
}

/** `unigram_encode(words)` → `array<string>` — the Viterbi encoder as
  * a native expression: the vocabulary's (token, cost) table and the
  * OOV cost ride in the plan as literals (control-plane sized — the
  * [[LangIdFromExpr]] discipline), each row's words segment in one
  * pass, no UDF, no shuffle, no store access on executors.
  */
case class UnigramEncodeExpr(child: Expression,
                             vocab: Seq[(String, Long)],
                             oovCost: Long)
    extends UnaryExpression with CodegenFallback {

  require(vocab.forall(_._1.nonEmpty), "vocab tokens must be non-empty")
  require(vocab.forall(_._1.length <= Unigram.MaxTokenLen),
    s"vocab tokens must be <= ${Unigram.MaxTokenLen} chars")

  @transient private lazy val costs: Map[String, Long] = vocab.toMap

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "unigram_encode"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects array<string> words, got ${other.catalogString}")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val w = arr.getUTF8String(i).toString
        if (w.nonEmpty)
          Unigram.segment(w, costs, oovCost).foreach { t =>
            out += UTF8String.fromString(t)
          }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramEncodeExpr =
    copy(child = newChild)
}

/** Versioned store for trained unigram models — the
  * [[TokenizerStore]] discipline (one immutable JSON per version,
  * [[VersionedSlots.Files]] slots, pinned loads) applied to the
  * second tokenizer family: train ONCE, persist (entries + OOV cost +
  * training config), and every later encode loads the FROZEN artifact.
  */
object UnigramStore {

  final case class Artifact(version: Int, multiVocab: Int,
                            emRounds: Int,
                            entries: Seq[Unigram.Entry],
                            oovCost: Long) {
    def model: Unigram.Model = Unigram.Model(entries, oovCost)
  }

  /** The version slots: `unigram_v<N>.json`, listing, pinning, GC. */
  val Slots = VersionedSlots.Files[Artifact]("unigram", "unigram model")

  def save(dir: String, multiVocab: Int, emRounds: Int,
           model: Unigram.Model): Int =
    Slots.save(dir)(v =>
      Artifact(v, multiVocab, emRounds, model.entries, model.oovCost))
}
