package graft

import graft.functions.{TextOps, Unigram, UnigramStore}

/** [[Unigram]] — the integer-cost unigram-LM tokenizer: exact ilog2,
  * Viterbi determinism (min cost, ties to the larger last token),
  * closed-form training on hand histograms, the MaxWordLen fallback,
  * OOV-as-char coverage, and the store round-trip.
  */
class UnigramSpec extends SparkSpec {

  test("ilog2 is exact floor(log2) on the bit boundaries") {
    assert(Unigram.ilog2(1) == 0 && Unigram.ilog2(2) == 1 &&
      Unigram.ilog2(3) == 1 && Unigram.ilog2(4) == 2 &&
      Unigram.ilog2(1023) == 9 && Unigram.ilog2(1024) == 10)
    intercept[IllegalArgumentException](Unigram.ilog2(0))
  }

  test("segment: min total cost wins; the ilog2(T) share per token " +
      "makes one long token beat two frequent halves") {
    // "data" cost 4 vs "da"+"ta" cost 2+2: whole word wins
    val costs = Map("data" -> 4L, "da" -> 2L, "ta" -> 2L,
      "d" -> 6L, "a" -> 6L, "t" -> 6L)
    assert(Unigram.segment("data", costs, oovCost = 9L) == Seq("data"))
    // halves strictly cheaper -> split wins
    val cheapHalves = costs + ("da" -> 1L) + ("ta" -> 1L)
    assert(Unigram.segment("data", cheapHalves, 9L) == Seq("da", "ta"))
  }

  test("segment ties resolve to the LARGER last-token length") {
    // "ab"(2) vs "a"(1)+"b"(1): equal total 2 -> the 2-char token
    val costs = Map("ab" -> 2L, "a" -> 1L, "b" -> 1L)
    assert(Unigram.segment("ab", costs, 9L) == Seq("ab"))
  }

  test("segment: OOV single chars emit as themselves at the OOV cost; " +
      "words beyond MaxWordLen fall back per-character") {
    val costs = Map("a" -> 1L)
    assert(Unigram.segment("axa", costs, 5L) == Seq("a", "x", "a"))
    val long = "a" * (Unigram.MaxWordLen + 1)
    assert(Unigram.segment(long, Map("aa" -> 0L, "a" -> 1L), 5L) ==
      long.map(_.toString))
    // at the bound, normal DP still applies
    val atBound = "a" * Unigram.MaxWordLen
    assert(Unigram.segment(atBound, Map("aa" -> 0L, "a" -> 1L), 5L) ==
      Seq.fill(Unigram.MaxWordLen / 2)("aa"))
  }

  test("trainOnHistogram: closed-form seed counts, costs, and one " +
      "hard-EM round's usage pruning") {
    // hist: "abab" x3 -> substrings (len<=4): a:6 b:6 ab:6 ba:3
    // aba:3 bab:3 abab:3 ; T0 = 30, ilog2(T0)=4
    val m0 = Unigram.trainOnHistogram(Seq(("abab", 3L)),
      multiVocab = 2, emRounds = 0)
    val e0 = m0.entries.map(e => (e.token, e.count, e.cost))
    // chars a,b (cnt 6, cost 4-2=2); top-2 multi by (cnt desc, token
    // asc): ab (6, cost 2), then tie 3 among ba/aba/bab/abab -> aba
    assert(e0 == Seq(("a", 6L, 2L), ("ab", 6L, 2L), ("aba", 3L, 3L),
      ("b", 6L, 2L)))
    assert(m0.oovCost == 5L)
    // EM round: viterbi("abab") under those costs: "ab"+"ab" (4) vs
    // "aba"+"b" (5) vs chars (8) -> ab x2; usage: ab:6 -> T1=6,
    // ilog2=2; chars unused keep coverage at oovCost 3
    val m1 = Unigram.trainOnHistogram(Seq(("abab", 3L)),
      multiVocab = 2, emRounds = 1)
    val e1 = m1.entries.map(e => (e.token, e.count, e.cost))
    assert(e1 == Seq(("a", 0L, 3L), ("ab", 6L, 0L), ("b", 0L, 3L)))
  }

  test("UnigramEncodeExpr flattens per-word Viterbi over normTokens; " +
      "store round-trips the whole model") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq((1L, "abab aba x"), (2L, "")).toDF("doc_id", "text")
    val m = Unigram.Model(Seq(
      Unigram.Entry("a", 6, 2), Unigram.Entry("b", 6, 2),
      Unigram.Entry("ab", 6, 2), Unigram.Entry("x", 1, 4)), oovCost = 5)
    val out = docs.select(col("doc_id"),
      Unigram.encode(TextOps.normTokens(col("text")), m).as("toks"))
      .orderBy("doc_id").collect()
    assert(out(0).getSeq[String](1) == Seq("ab", "ab", "ab", "a", "x"))
    assert(out(1).getSeq[String](1) == Seq.empty)
    val dir = Scratch.dir("graft_unigram_spec")
    val v = UnigramStore.save(dir, multiVocab = 2, emRounds = 1, m)
    val back = UnigramStore.Slots.get(dir, v).get
    assert(back.model == m && back.multiVocab == 2 && back.emRounds == 1)
    assert(UnigramStore.Slots.get(dir, v + 1).isEmpty)
  }
}
