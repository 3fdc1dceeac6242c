package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.functions.{TextOps, TokenizerStore}
import graft.functions.TokenizerStore.{MergeRule, VocabEntry}

/** Versioned tokenizer artifacts: immutable version pinning, train→save→
  * load round-trip, and encode-from-artifact ≡ encode-from-memory.
  */
class TokenizerStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp = Files.createTempDirectory("graft_tok").toString

  private def corpus = Seq(
    (1L, "the cat sat on the mat", "web"),
    (2L, "the cat ate the rat", "web"),
    (3L, "low lower lowest newer newest", "books"),
    (4L, "ab ab ab abab", "books"),
    (5L, "", "books")
  ).toDF("doc_id", "text", "source")

  test("save allocates monotone versions; a pinned version never drifts") {
    val dir = tmp
    assert(TokenizerStore.Slots.versions(dir).isEmpty &&
      TokenizerStore.Slots.latest(dir).isEmpty)
    val v1 = TokenizerStore.trainAndSave(dir, corpus, steps = 3)
    val art1 = TokenizerStore.get(dir, v1).get
    val v2 = TokenizerStore.trainAndSave(dir, corpus, steps = 6)
    assert(v1 == 1 && v2 == 2)
    assert(TokenizerStore.Slots.versions(dir) == Seq(1, 2))
    // the pin: v1 re-read AFTER v2 landed is byte-for-byte the same
    // artifact (merges, vocab, config), and latest() is v2
    assert(TokenizerStore.get(dir, v1).get == art1)
    assert(art1.steps == 3 && art1.merges.length <= 3)
    val art2 = TokenizerStore.Slots.latest(dir).get
    assert(art2.version == v2 && art2.steps == 6)
    // more steps extend, never rewrite, the earlier merge prefix
    assert(art2.mergePairs.take(art1.mergePairs.length) == art1.mergePairs)
  }

  test("versions are immutable: a colliding save never overwrites") {
    val dir = tmp
    val v1 = TokenizerStore.save(dir, steps = 1, minPairCount = 1L,
      Seq(MergeRule(1, "a", "b", 5)), Seq(VocabEntry(0, "a", "base")))
    // simulate a concurrent writer having taken the next slot
    Files.writeString(Paths.get(dir, s"tokenizer_v${v1 + 1}.json"), "{}")
    val v3 = TokenizerStore.save(dir, steps = 1, minPairCount = 1L,
      Seq(MergeRule(1, "c", "d", 2)), Seq(VocabEntry(0, "c", "base")))
    assert(v3 == v1 + 2) // skipped the occupied slot instead of clobbering
    assert(TokenizerStore.get(dir, v1).get.merges.head.lhs == "a")
  }

  test("encode from the reloaded artifact ≡ encode from training memory") {
    val dir = tmp
    val docs = corpus
    // in-memory training result (what the non-persisted queries use)
    val memMerges = TextOps.bpeTrainMergesLocal(docs, steps = 5)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val memVocab = TextOps.bpeVocab(docs, memMerges)
      .select("symbol", "token_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // the same training persisted and reloaded through JSON
    val v = TokenizerStore.trainAndSave(dir, docs, steps = 5)
    val art = TokenizerStore.get(dir, v).get
    assert(art.mergePairs == memMerges)
    assert(art.vocabIds == memVocab)
    // and the encodes agree bit-for-bit on every doc
    val a = docs.select(col("doc_id"),
        TextOps.bpeEncode(col("text"), art.mergePairs).as("enc"),
        TextOps.bpeEncodeIds(col("text"), art.mergePairs, art.vocabIds)
          .as("ids"))
      .orderBy("doc_id").collect()
    val b = docs.select(col("doc_id"),
        TextOps.bpeEncode(col("text"), memMerges).as("enc"),
        TextOps.bpeEncodeIds(col("text"), memMerges, memVocab).as("ids"))
      .orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("SQL wire surface: versions/get/latest/save, and fetched rules " +
      "drive bpe_encode to the same bytes") {
    GraftExtensions.register(spark)
    val dir = tmp
    def q(sql: String) = spark.sql(sql)
    assert(q(s"SELECT graft_tok_versions('$dir')")
      .as[Seq[Int]].head().isEmpty)
    assert(q(s"SELECT graft_tok_latest('$dir')").head().isNullAt(0))
    val v1 = TokenizerStore.trainAndSave(dir, corpus, steps = 4)
    assert(q(s"SELECT graft_tok_versions('$dir')")
      .as[Seq[Int]].head() == Seq(v1))
    // the fetched wire rules feed bpe_encode directly: same bytes as the
    // Scala-side encode from the same artifact
    val rules = q(s"SELECT graft_tok_get('$dir', $v1).rules")
      .as[String].head()
    val viaSql = corpus.selectExpr("doc_id",
        s"bpe_encode(text, '${rules.replace("'", "''")}') AS enc")
      .orderBy("doc_id").as[(Long, String)].collect()
    val art = TokenizerStore.get(dir, v1).get
    val viaScala = corpus.select(col("doc_id"),
        TextOps.bpeEncode(col("text"), art.mergePairs).as("enc"))
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(viaSql.sameElements(viaScala))
    // wire save: push the same artifact back as a new version
    val vocab = q(s"SELECT graft_tok_get('$dir', $v1).vocab").as[String].head()
    val v2 = q(("SELECT graft_tok_save('" + dir + "', 4, 1, '" +
        rules.replace("'", "''") + "', '" + vocab.replace("'", "''") + "')"))
      .as[Int].head()
    assert(v2 == v1 + 1)
    val got = TokenizerStore.get(dir, v2).get
    assert(got.mergePairs == art.mergePairs)
    assert(got.vocabIds == art.vocabIds)
    assert(q(s"SELECT graft_tok_latest('$dir').version").as[Int].head() == v2)
    // malformed wire lines fail loudly
    val err = intercept[Exception] {
      q(s"SELECT graft_tok_save('$dir', 1, 1, 'no-tab-here', 'a\t1')").collect()
    }
    assert(err.getMessage.contains("TAB"))
  }

  test("artifact round-trips non-ASCII symbols through JSON") {
    val dir = tmp
    val uni = Seq((1L, "héllo héllo wörld 日本 日本 𝒳𝒳", "w"))
      .toDF("doc_id", "text", "source")
    val v = TokenizerStore.trainAndSave(dir, uni, steps = 4)
    val art = TokenizerStore.get(dir, v).get
    val mem = TextOps.bpeTrainMergesLocal(uni, steps = 4)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(art.mergePairs == mem)
    // beyond-BMP base symbols (𝒳 is a surrogate pair) survive the store
    assert(art.vocab.exists(_.symbol == "𝒳"))
  }
}
