package graft.functions

/** Versioned store for language-identification profiles — the
  * artifact load path [[TextOps.langId]]'s embedded 5-language
  * stop-word vote stands in for: a production curation run loads a
  * REAL multi-language profile set (per-language token weight tables)
  * the same way the tokenizer loads its merges
  * ([[TokenizerStore]] — one immutable JSON per version in [[Slots]],
  * a [[VersionedSlots.Files]], construction-time pinning).
  * Scoring stays deterministic-integer: a document's score for a
  * language is the sum of that language's weights over the document's
  * whitespace tokens; the verdict is the argmax with first-profile
  * tie-break ([[TextOps.langIdFrom]]). Profiles are
  * control-plane-sized (a few hundred weighted tokens per language in
  * a real model), so they bake into the expression as literals and
  * every executor scores without touching the store.
  */
object LangProfileStore {

  final case class TokenWeight(token: String, weight: Long)
  final case class LangProfile(lang: String, weights: Seq[TokenWeight])
  final case class Artifact(version: Int, profiles: Seq[LangProfile]) {
    def asPairs: Seq[(String, Seq[(String, Long)])] =
      profiles.map(p => p.lang -> p.weights.map(w => (w.token, w.weight)))
  }

  /** The version slots: `langid_v<N>.json`, listing, pinning, GC. */
  val Slots = VersionedSlots.Files[Artifact]("langid", "langid profile")

  /** Persist a profile set as the NEXT version (atomic, immutable). */
  def save(dir: String,
           profiles: Seq[(String, Seq[(String, Long)])]): Int =
    Slots.save(dir)(v => Artifact(v, profiles.map { case (l, ws) =>
      LangProfile(l, ws.map { case (t, w) => TokenWeight(t, w) })
    }))
}

/** `langid_from(text)` → language name: the weighted-token scoring as
  * ONE native expression (profile tables resolved at construction,
  * hash lookups per token) — both the Column API
  * ([[TextOps.langIdFrom]]) and the SQL wire (`graft_langid_v`) run
  * THIS, so the scoring cannot drift between surfaces. Tokenization
  * matches the declarative form the oracles replay:
  * `split(lower(trim(text)), '\s+')`; verdict is argmax with
  * first-profile tie-break.
  */
case class LangIdFromExpr(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    profiles: Seq[(String, Seq[(String, Long)])])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  require(profiles.nonEmpty, "langid_from needs at least one profile")

  override def dataType: DataType = StringType
  override def prettyName: String = "langid_from"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "a string text",
      (child.dataType.catalogString, TextExprTypes.isString(child.dataType)))

  @transient private lazy val tables: Array[(String, java.util.HashMap[String, java.lang.Long])] =
    profiles.map { case (lang, ws) =>
      val m = new java.util.HashMap[String, java.lang.Long]()
      ws.foreach { case (t, w) => m.put(t, w) }
      (lang, m)
    }.toArray

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toString
      .trim.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    var best = 0
    var bestScore = Long.MinValue
    var i = 0
    while (i < tables.length) {
      val m = tables(i)._2
      var score = 0L
      var k = 0
      while (k < toks.length) {
        val w = m.get(toks(k))
        if (w != null) score += w.longValue()
        k += 1
      }
      // strict >: ties keep the EARLIER profile
      if (score > bestScore) { best = i; bestScore = score }
      i += 1
    }
    UTF8String.fromString(tables(best)._1)
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): LangIdFromExpr =
    copy(child = newChild)
}
