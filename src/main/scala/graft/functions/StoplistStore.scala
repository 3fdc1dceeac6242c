package graft.functions

/** Versioned store for PER-LANGUAGE stopword lists — the data half of
  * the [[MainContent]] classifier: jusText ships one stoplist per
  * language, and a production pipeline selects the list by each
  * page's detected language. The lists are DATA on the same footing
  * as the tokenizer merges, the PSL and the language-ID profiles
  * ([[TokenizerStore]] / [[PslStore]] / [[LangProfileStore]]
  * discipline: one immutable JSON per version in [[Slots]], a
  * [[VersionedSlots.Files]], construction-time pinning) —
  * a stoplist edit is an artifact ROLLOUT, not a code change, and two
  * pins of the same corpus diff the classifier's behavior exactly.
  *
  * A language absent from the pinned version classifies with the
  * EMPTY stoplist — every stopword density is zero, so undecorated
  * prose falls to `bad`. That is the honest conservative default
  * (keep nothing you cannot judge), and the rollout that adds the
  * language un-nulls it, the single-byte-charset shape.
  */
object StoplistStore {

  /** `charLists` (absent in pre-v3-era files — reads as None) carries
    * the per-CHARACTER function-word lists for space-free scripts:
    * the [[MainContent]] char branch's data half. Entries are
    * single-character strings (JSON has no char type); longer
    * entries (including surrogate pairs) are dropped by
    * [[charListsAt]] at the store boundary — every consumer sees
    * single-char entries only, never a silent truncation.
    */
  final case class Artifact(version: Int,
                            lists: Map[String, Seq[String]],
                            charLists: Option[Map[String, Seq[String]]]
                              = None)

  /** The version slots: `stoplists_v<N>.json`, listing, pinning, GC. */
  val Slots = VersionedSlots.Files[Artifact]("stoplists", "stoplist artifact")

  /** Persist per-language lists as the NEXT version (atomic,
    * immutable); words are stored lowercase (matching is
    * lowercase-verbatim per the [[MainContent]] contract). Char
    * lists are stored verbatim (CJK has no case).
    */
  def save(dir: String, lists: Map[String, Seq[String]],
           charLists: Map[String, Seq[String]] = Map.empty): Int =
    Slots.save(dir)(v => Artifact(v,
      lists.map { case (l, ws) =>
        l -> ws.map(_.toLowerCase(java.util.Locale.ROOT)) },
      if (charLists.isEmpty) None else Some(charLists)))

  /** Load a pinned version's lists as match-ready sets
    * ([[VersionedSlots.Files.at]]: negative = latest at construction,
    * 0 invalid).
    */
  def listsAt(dir: String, version: Int): Map[String, Set[String]] =
    Slots.at(dir, version)._2.lists.map { case (l, ws) => l -> ws.toSet }

  /** Load a pinned version's per-character lists (same version
    * resolution as [[listsAt]]); a version saved before the char
    * rollout loads as empty — the word-only behavior, unchanged.
    * Multi-character entries (a word smuggled into a char list, or a
    * supplementary-plane char serialized as a surrogate pair) are
    * filtered HERE so the single-char contract holds for every
    * consumer, not just [[HtmlMainLangExpr]].
    */
  def charListsAt(dir: String, version: Int): Map[String, Seq[String]] =
    Slots.at(dir, version)._2.charLists.getOrElse(Map.empty)
      .map { case (l, cs) => l -> cs.filter(_.length == 1) }
}
