package graft.functions

/** Versioned store for trained BPE tokenizer artifacts — the production
  * shape of the tokenizer tier: train ONCE on a corpus snapshot, persist
  * (merges + vocabulary + training config), and every later batch or
  * streaming encode loads the FROZEN artifact instead of retraining.
  * Retraining per query silently re-ids every previously emitted token;
  * an artifact pin is what makes token streams comparable across runs.
  * Mirrors the reference's catalog shape for evaluator code: stored via
  * the library save path (`http_handlers.go:2031-2057`) and fetched
  * frozen at evaluator construction (`Projector/indexjs.go:21`) — here
  * the "code" is the merge table and vocabulary, which are data, not
  * closures, so they persist safely across JVMs.
  *
  * Layout: one JSON file per version, `dir/tokenizer_v<N>.json`, kept
  * by [[Slots]] ([[VersionedSlots.Files]]). Versions are immutable —
  * [[save]] always allocates the next free slot (atomic, exclusive,
  * staged full-bytes publish), so a pinned `get(dir, v)` can never
  * observe drift or a truncated artifact. The artifact is
  * control-plane-sized (merge rules
  * ≤ steps, vocab ≤ base-symbols + steps — the same bound that lets the
  * encode expressions carry it as literals), so a single JSON file per
  * version is the right durability unit even for a 100 TB corpus's
  * tokenizer.
  */
object TokenizerStore {

  final case class MergeRule(step: Long, lhs: String, rhs: String,
                             pairCount: Long)
  final case class VocabEntry(tokenId: Long, symbol: String, kind: String)

  /** One immutable trained tokenizer. `merges` are ordered by step;
    * `vocab` is the dense id table [[TextOps.bpeVocab]] builds.
    */
  // maxVocab is Option for artifacts written before the field existed
  // (json4s maps a missing field to None); it is the THIRD training
  // input that determines the learned merges — without it a pinned
  // version's provenance cannot be re-derived
  final case class Artifact(
      version: Int,
      steps: Int,
      minPairCount: Long,
      merges: Seq[MergeRule],
      vocab: Seq[VocabEntry],
      maxVocab: Option[Int] = None) {

    /** The (lhs, rhs) rule list the encode expressions consume. */
    def mergePairs: Seq[(String, String)] =
      merges.sortBy(_.step).map(r => (r.lhs, r.rhs))

    /** The symbol→id table [[TextOps.bpeEncodeIds]] consumes. */
    def vocabIds: Seq[(String, Long)] =
      vocab.map(e => (e.symbol, e.tokenId))
  }

  /** The version slots: `tokenizer_v<N>.json`, listing, pinning, GC. */
  val Slots = VersionedSlots.Files[Artifact]("tokenizer", "tokenizer")

  /** Persist a trained tokenizer as the NEXT version; returns the
    * allocated version number.
    */
  def save(dir: String, steps: Int, minPairCount: Long,
           merges: Seq[MergeRule], vocab: Seq[VocabEntry],
           maxVocab: Option[Int] = None): Int =
    Slots.save(dir)(v =>
      Artifact(v, steps, minPairCount, merges, vocab, maxVocab))

  /** Load a pinned version (immutable — repeated gets always agree). */
  def get(dir: String, version: Int): Option[Artifact] =
    Slots.get(dir, version)

  /** Train on `docs` ([[TextOps.bpeTrainMergesLocal]] — the capped hybrid
    * trainer — plus [[TextOps.bpeVocab]]) and persist the result; returns
    * the new version. This is the ONE place training and storage meet:
    * everything downstream encodes from the frozen artifact.
    */
  def trainAndSave(dir: String, docs: org.apache.spark.sql.DataFrame,
                   steps: Int, textCol: String = "text",
                   maxVocab: Int = TextOps.DefaultMaxVocab,
                   minPairCount: Long = 1L): Int = {
    val merges = TextOps.bpeTrainMergesLocal(docs, steps, textCol,
        maxVocab, minPairCount)
      .orderBy("step").collect()
      .map(r => MergeRule(r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    val vocab = TextOps.bpeVocab(docs,
        merges.map(m => (m.lhs, m.rhs)), textCol)
      .collect()
      .map(r => VocabEntry(r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq
    save(dir, steps, minPairCount, merges, vocab, Some(maxVocab))
  }
}
