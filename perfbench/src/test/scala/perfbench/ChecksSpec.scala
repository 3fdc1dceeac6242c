package perfbench

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Row

import graft.model.{IndexDef, Opcode}

/** Every output check rejects a planted wrong answer. */
class ChecksSpec extends AnyFunSuite {
  import IndexInputs._

  private val snap = snapshot(9, 500)
  private val log = mutations(9, snap, 3000, 1L)
  private val truth = replay(snap, log).values

  /** Index rows shaped as the engine returns them for `d` over `docs`. */
  private def engineRows(d: IndexDef, docs: Iterable[Doc]): Seq[Row] = (d.name match {
    case "im_age_active" => docs.collect {
      case x if x.status == "active" && x.age.isDefined => Row(x.age.get, x.docid) }
    case "im_tags" => docs.flatMap(x => x.tags.map(t => Row(t, x.docid)))
    case "im_primary" => docs.map(x => Row(x.docid))
    case "im_tag_company" => docs.flatMap(x =>
      x.company.toSeq.flatMap(c => x.tags.map(t => Row(s"$t@$c", x.docid))))
  }).toSeq

  test("index_maintain: engine rows of a correct index pass the replay check") {
    Seq(whereIdx, tagsIdx, primaryIdx).foreach { d =>
      assert(entryProblems(expected(d, truth), renderRows(engineRows(d, truth))).isEmpty)
    }
    assert(entryProblems(expected(lambdaIdx, snap), renderRows(engineRows(lambdaIdx, snap))).isEmpty)
  }

  test("index_maintain: a dropped retraction leaves a stale entry the replay check rejects") {
    // a delete of a snapshot doc that no later change touches
    val del = log.find(c => c.opcode != Opcode.Mutation && snap.exists(_.docid == c.docid) &&
      !log.exists(o => o.docid == c.docid && o.seqno > c.seqno)).get
    val wrong = replay(snap, log.filterNot(_.seqno == del.seqno)).values
    val p = entryProblems(expected(primaryIdx, truth), renderRows(engineRows(primaryIdx, wrong)))
    assert(p.exists(_.contains(s"${del.docid} want 0 got 1")))
  }

  test("index_maintain: a key change applied without retracting the old key is rejected") {
    // a snapshot doc, active before and after, whose age the log changed
    val (before, _) = snap.iterator.flatMap(b => truth.find(_.docid == b.docid).map(b -> _))
      .find { case (b, n) => b.status == "active" && n.status == "active" &&
        b.age.isDefined && n.age.isDefined && b.age != n.age }.get
    val stale = engineRows(whereIdx, truth) :+ Row(before.age.get, before.docid)
    val p = entryProblems(expected(whereIdx, truth), renderRows(stale))
    assert(p.exists(_.contains(s"${before.age.get}|${before.docid} want 0 got 1")))
  }

  test("index_maintain: a function-keyed build missing one emitted key is rejected") {
    val rows = engineRows(lambdaIdx, snap)
    val p = entryProblems(expected(lambdaIdx, snap), renderRows(rows.tail))
    assert(p.exists(_.contains("want 1 got 0")))
  }

  test("retrieval: a deleted id returned after its commit is rejected") {
    val deleted = Set(42L)
    assert(RetrievalInputs.probeProblems((1L to 10L), deleted, 10).isEmpty)
    val p = RetrievalInputs.probeProblems(Seq(42L) ++ (1L to 9L), deleted, 10)
    assert(p.exists(_.contains("deleted id 42")))
    assert(RetrievalInputs.probeProblems((1L to 9L) :+ 1L, deleted, 10).nonEmpty)
    assert(RetrievalInputs.probeProblems(1L to 9L, deleted, 10).nonEmpty)
    val live = (0L until 100L).toSet - 42L
    assert(RetrievalInputs.hybridProblems(Seq(1L, 2L), deleted, live, 10).isEmpty)
    assert(RetrievalInputs.hybridProblems(Seq(1L, 42L), deleted, live, 10)
      .exists(_.contains("deleted id 42")))
    assert(RetrievalInputs.hybridProblems(Seq(1L, 200L), deleted, live, 10)
      .exists(_.contains("unknown id 200")))
    assert(RetrievalInputs.hybridProblems(Nil, deleted, live, 10).nonEmpty)
  }

  test("retrieval: exact kNN ranks by cosine") {
    import RetrievalInputs.Vec
    val live = Seq(Vec(1, Array(1f, 0f)), Vec(2, Array(0f, 1f)), Vec(3, Array(1f, 1f)))
    assert(RetrievalInputs.exactTopK(Array(1f, 0.1f), live, 2) == Seq(1L, 3L))
  }

  test("curation: a kept duplicate, an over-budget sequence and a lost token are rejected") {
    import CurationInputs.passProblems
    val kept = Seq(1L -> "a b c", 2L -> "d e f")
    val seqs = Seq(("en", 0L, 512L), ("en", 1L, 88L))
    def failing(ps: Seq[(String, Option[String])]) = ps.collect { case (n, Some(_)) => n }
    assert(failing(passProblems(kept, Seq(7L), seqs, 512, 600, 600)).isEmpty)
    assert(failing(passProblems(kept :+ (3L -> "A  b c"), Nil, seqs, 512, 600, 600)) ==
      Seq("kept_texts_distinct"))
    assert(failing(passProblems(kept :+ (7L -> "x"), Seq(7L), seqs, 512, 600, 600)) ==
      Seq("exact_duplicates_dropped"))
    assert(failing(passProblems(kept, Nil, seqs :+ (("de", 0L, 513L)), 512, 600, 600)) ==
      Seq("sequences_within_budget"))
    assert(failing(passProblems(kept, Nil, seqs, 512, 599, 600)) ==
      Seq("packed_tokens_equal_kept"))
  }
}
