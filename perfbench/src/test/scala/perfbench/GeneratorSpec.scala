package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {

  private def inputs(workload: String, seed: Long): String = {
    val work = Files.createTempDirectory("perfbench-gen")
    try {
      Main.workloads(workload)(seed, work, 2).generate(work.resolve("in"))
      Gen.digest(work.resolve("in"))
    } finally Gen.deleteTree(work)
  }

  Seq("index_maintain", "retrieval").foreach { w =>
    test(s"$w: the same seed gives byte-identical inputs, another seed others") {
      val a = inputs(w, 11)
      assert(a == inputs(w, 11))
      assert(a != inputs(w, 12))
    }
  }

  test("the mutation log follows the op mix and a Zipf docid skew") {
    val snap = IndexInputs.snapshot(5, 2000)
    val log = IndexInputs.mutations(5, snap, 20000, 1L)
    val deletes = log.count(_.opcode == "DELETION")
    val expires = log.count(_.opcode == "EXPIRATION")
    assert(deletes > 20000 * 0.15 && deletes < 20000 * 0.25)
    assert(expires > 20000 * 0.03 && expires < 20000 * 0.09)
    assert(log.exists(c => c.opcode == "DELETION" && c.doc.isDefined))
    assert(log.exists(c => c.opcode == "DELETION" && c.doc.isEmpty))
    val hits = log.filter(_.docid < 2000).groupBy(_.docid).values.map(_.size).toSeq.sorted
    // the hottest docid draws far more than its uniform share
    assert(hits.last > 20 * (20000.0 / 2000))
    assert(log.map(_.seqno) == (1L to 20000L))
  }

  test("the WARC corpus plants exact and near duplicates") {
    val ps = CurationInputs.pages(3, 600)
    val exact = ps.filter(_.exact)
    val near = ps.filter(p => p.dupOf.isDefined && !p.exact)
    assert(exact.length > 30 && near.length > 20)
    exact.foreach(p => assert(ps(p.dupOf.get).paragraphs == p.paragraphs))
    assert(ps.map(_.charset).distinct.length == CurationInputs.Charsets.length)
    assert(ps.map(_.lang).distinct.length == CurationInputs.Langs.length)
  }
}
