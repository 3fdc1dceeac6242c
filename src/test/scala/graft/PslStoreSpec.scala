package graft

import graft.functions.PslStore

/** [[PslStore]]: the publicsuffix.org matching algorithm (exact,
  * wildcard, exception, the implicit `*` rule) and the versioned
  * artifact lifecycle.
  */
class PslStoreSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val rules = PslStore.parseRules(Seq(
    "// comments and blanks are tolerated", "",
    "com", "uk", "co.uk", "k12.ma.us", "us", "io", "github.io",
    "jp", "br", "*.nom.br", "*.kawasaki.jp", "!city.kawasaki.jp"))

  test("exact rules: longest match wins, eTLD+1 is suffix + 1") {
    assert(rules.registrable("www.example.com") == "example.com")
    assert(rules.registrable("shop.example.co.uk") == "example.co.uk")
    assert(rules.registrable("deep.sub.k12.ma.us") == "sub.k12.ma.us")
    assert(rules.registrable("user.github.io") == "user.github.io")
  }

  test("wildcard rules match exactly one label") {
    assert(rules.registrable("a.b.nom.br") == "a.b.nom.br",
      "*.nom.br makes b.nom.br a public suffix")
    assert(rules.registrable("x.other.kawasaki.jp")
      == "x.other.kawasaki.jp")
    // the wildcard itself needs one more label to be registrable
    assert(rules.registrable("b.nom.br") == null,
      "a host that IS a public suffix has no registrable domain")
  }

  test("exception rules prevail over their wildcard") {
    assert(rules.registrable("city.kawasaki.jp") == "city.kawasaki.jp")
    assert(rules.registrable("sub.city.kawasaki.jp")
      == "city.kawasaki.jp")
  }

  test("the implicit * rule backs unknown TLDs; pass-throughs hold") {
    assert(rules.registrable("example.foobar") == "example.foobar")
    assert(rules.registrable("a.b.example.foobar") == "example.foobar")
    assert(rules.registrable("localhost") == "localhost")
    assert(rules.registrable("10.0.0.1") == "10.0.0.1")
    assert(rules.registrable("[::1]") == "[::1]")
    assert(rules.registrable("github.io") == null)
    assert(rules.registrable("com") == "com", "single label passes")
  }

  test("interior wildcards are rejected by name") {
    val e = intercept[IllegalArgumentException](
      PslStore.parseRules(Seq("a.*.b")))
    assert(e.getMessage.contains("interior wildcard"))
  }

  test("versioned lifecycle: save allocates, get pins, latest follows") {
    val dir = java.nio.file.Files
      .createTempDirectory("psl_spec").toString
    assert(PslStore.Slots.versions(dir).isEmpty)
    assert(PslStore.save(dir, Seq("com")) == 1)
    assert(PslStore.save(dir, Seq("com", "co.uk")) == 2)
    assert(PslStore.Slots.versions(dir) == Seq(1, 2))
    assert(PslStore.Slots.get(dir, 1).get.rules == Seq("com"))
    assert(PslStore.Slots.latest(dir).get.version == 2)
    assert(PslStore.Slots.get(dir, 3).isEmpty)
    // the two versions resolve the SAME host differently — the whole
    // point of pinning
    val v1 = PslStore.parseRules(PslStore.Slots.get(dir, 1).get.rules)
    val v2 = PslStore.parseRules(PslStore.Slots.get(dir, 2).get.rules)
    assert(v1.registrable("shop.example.co.uk") == "co.uk")
    assert(v2.registrable("shop.example.co.uk") == "example.co.uk")
  }
}
