package graft

import java.nio.file.Files

import graft.functions.{ExprMapFunction, FunctionCatalog, LibraryStore}
import graft.model.IndexDef
import graft.operators.IndexBuilder

/** EP3 — durable function library: save/get/delete CRUD, parse validation
  * at save time, and consumption at index-build time.
  */
class LibraryStoreSpec extends SparkSpec {
  import spark.implicits._
  import LibraryStore.Entry

  private def tmp = Files.createTempDirectory("graft_lib").toString

  test("save / get / list / delete round-trip") {
    val dir = tmp
    LibraryStore.save(dir, Entry("bal", Seq("c_acctbal"), None, "balance key"))
    LibraryStore.save(dir, Entry("seg", Seq("upper(c_mktsegment)")))
    assert(LibraryStore.get(dir, "bal").get.description == "balance key")
    assert(LibraryStore.list(dir).map(_.name) == Seq("bal", "seg"))
    // upsert overwrites
    LibraryStore.save(dir, Entry("bal", Seq("c_acctbal * 2")))
    assert(LibraryStore.get(dir, "bal").get.exprs == Seq("c_acctbal * 2"))
    assert(LibraryStore.delete(dir, "seg"))
    assert(LibraryStore.get(dir, "seg").isEmpty && !LibraryStore.delete(dir, "seg"))
  }

  test("save rejects unparsable expressions and illegal names") {
    val dir = tmp
    intercept[Exception] {
      LibraryStore.save(dir, Entry("bad", Seq("SELECT FROM nope (")))
    }
    intercept[IllegalArgumentException] {
      LibraryStore.save(dir, Entry("../escape", Seq("1")))
    }
    assert(LibraryStore.list(dir).isEmpty)
  }

  test("every deploy claims an immutable version; pins survive promotes") {
    val dir = tmp
    // deploy v1 (direct save), then v2 (draft+promote), then v3 (save)
    assert(LibraryStore.save(dir, Entry("bal", Seq("c_acctbal"))) == 1)
    LibraryStore.saveTemp(dir, Entry("bal", Seq("c_acctbal * 2")))
    LibraryStore.promote(dir, "bal")
    assert(LibraryStore.save(dir, Entry("bal", Seq("c_acctbal * 3"))) == 3)
    val (bal, hist) = (LibraryStore.history("bal"), LibraryStore.historyDir(dir))
    assert(bal.versions(hist) == Seq(1, 2, 3))
    // the live surface moved on; every pinned version still reads as
    // deployed — an index built against bal@v2 is reproducible forever
    assert(LibraryStore.get(dir, "bal").get.exprs == Seq("c_acctbal * 3"))
    assert(bal.get(hist, 1).get.exprs == Seq("c_acctbal"))
    assert(bal.get(hist, 2).get.exprs == Seq("c_acctbal * 2"))
    // histories are per-name: another function starts at v1
    assert(LibraryStore.save(dir, Entry("seg", Seq("c_mktsegment"))) == 1)
    assert(bal.versions(hist) == Seq(1, 2, 3))
    // drafts alone never claim a version — only deploys do
    LibraryStore.saveTemp(dir, Entry("bal", Seq("c_acctbal * 9")))
    assert(bal.versions(hist) == Seq(1, 2, 3))
    // history GC: keeps the newest versions of THIS name only; the
    // live entry and other functions' histories are untouched
    assert(bal.gc(hist, keepLast = 2) == Seq(1))
    assert(bal.versions(hist) == Seq(2, 3))
    assert(LibraryStore.history("seg").versions(hist) == Seq(1))
    assert(LibraryStore.get(dir, "bal").get.exprs == Seq("c_acctbal * 3"))
    // numbering stays monotonic past the swept history
    assert(LibraryStore.save(dir, Entry("bal", Seq("c_acctbal * 4"))) == 4)
  }

  test("loadInto at a pinned version registers that version's code") {
    val dir = tmp
    LibraryStore.save(dir, Entry("key_fn", Seq("upper(name)")))
    LibraryStore.save(dir, Entry("key_fn", Seq("lower(name)")))
    val catalog = new FunctionCatalog
    // pin v1 against the newer deploy: the catalog gets v1's expressions
    val fn = LibraryStore.loadInto(dir, catalog, "key_fn", version = 1)
    assert(fn.name == "key_fn")
    val docsDf = Seq((1L, "Alpha"), (2L, "Beta")).toDF("id", "name")
    val out = IndexBuilder.build(docsDf,
      IndexDef("i", "docs", "id", funcName = Some("key_fn")), catalog)
    assert(out.select("key").as[String].collect().toSet
      == Set("ALPHA", "BETA"),
      "the pinned v1 build must reproduce v1 keys (upper), not the " +
        "live deploy's lower")
    // a pin to a never-deployed version fails loudly
    intercept[NoSuchElementException] {
      LibraryStore.loadInto(dir, catalog, "key_fn", version = 9)
    }
  }

  test("two-phase save: a draft is invisible until promoted") {
    val dir = tmp
    LibraryStore.save(dir, Entry("live", Seq("c_acctbal")))
    LibraryStore.saveTemp(dir, Entry("wip", Seq("upper(c_mktsegment)")))
    // the draft exists in the temp store only — new builds cannot see it
    assert(LibraryStore.getTemp(dir, "wip").isDefined)
    assert(LibraryStore.get(dir, "wip").isEmpty)
    assert(LibraryStore.list(dir).map(_.name) == Seq("live"))
    val catalog = new FunctionCatalog
    assert(LibraryStore.loadInto(dir, catalog) == 1)
    assert(catalog.lookup("wip").isEmpty)
    // promote deploys it and clears the draft
    val deployed = LibraryStore.promote(dir, "wip")
    assert(deployed.exprs == Seq("upper(c_mktsegment)"))
    assert(LibraryStore.get(dir, "wip").isDefined)
    assert(LibraryStore.getTemp(dir, "wip").isEmpty)
    assert(LibraryStore.list(dir).map(_.name) == Seq("live", "wip"))
    intercept[NoSuchElementException] { LibraryStore.promote(dir, "wip") }
  }

  test("draft edit of a deployed function stays isolated until promoted") {
    val dir = tmp
    LibraryStore.save(dir, Entry("bal", Seq("c_acctbal")))
    LibraryStore.saveTemp(dir, Entry("bal", Seq("c_acctbal * 2")))
    assert(LibraryStore.get(dir, "bal").get.exprs == Seq("c_acctbal")) // still v1
    LibraryStore.promote(dir, "bal")
    assert(LibraryStore.get(dir, "bal").get.exprs == Seq("c_acctbal * 2"))
    // discard path: a draft can be dropped without touching the primary
    LibraryStore.saveTemp(dir, Entry("bal", Seq("c_acctbal * 3")))
    assert(LibraryStore.discardTemp(dir, "bal"))
    assert(LibraryStore.get(dir, "bal").get.exprs == Seq("c_acctbal * 2"))
  }

  test("save rejection carries the parse position (line/column)") {
    val dir = tmp
    val err = intercept[IllegalArgumentException] {
      LibraryStore.save(dir, Entry("bad", Seq("c_acctbal + ")))
    }
    assert(err.getMessage.contains("line 1"))
    assert(err.getMessage.contains("column"))
    assert(err.getMessage.contains("c_acctbal + "))
    assert(err.getCause.isInstanceOf[
      org.apache.spark.sql.catalyst.parser.ParseException])
    // drafts get the same gate
    val err2 = intercept[IllegalArgumentException] {
      LibraryStore.saveTemp(dir, Entry("bad", Seq("1"), where = Some("x >")))
    }
    assert(err2.getMessage.contains("where clause") &&
      err2.getMessage.contains("line 1"))
    assert(LibraryStore.list(dir).isEmpty && LibraryStore.listTemp(dir).isEmpty)
  }

  test("SQL library CRUD: save/list/get/draft/promote/delete from spark.sql") {
    GraftExtensions.register(spark)
    val dir = tmp
    def q(sql: String) = spark.sql(sql)
    assert(q(s"SELECT graft_lib_save('$dir', 'bal', array('c_acctbal'), " +
      "NULL, 'balance key')").as[String].head() == "saved")
    // draft of the same name: isolated until promoted
    assert(q(s"SELECT graft_lib_save_draft('$dir', 'bal', " +
      "array('c_acctbal * 2'))").as[String].head() == "draft")
    assert(q(s"SELECT graft_lib_get('$dir', 'bal').exprs")
      .as[Seq[String]].head() == Seq("c_acctbal"))
    assert(q(s"SELECT graft_lib_get('$dir', 'bal', true).exprs")
      .as[Seq[String]].head() == Seq("c_acctbal * 2"))
    assert(q(s"SELECT graft_lib_promote('$dir', 'bal')")
      .as[String].head() == "promoted")
    assert(q(s"SELECT graft_lib_get('$dir', 'bal').exprs")
      .as[Seq[String]].head() == Seq("c_acctbal * 2"))
    // list returns name-ordered structs; explode works
    q(s"SELECT graft_lib_save('$dir', 'aaa', array('1'))").collect()
    val names = q(s"SELECT e.name FROM (SELECT explode(graft_lib_list(" +
      s"'$dir')) AS e)").as[String].collect().toSeq
    assert(names == Seq("aaa", "bal"))
    assert(q(s"SELECT graft_lib_get('$dir', 'nope')").head().isNullAt(0))
    assert(q(s"SELECT graft_lib_delete('$dir', 'aaa')").as[Boolean].head())
    // bad expression rejected with position info, nothing written
    val err = intercept[Exception] {
      q(s"SELECT graft_lib_save('$dir', 'bad', array('x +'))").collect()
    }
    assert(err.getMessage.contains("line 1"))
    // a non-boolean flag fails ANALYSIS (never silently reads as false):
    // 'true' the string and 1 the int both used to mean force=false
    for (bad <- Seq(s"graft_lib_delete('$dir', 'bal', 'true')",
                    s"graft_lib_delete('$dir', 'bal', 1)",
                    s"graft_lib_get('$dir', 'bal', 'yes')",
                    s"graft_lib_list('$dir', 0)")) {
      val e = intercept[Exception] { q(s"SELECT $bad").collect() }
      assert(e.getMessage.contains("BOOLEAN"), s"$bad: ${e.getMessage}")
    }
    assert(LibraryStore.get(dir, "bal").isDefined) // nothing was deleted
  }

  test("delete refuses while a registered index references the function " +
      "(the reference's http_handlers.go:1842 TODO, closed)") {
    val dir = tmp
    val catalog = new FunctionCatalog
    LibraryStore.save(dir, Entry("used", Seq("upper(name)")))
    catalog.registerIndex(
      IndexDef("by_name", "docs", "id", funcName = Some("used")))
    val err = intercept[IllegalStateException] {
      LibraryStore.delete(dir, "used", catalog = catalog)
    }
    // the message must name the dependents and the way out
    assert(err.getMessage.contains("by_name"))
    assert(err.getMessage.contains("force"))
    assert(LibraryStore.get(dir, "used").isDefined) // nothing was deleted
    // force overrides the guard
    assert(LibraryStore.delete(dir, "used", force = true, catalog = catalog))
    // dropping the dependent index also unblocks a plain delete
    LibraryStore.save(dir, Entry("used", Seq("upper(name)")))
    assert(catalog.dropIndex("by_name"))
    assert(LibraryStore.delete(dir, "used", catalog = catalog))
    // drafts are exempt: they are invisible to builds, so an in-use NAME
    // can still have its draft discarded
    LibraryStore.save(dir, Entry("live", Seq("1")))
    catalog.registerIndex(
      IndexDef("by_live", "docs", "id", funcName = Some("live")))
    LibraryStore.saveTemp(dir, Entry("live", Seq("2")))
    assert(LibraryStore.discardTemp(dir, "live"))
    assert(LibraryStore.get(dir, "live").isDefined)
  }

  test("SQL graft_lib_delete honors the referential guard and force") {
    GraftExtensions.register(spark)
    val dir = tmp
    def q(sql: String) = spark.sql(sql)
    q(s"SELECT graft_lib_save('$dir', 'inuse', array('upper(name)'))").collect()
    // a unique source keeps the equivalence dedup from aliasing this def
    val idx = FunctionCatalog.global.registerIndex(IndexDef(
      "lib_guard_idx", "lib_guard_src", "id", funcName = Some("inuse")))
    try {
      val err = intercept[Exception] {
        q(s"SELECT graft_lib_delete('$dir', 'inuse')").collect()
      }
      assert(err.getMessage.contains(idx))
      assert(q(s"SELECT graft_lib_get('$dir', 'inuse')").head() != null)
      assert(q(s"SELECT graft_lib_delete('$dir', 'inuse', true)")
        .as[Boolean].head())
    } finally FunctionCatalog.global.dropIndex(idx)
  }

  test("persisted function drives an index build after catalog reload") {
    val dir = tmp
    LibraryStore.save(dir, Entry("name_key", Seq("upper(name)")))
    val catalog = new FunctionCatalog
    assert(LibraryStore.loadInto(dir, catalog) == 1)
    val docsDf = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
    val out = IndexBuilder.build(docsDf,
      IndexDef("i", "docs", "id", funcName = Some("name_key")), catalog)
    assert(out.select("key").as[String].collect().toSeq == Seq("ALPHA", "BETA"))
    assert(catalog.lookup("name_key").get.isInstanceOf[ExprMapFunction])
  }
}
