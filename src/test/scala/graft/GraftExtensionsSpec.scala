package graft

import org.apache.spark.sql.functions._

/** SQL-facing function registration (SparkSessionExtensions seam + post-hoc
  * registry): the engine's native expressions usable from spark.sql.
  */
class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  GraftExtensions.register(spark)

  test("GraftSession config: AQE, broadcast threshold, SQL functions") {
    val s = GraftSession.create("local[2]", cores = 2)
    assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(s.sql("SELECT vec_dot(array(1.0D), array(3.0D)) AS d")
      .collect().head.getDouble(0) == 3.0)
  }

  test("vec_dot from SQL") {
    val out = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .as[Double].head()
    assert(out == 32.0)
  }

  test("simhash64 from SQL equals the operator's signature") {
    Seq((1L, "the quick brown fox")).toDF("doc_id", "text")
      .createOrReplaceTempView("t")
    val viaSql = spark.sql(
      "SELECT simhash64(split(lower(trim(text)), '\\\\s+')) AS s FROM t")
      .as[Long].head()
    val viaOp = graft.operators.Dedup.simhash(
      Seq((1L, "the quick brown fox")).toDF("doc_id", "text"))
      .select("simhash").as[Long].head()
    assert(viaSql == viaOp)
  }

  test("graft_emit: LATERAL VIEW multi-emit of a registered lambda") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    graft.functions.FunctionCatalog.global.register(
      graft.functions.LambdaMapFunction(
        "ext_spec_emit",
        StructType(Seq(StructField("key", StringType))),
        (row: Row) =>
          if (row.isNullAt(0)) Iterator.empty
          else Iterator(Row("a:" + row.getString(0)), Row("b:" + row.getLong(1))),
        "test emitter"))
    Seq(("x", 1L), ("y", 2L), (null.asInstanceOf[String], 3L))
      .toDF("s", "n").createOrReplaceTempView("emit_src")
    val out = spark.sql(
      """SELECT t.key AS key, n FROM emit_src
         LATERAL VIEW graft_emit('ext_spec_emit', s, n) t AS key
         ORDER BY key""").as[(String, Long)].collect().toSeq
    assert(out == Seq(("a:x", 1L), ("a:y", 2L), ("b:1", 1L), ("b:2", 2L)))
  }

  test("graft_emit rejects unregistered and non-literal names") {
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM VALUES (1) AS v(x) " +
        "LATERAL VIEW graft_emit('no_such_fn', x) t AS key").collect()
    }
    assert(err.getMessage.contains("not registered"))
  }

  test("word_shingles from SQL; non-literal n rejected") {
    val sh = spark.sql("SELECT word_shingles('a b c', 2) AS s")
      .as[Seq[String]].head()
    assert(sh == Seq("a b", "b c"))
    val err = intercept[Exception] {
      spark.sql("SELECT word_shingles('a b c', length('xx')) AS s").collect()
    }
    assert(err.getMessage.contains("integer literal"))
  }

  test("json_collate_key from SQL orders mixed keys") {
    val out = spark.sql(
      """SELECT id FROM VALUES (1, 'b'), (2, 'a') AS t(id, k)
        |ORDER BY json_collate_key(k)""".stripMargin)
      .as[Int].collect().toSeq
    assert(out == Seq(2, 1))
  }

  test("token_stats, hashed_shingles, minhash_sig, zorder_key from SQL") {
    GraftExtensions.register(spark)
    val st = spark.sql(
      "SELECT token_stats('the the fox').n_tokens AS n, " +
        "token_stats('the the fox').n_distinct AS d").collect().head
    assert(st.getLong(0) == 3L && st.getLong(1) == 2L)
    // hashed shingles feed minhash_sig; k values, deterministic
    val sig = spark.sql(
      "SELECT minhash_sig(hashed_shingles('a b c d', 2), 4) AS s")
      .collect().head.getSeq[Long](0)
    val sig2 = spark.sql(
      "SELECT minhash_sig(hashed_shingles('a b c d', 2), 4) AS s")
      .collect().head.getSeq[Long](0)
    assert(sig.length == 4 && sig == sig2)
    // md5 kind matches the cross-engine family used by the oracles
    val md5sig = spark.sql(
      "SELECT minhash_sig(hashed_shingles('a b c', 2, 'md5'), 2, 'md5') AS s")
      .collect().head.getSeq[Long](0)
    assert(md5sig.forall(v => v >= 0 && v < graft.functions.MinHashFamily.Mod))
    // zorder_key interleaves: x=1 -> bit 0, y=1 -> bit 1
    val z = spark.sql("SELECT zorder_key(21, 1, 1) AS z").collect().head.getLong(0)
    assert(z == 3L)
  }

  test("bpe_encode from SQL matches the operator; bad rule line rejected") {
    val m = Seq(("l", "o"), ("lo", "w"), ("low", "</w>"))
    val rules = m.map { case (l, r) => s"$l\t$r" }.mkString("\n")
    Seq("low lower").toDF("text").createOrReplaceTempView("bpe_t")
    val viaSql = spark.sql(
      s"SELECT bpe_encode(text, '${rules.replace("\t", "\\t").replace("\n", "\\n")}') AS e FROM bpe_t")
      .as[String].head()
    val viaOp = Seq("low lower").toDF("text")
      .select(graft.functions.TextOps.bpeEncode(col("text"), m).as("e"))
      .as[String].head()
    assert(viaSql == viaOp)
    val err = intercept[Exception] {
      spark.sql("SELECT bpe_encode('x', 'no-tab-here')").collect()
    }
    assert(err.getMessage.contains("lhs<TAB>rhs"))
  }

  test("bpe_encode_ids from SQL matches the operator; bad vocab line rejected") {
    val corpus = Seq("low lower").toDF("text")
    val merges = graft.functions.TextOps.bpeTrainMergesLocal(corpus, steps = 2)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = graft.functions.TextOps.bpeVocab(corpus, merges)
      .select("symbol", "token_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val rules = merges.map { case (l, r) => s"$l\t$r" }.mkString("\n")
    val vlines = vocab.map { case (s, id) => s"$s\t$id" }.mkString("\n")
    def esc(s: String) = s.replace("\t", "\\t").replace("\n", "\\n")
    corpus.createOrReplaceTempView("bpe_ids_t")
    val viaSql = spark.sql(
      s"SELECT bpe_encode_ids(text, '${esc(rules)}', '${esc(vlines)}') AS i " +
        "FROM bpe_ids_t").as[Seq[Long]].head()
    val viaOp = corpus
      .select(graft.functions.TextOps.bpeEncodeIds(col("text"), merges, vocab)
        .as("i")).as[Seq[Long]].head()
    assert(viaSql == viaOp && viaSql.nonEmpty && viaSql.forall(_ >= 0))
    val err = intercept[Exception] {
      spark.sql("SELECT bpe_encode_ids('x', 'a\\tb', 'no-tab')").collect()
    }
    assert(err.getMessage.contains("symbol<TAB>id"))
  }

  test("unicode_normalize from SQL: NFC default, explicit form, bad form rejected") {
    val r = spark.sql(
      "SELECT unicode_normalize('é') AS c, " +
        "unicode_normalize('ﬁ', 'NFKC') AS k").collect().head
    assert(r.getString(0) == "é")
    assert(r.getString(1) == "fi")
    val err = intercept[Exception] {
      spark.sql("SELECT unicode_normalize('x', 'NFX')").collect()
    }
    assert(err.getMessage.contains("unicode_normalize"))
  }

  test("graft_idx_* wire: build-from-SQL, versions/def discovery, GC") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_sql").toString
    Seq((1L, 50.0, "A"), (2L, 10.0, "B"), (3L, -5.0, "A"), (4L, 80.0, null))
      .toDF("id", "bal", "seg").createOrReplaceTempView("idx_src")
    // secondary build via the wire ≡ the driver-Scala build
    val v1 = spark.sql(
      "SELECT graft_idx_build('" + dir + "', 'idx_src', 'id', " +
        "array('bal'), NULL)").head().getInt(0)
    assert(v1 == 1)
    val entries = graft.operators.IndexStore
      .readVersion(spark, dir, v1).orderBy("key", "docid").collect()
    val direct = graft.operators.IndexBuilder.build(spark.table("idx_src"),
      graft.model.IndexDef("d", "idx_src", "id", secExprs = Seq("bal")))
      .orderBy("key", "docid").collect()
    assert(entries.sameElements(direct))
    // partial index honors WHERE; empty keys build a PRIMARY index
    val v2 = spark.sql(
      "SELECT graft_idx_build('" + dir + "', 'idx_src', 'id', " +
        "array('bal'), 'bal > 0.0')").head().getInt(0)
    assert(graft.operators.IndexStore.readVersion(spark, dir, v2)
      .count() == 3)
    val v3 = spark.sql(
      "SELECT graft_idx_build('" + dir + "', 'idx_src', 'id', " +
        "array(), NULL)").head().getInt(0)
    assert(graft.operators.IndexStore.readVersion(spark, dir, v3)
      .columns.toSeq == Seq("docid"))
    // discovery: versions ascend, def facts round-trip the build call
    assert(spark.sql(s"SELECT graft_idx_versions('$dir')").head()
      .getSeq[Int](0) == Seq(1, 2, 3))
    val d2 = spark.sql(s"SELECT graft_idx_def('$dir', $v2) AS d").head()
      .getStruct(0)
    assert(d2.getAs[String]("where_expr") == "bal > 0.0")
    assert(d2.getSeq[String](d2.fieldIndex("key_exprs")) == Seq("bal"))
    assert(spark.sql(s"SELECT graft_idx_def('$dir', 99)").head().isNullAt(0))
    // GC keeps the newest keepLast; survivors still read
    assert(spark.sql(s"SELECT graft_idx_gc('$dir', 2)").head()
      .getSeq[Int](0) == Seq(1))
    assert(spark.sql(s"SELECT graft_idx_versions('$dir')").head()
      .getSeq[Int](0) == Seq(2, 3))
    assert(graft.operators.IndexStore.readVersion(spark, dir, v2)
      .count() == 3)
    // a bad key expression fails the CALL, not a later read
    intercept[Exception](spark.sql(
      "SELECT graft_idx_build('" + dir + "', 'idx_src', 'id', " +
        "array('no_such_col + '), NULL)").collect())
    // type errors are analysis-time failures
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_idx_build(1, 'a', 'b', array('c'), NULL)")
        .collect())
  }

  test("builder-time extensions injection works in a fresh session") {
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]").config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions()(_))
      .getOrCreate()
    // note: getOrCreate may return the shared session; assert function resolves
    assert(s2.sql("SELECT vec_dot(array(1.0D), array(2.0D)) AS d")
      .collect().head.getDouble(0) == 2.0)
  }
  test("graft_warc_parse + graft_warc_gz_members: archive bytes to " +
      "records over the SQL wire") {
    import graft.sources.{WarcCodec, WarcGz}
    val file = WarcGz.encodeMembers(Seq(
      WarcCodec.encodeResponse("http://a.com/p", 200, "text/html",
        "<html><body>hi</body></html>".getBytes("UTF-8")),
      WarcCodec.encodeInfo("software: graft\r\n".getBytes("US-ASCII")),
      "garbage".getBytes("US-ASCII")))
    import spark.implicits._
    Seq(Tuple1(file)).toDF("content").createOrReplaceTempView("gz_src")
    val rows = spark.sql(
      """SELECT m.member_idx,
        |  graft_warc_parse(m.member).warc_type AS t,
        |  graft_warc_parse(m.member).status AS st
        |FROM gz_src
        |LATERAL VIEW graft_warc_gz_members(content) m AS member_idx, member, err
        |ORDER BY member_idx""".stripMargin).collect()
    assert(rows.length == 3)
    assert(rows(0).getString(1) == "response" && rows(0).getInt(2) == 200)
    assert(rows(1).getString(1) == "warcinfo" && rows(1).isNullAt(2))
    assert(rows(2).isNullAt(1), "garbage member parses to NULL")
  }

  test("warc_gz_members: a malformed archive yields the members before " +
      "the fault and a named err row, not a failed job") {
    import graft.sources.{WarcCodec, WarcGz}
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val recs = Seq(WarcCodec.encodeInfo("software: graft\r\n".getBytes("US-ASCII")),
      WarcCodec.encodeResponse("http://a.com/p", 200, "text/html",
        "<html><body>hi</body></html>".getBytes("UTF-8")))
    val good = WarcGz.encodeMembers(recs)
    val cut = good.dropRight(3) // the last member's trailer loses 3 bytes
    val members = GraftBridge.column(graft.functions.WarcGzMembersExpr(
      GraftBridge.expression(col("content"))))
    val rows = Seq((1, good), (2, cut)).toDF("file", "content")
      .select(col("file"), members).orderBy("file", "member_idx").collect()
    val byFile = rows.groupBy(_.getInt(0))
    assert(byFile(1).map(_.getAs[Array[Byte]]("member").toSeq).toSeq ==
      recs.map(_.toSeq))
    assert(byFile(1).forall(_.isNullAt(3)))
    val bad = byFile(2)
    assert(bad.length == 2)
    assert(bad(0).getAs[Array[Byte]]("member").toSeq == recs.head.toSeq &&
      bad(0).isNullAt(3))
    assert(bad(1).getInt(1) == 1 && bad(1).isNullAt(2))
    assert(bad(1).getString(3) == "warc.gz: malformed: truncated gzip trailer")
  }

  test("graft_pdf_text: extraction and named rejection over SQL") {
    import graft.operators.PdfCodec
    import spark.implicits._
    Seq(
      (1L, PdfCodec.encodePdf(Seq(Seq("hello", "world")))),
      (2L, PdfCodec.encodePdf(Seq(Seq("x")), encrypted = true))
    ).toDF("id", "pdf").createOrReplaceTempView("pdf_src")
    val out = spark.sql(
      """SELECT id, graft_pdf_text(pdf).text AS t,
        |  graft_pdf_text(pdf).err AS err FROM pdf_src ORDER BY id"""
        .stripMargin).collect()
    assert(out(0).getString(1) == "hello\nworld" && out(0).isNullAt(2))
    assert(out(1).isNullAt(1) && out(1).getString(2) == "encrypted")
  }

  test("graft_registrable_domain_v + graft_langid_v: pinned artifacts " +
      "over SQL; non-literal dir rejected") {
    val pslDir = java.nio.file.Files
      .createTempDirectory("psl_sql").toString
    val v = graft.functions.PslStore.save(pslDir,
      Seq("com", "io", "github.io"))
    import spark.implicits._
    Seq("user.github.io", "a.b.com").toDF("host")
      .createOrReplaceTempView("hosts_src")
    val doms = spark.sql(
      s"SELECT graft_registrable_domain_v(host, '$pslDir', $v) AS d " +
        "FROM hosts_src ORDER BY host").collect().map(_.getString(0))
    assert(doms.toSeq == Seq("b.com", "user.github.io"))
    val langDir = java.nio.file.Files
      .createTempDirectory("langid_sql").toString
    val lv = graft.functions.LangProfileStore.save(langDir, Seq(
      "en" -> Seq("the" -> 4L), "de" -> Seq("der" -> 4L)))
    assert(spark.sql(
      s"SELECT graft_langid_v('der hund', '$langDir', $lv) AS l")
      .head().getString(0) == "de")
    intercept[Exception](spark.sql(
      "SELECT graft_registrable_domain_v('a.com', host, 1) " +
        "FROM hosts_src").collect())
  }

  test("graft_charset_decode_v: the pinned legacy decode over SQL; " +
      "labels outside the pin still reject by name") {
    import graft.functions.EncodingStore
    val dir = EncodingStore.jdkSnapshotDir
    val v = EncodingStore.Slots.versions(dir).last
    import spark.implicits._
    // Shift_JIS 日本語 behind a transport label
    Seq(("93fa967b8cea", "text/html; charset=shift_jis"),
      ("414243", "text/plain; charset=koi8-r"))
      .toDF("hex", "ct").createOrReplaceTempView("legacy_src")
    val rows = spark.sql(
      s"""SELECT c.text AS text, c.charset AS cs, c.method AS m FROM (
         |  SELECT graft_charset_decode_v(unhex(hex), ct,
         |    '$dir', $v) AS c FROM legacy_src) ORDER BY cs
         |""".stripMargin).collect()
    assert(rows(0).getString(1) == "koi8-r" &&
      rows(0).isNullAt(0) && rows(0).getString(2) == "unsupported-label")
    assert(rows(1).getString(0) == "日本語" &&
      rows(1).getString(1) == "shift_jis" &&
      rows(1).getString(2) == "header")
    // dir must be a literal (the artifact loads once at analysis)
    intercept[Exception](spark.sql(
      "SELECT graft_charset_decode_v(unhex(hex), ct, ct, 1) " +
        "FROM legacy_src").collect())
  }

  test("graft_html_links + graft_url_resolve: the discovery pair " +
      "composes over SQL") {
    import spark.implicits._
    Seq(("http://h.com/d/p.html",
      "<a href='/x?a=1&amp;b=2'>x</a><a href=\"../up\">u</a>"))
      .toDF("page", "html").createOrReplaceTempView("pages_src")
    val rows = spark.sql(
      """SELECT graft_url_resolve(page, link) AS r
        |FROM pages_src
        |LATERAL VIEW explode(graft_html_links(html).links) t AS link
        |ORDER BY r""".stripMargin).as[String].collect()
    assert(rows.toSeq == Seq("http://h.com/up", "http://h.com/x?a=1&b=2"))
  }

  test("graft_robots_directives + graft_sitemap_parse over SQL; " +
      "non-literal agent rejected") {
    import spark.implicits._
    val dirs = spark.sql(
      "SELECT graft_robots_directives(" +
        "'Sitemap: http://s.com/m.xml\nUser-agent: *\nCrawl-delay: 2\n" +
        "Disallow: /x', 'graftbot') AS d")
      .select("d.crawl_delay", "d.sitemaps").head()
    assert(dirs.getDouble(0) == 2.0)
    assert(dirs.getSeq[String](1) == Seq("http://s.com/m.xml"))
    val sm = spark.sql(
      "SELECT graft_sitemap_parse('<urlset><url><loc>u1</loc></url>" +
        "</urlset>') AS s")
      .select("s.kind", "s.entries", "s.err").head()
    assert(sm.getString(0) == "urlset" && sm.isNullAt(2))
    Seq("x").toDF("agent").createOrReplaceTempView("agents_src")
    intercept[Exception](spark.sql(
      "SELECT graft_robots_directives('', agent) FROM agents_src")
      .collect())
  }

}
