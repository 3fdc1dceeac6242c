package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{AnnLatestExpr, AnnModelExpr, AnnVersionsExpr,
  DotProductExpr, EmitGenerator, FunctionCatalog, StoreGcExpr,
  HashedShinglesExpr, HyperplaneBucketsExpr, IdxBuildExpr, IdxDefExpr,
  IdxVersionsExpr, JsonCollateKey,
  LambdaMapFunction, LibDeleteExpr, LibGetExpr, LibListExpr,
  LibPromoteExpr, LibSaveExpr, MinHashFromHashesExpr, NormalizeExpr,
  ShinglesExpr, SimHashExpr, SpanDigestsExpr, SpanHashesExpr,
  TokGetExpr, TokLatestExpr, TokSaveExpr, TokVersionsExpr,
  TokenStatsExpr, ZOrderExpr}

/** SQL-facing registration of the engine's native expressions, via the
  * supported `SparkSessionExtensions` seam:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions()(_))
  * or `spark.sql.extensions=graft.GraftExtensions`, or post-hoc on an
  * existing session with [[GraftExtensions.register]].
  *
  * Registered functions:
  *  - `vec_dot(a, b)`          — dense dot product over array<float|double>
  *  - `simhash64(tokens)`      — 64-bit SimHash of an array<string>
  *  - `word_shingles(text, n)` — distinct word n-gram shingles (n literal)
  *  - `json_collate_key(v)`    — order-preserving heterogeneous key encoding
  *  - `graft_emit(fn, args…)`  — LATERAL VIEW multi-emit of a registered
  *    map function (the SQL surface of the reference's `OnMap`/`emit`)
  *  - `hashed_shingles(text, n[, kind])` — distinct hashed word n-grams
  *  - `minhash_sig(hashes, k[, kind])`   — MinHash signature from hashes
  *  - `token_stats(text)`      — one-pass token statistics struct
  *  - `zorder_key(bits, dims…)` — Morton-interleaved clustering key
  *  - `span_digests(tokens, k)` — rolling k-token window md5 fingerprints
  *  - `span_hashes(tokens, k)`  — rolling k-token window xxhash64 longs
  *  - `unicode_normalize(text[, form])` — NFC/NFD/NFKC/NFKD normalization
  *  - `bpe_encode(text, rules)` — learned-BPE encoding ('lhs<TAB>rhs' rule
  *    lines, from `TextOps.bpeTrainMerges`)
  *  - `bpe_encode_ids(text, rules, vocab)` — learned-BPE tokenization to
  *    token ids ('symbol<TAB>id' vocab lines, from `TextOps.bpeVocab`)
  *  - `graft_lib_save/_draft/_promote/_delete/_get/_list` — the
  *    wire-accessible library CRUD (the reference's HTTP library API as
  *    session SQL functions; see [[graft.functions.LibrarySqlExprs]])
  *  - `graft_tok_save/_get/_latest/_versions` — the versioned tokenizer
  *    artifact store's wire surface; `rules`/`vocab` struct fields use
  *    the same TAB-line format `bpe_encode`/`bpe_encode_ids` consume
  *    (see [[graft.functions.TokenizerSqlExprs]])
  *  - `graft_ann_versions/_model/_latest` — the persisted ANN index
  *    store's discovery surface (version pinning, PQ geometry, committed
  *    batch ids; see [[graft.functions.AnnSqlExprs]])
  *  - `graft_ann_build/_ingest/_delete/_compact/_retrain` — the ANN
  *    store's full lifecycle as SQL DDL (build → incremental
  *    maintenance → fold → drift-recovery re-fit), mirroring
  *    `graft_idx_build`/`graft_bm25_build`
  *  - `graft_bm25_build/_ingest/_delete/_compact/_versions/_layout/_gc`
  *    — the BM25 retrieval store's full lifecycle + discovery as SQL
  *    DDL (see [[graft.functions.Bm25MutateExpr]])
  *  - `graft_warc_parse(record)` / `graft_warc_gz_members(bytes)` —
  *    the crawl container on the wire: record parse + archive
  *    member-split generator (LATERAL VIEW)
  *  - `graft_pdf_text(payload)` — bounded PDF text extraction with
  *    named rejections in the `err` field
  *  - `graft_html_links` / `graft_url_resolve` /
  *    `graft_robots_directives` / `graft_sitemap_parse` — the crawl
  *    DISCOVERY tier on the wire: outlink extraction, RFC 3986
  *    resolution, politeness directives, sitemap inventory
  *  - `graft_registrable_domain_v(host, dir, v)` /
  *    `graft_langid_v(text, dir, v)` /
  *    `graft_charset_decode_v(body, ct, dir, v)` — the PINNED
  *    versioned-artifact forms (PslStore / LangProfileStore /
  *    EncodingStore), dir+version literals
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, (info, builder)) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  private def literalInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def literalString(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  /** One 'left<TAB>right' pair per non-empty line — the wire format the
    * BPE rule and vocabulary arguments share (symbols never contain
    * whitespace, so the format cannot collide).
    */
  private def parseTabLines(text: String, errPrefix: String): IndexedSeq[(String, String)] =
    text.split("\n").toIndexedSeq.filter(_.nonEmpty).map { line =>
      line.split("\t", 2) match {
        case Array(l, r) => (l, r)
        case _ => throw new IllegalArgumentException(s"$errPrefix, got '$line'")
      }
    }

  val builders: Map[String, (ExpressionInfo, Seq[Expression] => Expression)] = Map(
    "vec_dot" -> (info("vec_dot", "vec_dot(a, b) - dense vector dot product"),
      (es: Seq[Expression]) => DotProductExpr(es(0), es(1))),
    "simhash64" -> (info("simhash64", "simhash64(tokens) - 64-bit SimHash"),
      (es: Seq[Expression]) => SimHashExpr(es(0))),
    "word_shingles" -> (info("word_shingles",
      "word_shingles(text, n) - distinct word n-gram shingles"),
      (es: Seq[Expression]) =>
        ShinglesExpr(es(0), literalInt(es(1), "shingle size"))),
    "json_collate_key" -> (info("json_collate_key",
      "json_collate_key(v) - sortable binary collation key"),
      (es: Seq[Expression]) => JsonCollateKey(es(0))),
    "lsh_buckets" -> (info("lsh_buckets",
      "lsh_buckets(vec, dim, tables, bits) - per-table hyperplane-LSH " +
        "bucket ids (deterministic seed-42 planes)"),
      (es: Seq[Expression]) => {
        val dim = literalInt(es(1), "dim")
        val tables = literalInt(es(2), "tables")
        val bits = literalInt(es(3), "bits")
        HyperplaneBucketsExpr(es(0),
          graft.operators.Similarity.hyperplanes(dim, tables, bits))
      }),
    "hashed_shingles" -> (info("hashed_shingles",
      "hashed_shingles(text, n[, kind]) - distinct hashed word n-gram " +
        "shingles (kind 'xx' or 'md5')"),
      (es: Seq[Expression]) => HashedShinglesExpr(es(0),
        literalInt(es(1), "shingle size"),
        if (es.length > 2) literalString(es(2), "hash kind") else "xx")),
    "minhash_sig" -> (info("minhash_sig",
      "minhash_sig(hashes, k[, kind]) - k MinHash values from hashed shingles"),
      (es: Seq[Expression]) => MinHashFromHashesExpr(es(0),
        literalInt(es(1), "numHashes"),
        if (es.length > 2) literalString(es(2), "hash kind") else "xx")),
    "token_stats" -> (info("token_stats",
      "token_stats(text) - one-pass token statistics struct (counts, " +
        "distinct, bigrams, language marker scores)"),
      (es: Seq[Expression]) => TokenStatsExpr(es(0),
        graft.functions.TextOps.stopwords,
        graft.functions.TextOps.langProfiles.map(_._2))),
    "span_digests" -> (info("span_digests",
      "span_digests(tokens, k) - md5 fingerprint of every k-token rolling " +
        "window of an array<string>, position order (cross-engine form)"),
      (es: Seq[Expression]) =>
        SpanDigestsExpr(es(0), literalInt(es(1), "window size"))),
    "span_hashes" -> (info("span_hashes",
      "span_hashes(tokens, k) - xxhash64 fingerprint of every k-token " +
        "rolling window of an array<string>, position order (scale form)"),
      (es: Seq[Expression]) =>
        SpanHashesExpr(es(0), literalInt(es(1), "window size"))),
    "bpe_encode" -> (info("bpe_encode",
      "bpe_encode(text, rules) - boundary-wrapped BPE encoding of text " +
        "under the given merge rules, one 'lhs<TAB>rhs' per line (symbols " +
        "never contain whitespace, so the format cannot collide); rules " +
        "come from TextOps.bpeTrainMerges"),
      (es: Seq[Expression]) =>
        graft.functions.BpeEncodeExpr(es(0),
          parseTabLines(literalString(es(1), "rules"),
            "bpe_encode rule line must be 'lhs<TAB>rhs'"))),
    "bpe_encode_ids" -> (info("bpe_encode_ids",
      "bpe_encode_ids(text, rules, vocab) - learned-BPE tokenization " +
        "straight to token ids (array<bigint>); rules as in bpe_encode " +
        "('lhs<TAB>rhs' lines), vocab one 'symbol<TAB>id' per line " +
        "(TextOps.bpeVocab); unknown symbol -> -1"),
      (es: Seq[Expression]) =>
        graft.functions.BpeEncodeIdsExpr(es(0),
          parseTabLines(literalString(es(1), "rules"),
            "bpe_encode_ids rule line must be 'lhs<TAB>rhs'"),
          parseTabLines(literalString(es(2), "vocab"),
            "bpe_encode_ids vocab line must be 'symbol<TAB>id'")
            .map { case (s, id) => (s, id.toLong) })),
    "unicode_normalize" -> (info("unicode_normalize",
      "unicode_normalize(text[, form]) - Unicode normalization " +
        "(NFC default; NFD/NFKC/NFKD)"),
      (es: Seq[Expression]) => NormalizeExpr(es(0),
        if (es.length > 1) literalString(es(1), "form") else "NFC")),
    "zorder_key" -> (info("zorder_key",
      "zorder_key(bitsPer, dims...) - Morton-interleaved clustering key"),
      (es: Seq[Expression]) =>
        ZOrderExpr(es.tail.map(e =>
          org.apache.spark.sql.catalyst.expressions.Cast(e,
            org.apache.spark.sql.types.LongType)),
          literalInt(es.head, "bitsPer"))),
    "graft_lib_save" -> (info("graft_lib_save",
      "graft_lib_save(dir, name, exprs[, where[, description]]) - save a " +
        "function to the PRIMARY library store (validated; upsert)"),
      (es: Seq[Expression]) => LibSaveExpr(es, draft = false)),
    "graft_lib_save_draft" -> (info("graft_lib_save_draft",
      "graft_lib_save_draft(dir, name, exprs[, where[, description]]) - " +
        "save a DRAFT (invisible to builds until graft_lib_promote)"),
      (es: Seq[Expression]) => LibSaveExpr(es, draft = true)),
    "graft_lib_promote" -> (info("graft_lib_promote",
      "graft_lib_promote(dir, name) - deploy a draft to the primary store"),
      (es: Seq[Expression]) => LibPromoteExpr(es(0), es(1))),
    "graft_lib_delete" -> (info("graft_lib_delete",
      "graft_lib_delete(dir, name[, force]) - delete a primary-store " +
        "function; refuses while a registered index references it " +
        "unless force"),
      (es: Seq[Expression]) => LibDeleteExpr(es)),
    "graft_lib_get" -> (info("graft_lib_get",
      "graft_lib_get(dir, name[, draft]) - fetch one library entry struct"),
      (es: Seq[Expression]) => LibGetExpr(es)),
    "graft_lib_list" -> (info("graft_lib_list",
      "graft_lib_list(dir[, draft]) - all library entries, name order"),
      (es: Seq[Expression]) => LibListExpr(es)),
    "graft_tok_versions" -> (info("graft_tok_versions",
      "graft_tok_versions(dir) - stored tokenizer versions, ascending"),
      (es: Seq[Expression]) => TokVersionsExpr(es(0))),
    "graft_tok_get" -> (info("graft_tok_get",
      "graft_tok_get(dir, version) - one pinned tokenizer artifact " +
        "(version, steps, min_pair_count, rules, vocab) or NULL"),
      (es: Seq[Expression]) => TokGetExpr(es(0), es(1))),
    "graft_tok_latest" -> (info("graft_tok_latest",
      "graft_tok_latest(dir) - the newest tokenizer artifact or NULL"),
      (es: Seq[Expression]) => TokLatestExpr(es(0))),
    "graft_tok_save" -> (info("graft_tok_save",
      "graft_tok_save(dir, steps, min_pair_count, rules, vocab) - " +
        "persist a tokenizer artifact from its wire form ('lhs<TAB>rhs' " +
        "rule lines, 'symbol<TAB>id' vocab lines); returns the version"),
      (es: Seq[Expression]) => TokSaveExpr(es)),
    "graft_ann_versions" -> (info("graft_ann_versions",
      "graft_ann_versions(dir) - visible ANN index versions, ascending"),
      (es: Seq[Expression]) => AnnVersionsExpr(es(0))),
    "graft_ann_model" -> (info("graft_ann_model",
      "graft_ann_model(dir, version) - one pinned index's model facts " +
        "(PQ geometry, centroid count, dim, committed batches) or NULL"),
      (es: Seq[Expression]) => AnnModelExpr(es(0), es(1))),
    "graft_ann_latest" -> (info("graft_ann_latest",
      "graft_ann_latest(dir) - the newest index version's model facts " +
        "or NULL"),
      (es: Seq[Expression]) => AnnLatestExpr(es(0))),
    "graft_ann_build" -> (info("graft_ann_build",
      "graft_ann_build(dir, source_table[, n_centroids[, id_col, " +
        "vec_col[, residual]]]) - train IVF+PQ over a session table and " +
        "persist it as the ANN store's next immutable version; returns " +
        "the version"),
      (es: Seq[Expression]) => graft.functions.AnnBuildExpr(es)),
    "graft_ann_ingest" -> (info("graft_ann_ingest",
      "graft_ann_ingest(dir, source_table, batch_id[, version[, id_col, " +
        "vec_col]]) - encode a batch with the version's frozen model and " +
        "commit it as its own idempotent segment (upsert semantics); " +
        "returns the version mutated"),
      (es: Seq[Expression]) => graft.functions.AnnMutateExpr("ingest", es)),
    "graft_ann_delete" -> (info("graft_ann_delete",
      "graft_ann_delete(dir, id_table, batch_id[, version[, id_col]]) - " +
        "tombstone the table's ids in the version's codes table; " +
        "returns the version mutated"),
      (es: Seq[Expression]) => graft.functions.AnnMutateExpr("delete", es)),
    "graft_ann_compact" -> (info("graft_ann_compact",
      "graft_ann_compact(dir[, version]) - fold a version's committed " +
        "batches into a single-batch new version under the same frozen " +
        "model; returns the new version"),
      (es: Seq[Expression]) => graft.functions.AnnCompactExpr(es)),
    "graft_ann_retrain" -> (info("graft_ann_retrain",
      "graft_ann_retrain(dir, vectors_table[, version[, n_centroids[, " +
        "id_col, vec_col]]]) - re-fit the routing and codebooks from the " +
        "source version's resolved live ids (exact vectors from the " +
        "session table) as the store's next immutable version; the " +
        "drift-recovery DDL; returns the new version"),
      (es: Seq[Expression]) => graft.functions.AnnRetrainExpr(es)),
    "graft_ann_stats" -> (info("graft_ann_stats",
      "graft_ann_stats(dir[, version]) - resolved codes-table statistics " +
        "struct (n_vectors, n_deleted, n_clusters, max_cluster); " +
        "max_cluster/n_vectors is the skew/rebuild signal"),
      (es: Seq[Expression]) => graft.functions.AnnStatsExpr(es)),
    "graft_ann_gc" -> (info("graft_ann_gc",
      "graft_ann_gc(dir, keepLast) - delete ANN index versions shadowed " +
        "by the newest keepLast; returns the versions deleted"),
      (es: Seq[Expression]) => StoreGcExpr("ann", es(0), es(1))),
    "graft_tok_gc" -> (info("graft_tok_gc",
      "graft_tok_gc(dir, keepLast) - delete tokenizer artifact versions " +
        "shadowed by the newest keepLast; returns the versions deleted"),
      (es: Seq[Expression]) => StoreGcExpr("tok", es(0), es(1))),
    "graft_idx_build" -> (info("graft_idx_build",
      "graft_idx_build(dir, source_table, docid_expr, key_exprs, where) " +
        "- build a scalar index over the session table and persist it as " +
        "the store's next immutable version; empty key_exprs = primary " +
        "index, NULL where = no partial predicate; returns the version"),
      (es: Seq[Expression]) => IdxBuildExpr(es)),
    "graft_idx_versions" -> (info("graft_idx_versions",
      "graft_idx_versions(dir) - visible scalar-index versions, ascending"),
      (es: Seq[Expression]) => IdxVersionsExpr(es(0))),
    "graft_idx_def" -> (info("graft_idx_def",
      "graft_idx_def(dir, version) - one pinned index version's " +
        "definition facts (source, docid, key exprs, where, flags) or NULL"),
      (es: Seq[Expression]) => IdxDefExpr(es(0), es(1))),
    "graft_idx_gc" -> (info("graft_idx_gc",
      "graft_idx_gc(dir, keepLast) - delete scalar-index versions " +
        "shadowed by the newest keepLast; returns the versions deleted"),
      (es: Seq[Expression]) => StoreGcExpr("idx", es(0), es(1))),
    "graft_bm25_build" -> (info("graft_bm25_build",
      "graft_bm25_build(dir, source_table[, n_partitions]) - build the " +
        "BM25 retrieval store over a session table as the next " +
        "immutable version; returns the version"),
      (es: Seq[Expression]) => graft.functions.Bm25BuildExpr(es)),
    "graft_bm25_ingest" -> (info("graft_bm25_ingest",
      "graft_bm25_ingest(dir, source_table, batch_id[, version]) - " +
        "commit a crawl batch's postings + doc-stats as its own " +
        "idempotent segment (upsert semantics); returns the version " +
        "mutated"),
      (es: Seq[Expression]) => graft.functions.Bm25MutateExpr("ingest", es)),
    "graft_bm25_delete" -> (info("graft_bm25_delete",
      "graft_bm25_delete(dir, id_table, batch_id[, version]) - " +
        "doc-stats tombstones for the table's doc_ids; returns the " +
        "version mutated"),
      (es: Seq[Expression]) => graft.functions.Bm25MutateExpr("delete", es)),
    "graft_bm25_compact" -> (info("graft_bm25_compact",
      "graft_bm25_compact(dir[, version]) - fold a version's committed " +
        "batches into a single-batch new version under the same layout; " +
        "returns the new version"),
      (es: Seq[Expression]) => graft.functions.Bm25CompactExpr(es)),
    "graft_bm25_stats" -> (info("graft_bm25_stats",
      "graft_bm25_stats(dir[, version]) - resolved store statistics " +
        "struct (n_docs, total_dl, n_terms, n_postings); n_postings == " +
        "total_dl is the store-integrity invariant"),
      (es: Seq[Expression]) => graft.functions.Bm25StatsExpr(es)),
    "graft_bm25_versions" -> (info("graft_bm25_versions",
      "graft_bm25_versions(dir) - visible BM25 index store versions, " +
        "ascending"),
      (es: Seq[Expression]) => graft.functions.Bm25VersionsExpr(es(0))),
    "graft_bm25_gc" -> (info("graft_bm25_gc",
      "graft_bm25_gc(dir, keepLast) - delete BM25 store versions " +
        "shadowed by the newest keepLast; returns the versions deleted"),
      (es: Seq[Expression]) => StoreGcExpr("bm25", es(0), es(1))),
    "graft_bm25_layout" -> (info("graft_bm25_layout",
      "graft_bm25_layout(dir, version) - one pinned BM25 version's " +
        "layout facts (hash fan-out, committed batches) or NULL"),
      (es: Seq[Expression]) => graft.functions.Bm25LayoutExpr(es(0), es(1))),
    "graft_hybrid_search" -> (info("graft_hybrid_search",
      "graft_hybrid_search(bm25_dir, ann_dir, terms, q_vec, " +
        "corpus_table, k[, k_leg[, nprobe[, rerank]]]) - probe both " +
        "index tiers and RRF-fuse: array<struct<doc_id, rrf_nano, rk>> " +
        "of the fused top-k (compose with explode)"),
      (es: Seq[Expression]) => graft.functions.HybridSearchExpr(es)),
    "graft_hybrid_batch" -> (info("graft_hybrid_batch",
      "graft_hybrid_batch(bm25_dir, ann_dir, queries_table, " +
        "corpus_table, k[, k_leg[, nprobe[, rerank[, allowed_table]]]])" +
        " - answer a whole query table (q_id, terms, q_vec) with one " +
        "pass over each index tier, optionally tenant-scoped, RRF-" +
        "fused per query: array<struct<q_id, doc_id, rrf_nano, rk>> " +
        "(compose with explode)"),
      (es: Seq[Expression]) => graft.functions.HybridBatchExpr(es)),
    "graft_html_extract" -> (info("graft_html_extract",
      "graft_html_extract(html) - crawl-ingest markup extraction: " +
        "struct<text, n_blocks, n_dropped> per the HtmlExtract " +
        "contract (tag strip, raw-text drop, entity decode, block " +
        "segmentation, link-density boilerplate removal)"),
      (es: Seq[Expression]) => graft.functions.HtmlExtractExpr(es.head)),
    "graft_html_anchors" -> (info("graft_html_anchors",
      "graft_html_anchors(html) - anchor-text capture: every " +
        "href-carrying <a> with its decoded, collapsed text, in " +
        "document order, plus the first <base href>, from the same " +
        "scanner pass as graft_html_extract — struct<base, anchors " +
        "array<struct<href, text>>> (explode anchors; hrefs join " +
        "graft_html_links verbatim)"),
      (es: Seq[Expression]) => graft.functions.HtmlAnchorsExpr(es.head)),
    "graft_html_main" -> (info("graft_html_main",
      "graft_html_main(html) - main-content extraction (boilerplate " +
        "removal): the jusText-style block classifier over the same " +
        "tag walk as graft_html_extract — struct<main_text, blocks " +
        "array<struct<block_idx, heading, n_chars, n_words, n_stop, " +
        "link_chars, cf_class, final_class>>>; main_text is the " +
        "final-good blocks joined with \\n"),
      (es: Seq[Expression]) => graft.functions.HtmlMainExpr(es.head)),
    "graft_charset_decode" -> (info("graft_charset_decode",
      "graft_charset_decode(body, content_type) - charset sniff + " +
        "decode per the CharsetDecode contract (BOM > transport label " +
        "> meta prescan > strict-UTF-8 > windows-1252 fallback): " +
        "struct<text, charset, method>; unsupported labels reject by " +
        "name with a NULL text"),
      (es: Seq[Expression]) =>
        graft.functions.CharsetDecodeExpr(es(0), es(1))),
    "graft_charset_decode_v" -> (info("graft_charset_decode_v",
      "graft_charset_decode_v(body, content_type, dir, version) - " +
        "charset sniff + decode with the PINNED EncodingStore " +
        "artifact version under dir: the legacy multi-byte families " +
        "(shift_jis/euc-jp/iso-2022-jp/gbk/gb18030/big5/euc-kr) " +
        "decode through the pinned index tables instead of " +
        "rejecting; dir and version must be literals - the tables " +
        "load once at analysis, the tokenize_from_artifact shape"),
      (es: Seq[Expression]) => {
        val dir = literalString(es(2), "encoding artifact dir")
        val v = literalInt(es(3), "encoding artifact version")
        graft.functions.CharsetDecodeArtifactExpr(es(0), es(1),
          graft.functions.EncodingStore.tablesAt(dir, v))
      }),
    "graft_url_canonical" -> (info("graft_url_canonical",
      "graft_url_canonical(url) - deterministic canonical URL (case " +
        "norm, default port/fragment drop, tracking params removed, " +
        "params sorted) or NULL for non-absolute input"),
      (es: Seq[Expression]) => graft.functions.UrlCanonExpr(es.head)),
    "graft_url_host" -> (info("graft_url_host",
      "graft_url_host(url) - lowercase host of an absolute URL or NULL"),
      (es: Seq[Expression]) => graft.functions.UrlHostExpr(es.head)),
    "graft_registrable_domain" -> (info("graft_registrable_domain",
      "graft_registrable_domain(host) - eTLD+1 per the embedded " +
        "public-suffix snapshot (single-label and IPv4 hosts pass " +
        "through)"),
      (es: Seq[Expression]) => graft.functions.UrlDomainExpr(es.head)),
    "graft_warc_parse" -> (info("graft_warc_parse",
      "graft_warc_parse(record) - one WARC record's bytes to " +
        "struct<warc_type, target_uri, status, content_type, " +
        "location, body, coding_err, record_id, warc_date, " +
        "refers_to, refers_to_uri, payload_digest>; chunked/gzip/" +
        "deflate HTTP payloads decode in place, declined codings " +
        "name themselves in coding_err; revisit records surface " +
        "their dedup facts (referent id/uri, payload digest); " +
        "malformed records evaluate to NULL"),
      (es: Seq[Expression]) => graft.functions.WarcParseExpr(es.head)),
    "graft_warc_gz_members" -> (info("graft_warc_gz_members",
      "graft_warc_gz_members(file_bytes) - generator: one row " +
        "(member_idx, member, err) per gzip member of a concatenated " +
        ".warc.gz archive buffer; a malformed member ends the rows " +
        "with a NULL member and its rejection in err (use in " +
        "LATERAL VIEW / as the select's generator)"),
      (es: Seq[Expression]) =>
        graft.functions.WarcGzMembersExpr(es.head)),
    "graft_warc_zst_members" -> (info("graft_warc_zst_members",
      "graft_warc_zst_members(file_bytes) - generator: one row " +
        "(member_idx, member, err) per zstd data frame of a " +
        ".warc.zst archive buffer; the skippable-frame dictionary " +
        "is captured and applied, frames declaring an uncarried " +
        "dictionary keep their bytes with err=zstd-dictionary:<id>"),
      (es: Seq[Expression]) =>
        graft.functions.WarcZstMembersExpr(es.head)),
    "graft_pdf_text" -> (info("graft_pdf_text",
      "graft_pdf_text(payload) - bounded PDF text extraction " +
        "(classic AND 1.5 xref-stream/ObjStm layouts, Flate/LZW/" +
        "ASCII85/ASCIIHex/RunLength filters, /Differences remaps, " +
        "Type0/Identity-H via the embedded ToUnicode CMap, " +
        "empty-user-password RC4/AESV2/AES-256 standard-handler " +
        "decryption): struct<n_pages, text, err>; unsupported " +
        "constructs reject by NAME in err (encrypted for passworded " +
        "files, filter, type0-font for non-Identity or ToUnicode-" +
        "less composites, encoding, inline-image, malformed)"),
      (es: Seq[Expression]) => graft.functions.PdfTextExpr(es.head)),
    "graft_html_links" -> (info("graft_html_links",
      "graft_html_links(html) - struct<base, links: array<string>>: " +
        "the <a href> values in document order plus the first <base " +
        "href> (entity decode, WHATWG attribute states; raw-text " +
        "elements and comments never contribute)"),
      (es: Seq[Expression]) => graft.functions.HtmlLinksExpr(es.head)),
    "graft_url_resolve" -> (info("graft_url_resolve",
      "graft_url_resolve(base, ref) - RFC 3986 section-5 strict " +
        "reference resolution (merge + remove_dot_segments); NULL " +
        "when the base has no scheme"),
      (es: Seq[Expression]) =>
        graft.functions.UrlResolveExpr(es(0), es(1))),
    "graft_robots_directives" -> (info("graft_robots_directives",
      "graft_robots_directives(robots_txt, agent) - struct<" +
        "crawl_delay: double, sitemaps: array<string>>: the selected " +
        "group's Crawl-delay (named shadows *, max wins, invalid " +
        "values ignored) and the document-wide Sitemap list; agent " +
        "must be a string literal"),
      (es: Seq[Expression]) => graft.functions.RobotsDirectivesExpr(
        es.head, literalString(es(1), "robots agent"))),
    "graft_sitemap_parse" -> (info("graft_sitemap_parse",
      "graft_sitemap_parse(xml) - struct<kind, entries: array<" +
        "struct<loc, lastmod, priority>>, err>: bounded sitemaps.org " +
        "core (urlset/sitemapindex, namespace-tolerant); named " +
        "rejections in err (bad-root, bad-entry, entry-missing-loc, " +
        "bad-priority, too-many-entries, malformed)"),
      (es: Seq[Expression]) => graft.functions.SitemapParseExpr(es.head)),
    "graft_registrable_domain_v" -> (info("graft_registrable_domain_v",
      "graft_registrable_domain_v(host, dir, version) - eTLD+1 " +
        "against the PINNED PslStore artifact version under dir " +
        "(full publicsuffix.org semantics: exact/wildcard/exception " +
        "rules; NULL when the host IS a public suffix); dir and " +
        "version must be literals — the artifact loads once at " +
        "analysis, the tokenize_from_artifact shape"),
      (es: Seq[Expression]) => {
        val dir = literalString(es(1), "psl artifact dir")
        val v = literalInt(es(2), "psl artifact version")
        org.apache.spark.sql.GraftBridge.expression(
          graft.functions.UrlOps.registrableDomainFrom(
            org.apache.spark.sql.GraftBridge.column(es.head), dir, v))
      }),
    "graft_langid_v" -> (info("graft_langid_v",
      "graft_langid_v(text, dir, version) - language id from the " +
        "PINNED LangProfileStore artifact version under dir " +
        "(weighted-token integer scoring, first-profile tie-break); " +
        "dir and version must be literals — profiles load once at " +
        "analysis and bake into the plan"),
      (es: Seq[Expression]) => {
        val dir = literalString(es(1), "langid artifact dir")
        val v = literalInt(es(2), "langid artifact version")
        org.apache.spark.sql.GraftBridge.expression(
          graft.functions.TextOps.langIdFromArtifact(
            org.apache.spark.sql.GraftBridge.column(es.head), dir, v))
      }),
    "graft_emit" -> (info("graft_emit",
      "graft_emit(fn_name, args...) - LATERAL VIEW multi-emit of a " +
        "registered map function (FunctionCatalog.global)"),
      (es: Seq[Expression]) => {
        val name = es.headOption match {
          case Some(Literal(s: UTF8String, StringType)) => s.toString
          case other => throw new IllegalArgumentException(
            s"graft_emit's first argument must be a string literal function name, got $other")
        }
        FunctionCatalog.global.lookup(name) match {
          case Some(l: LambdaMapFunction) => EmitGenerator(l, es.tail)
          case Some(_) => throw new IllegalArgumentException(
            s"map function '$name' is expression-keyed — use its columns directly")
          case None => throw new IllegalArgumentException(
            s"map function '$name' is not registered in FunctionCatalog.global")
        }
      }))

  /** Register on an already-built session (e.g. one the harness owns). */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, (i, builder)) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), i, builder)
    }
}
