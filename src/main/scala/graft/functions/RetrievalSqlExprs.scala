package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_bm25_versions(dir)` → array<int> of visible BM25 index store
  * versions, ascending — the retrieval store's wire discovery, mirroring
  * `graft_ann_versions`/`graft_tok_versions`/`graft_idx_versions` so
  * every versioned artifact store is SQL-discoverable the same way
  * (GC likewise: `graft_bm25_gc` via [[StoreGcExpr]]). Non-deterministic:
  * reads the store at eval time, never constant-folds.
  */
case class Bm25VersionsExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_bm25_versions"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "a string store directory",
      (child.dataType.catalogString, child.dataType == StringType))

  override protected def nullSafeEval(dir: Any): Any =
    new GenericArrayData(graft.operators.Retrieval.versionsOf(
      dir.asInstanceOf[UTF8String].toString).toArray)

  override protected def withNewChildInternal(newChild: Expression): Bm25VersionsExpr =
    copy(child = newChild)
}

/** `graft_bm25_build(dir, source_table[, n_partitions])` → int version:
  * build the BM25 retrieval store over the session table (doc_id, text
  * columns) and persist it as the store's next immutable version —
  * the retrieval-store form of `graft_idx_build`, so a SQL-only client
  * can stand up the postings the same way it stands up the scalar
  * index. Control-plane DDL evaluated from a task thread: the nested
  * build job runs on a fresh thread with the classic active session
  * set, exactly like [[IdxBuildExpr]].
  */
case class Bm25BuildExpr(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_bm25_build"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (children.length != 2 && children.length != 3)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes (dir, source_table[, n_partitions])")
    else if (children.take(2).exists(_.dataType != StringType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: dir and source_table must be strings")
    else if (children.length == 3 &&
      children(2).dataType != IntegerType && children(2).dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: n_partitions must be integral, got " +
          children(2).dataType.catalogString)
    else TypeCheckResult.TypeCheckSuccess
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val dir = children(0).eval(input).asInstanceOf[UTF8String]
    val table = children(1).eval(input).asInstanceOf[UTF8String]
    require(dir != null && table != null,
      s"$prettyName: dir and source_table must be non-null")
    val nPartitions =
      if (children.length < 3) 16
      else children(2).eval(input) match {
        case i: java.lang.Integer => i.intValue
        case l: java.lang.Long => l.intValue
        case null => 16
      }
    val spark = IndexSqlExprs.session
    var result: Int = -1
    var err: Throwable = null
    val t = new Thread(() => {
      try {
        org.apache.spark.sql.classic.SparkSession.setActiveSession(spark)
        result = graft.operators.Retrieval.buildBm25Index(
          spark.table(table.toString), dir.toString,
          nPartitions = nPartitions)
      } catch { case e: Throwable => err = e }
    }, "graft-bm25-build")
    t.start()
    t.join()
    if (err != null) throw err
    result
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Bm25BuildExpr =
    copy(children = newChildren)
}

/** `graft_bm25_layout(dir, version)` → (version, n_partitions,
  * n_batches, batches) struct or NULL — the retrieval store's pinned
  * layout facts, mirroring `graft_ann_model`: `n_batches` > 1 tells an
  * operator the version has absorbed ingest/tombstone batches since its
  * build — the compaction signal.
  */
case class Bm25LayoutExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("version", IntegerType),
    StructField("n_partitions", IntegerType),
    StructField("n_batches", IntegerType),
    StructField("batches", ArrayType(LongType, containsNull = false))))
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_bm25_layout"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: dir must be a string, got ${left.dataType.catalogString}")
    else if (right.dataType != IntegerType && right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: version must be integral, got ${right.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(dir: Any, version: Any): Any = {
    val d = dir.asInstanceOf[UTF8String].toString
    val v = version match {
      case i: java.lang.Integer => i.intValue
      case l: java.lang.Long => l.intValue
    }
    if (!graft.operators.Retrieval.versionsOf(d).contains(v)) null
    else {
      val batches = graft.operators.Retrieval.committedBatches(d, v)
      org.apache.spark.sql.catalyst.InternalRow(v,
        graft.operators.Retrieval.layoutOf(d, v).nPartitions,
        batches.length, new GenericArrayData(batches.toArray))
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Bm25LayoutExpr =
    copy(left = newLeft, right = newRight)
}

/** The BM25 store's mutation DDL — the retrieval-tier mirror of
  * `graft_ann_ingest`/`graft_ann_delete` ([[AnnMutateExpr]]), so a
  * SQL-only client can maintain the postings the same way it stands
  * them up:
  *
  *  - `graft_bm25_ingest(dir, source_table, batch_id[, version])` —
  *    commit a crawl batch's postings + doc-stats as its own
  *    idempotent `b=<batch_id>` segment under the version's frozen
  *    layout (upsert semantics, latest-batch-wins).
  *  - `graft_bm25_delete(dir, id_table, batch_id[, version])` —
  *    doc-stats tombstones; standing postings stop scoring untouched.
  *
  * Both return the version mutated (omitted/−1 = latest). Source
  * tables carry the build's (doc_id, text) / (doc_id) shapes; the
  * batch-id namespace rules are
  * [[graft.operators.Retrieval.maintainBm25Stream]]'s.
  */
case class Bm25MutateExpr(kind: String, children: Seq[Expression])
    extends Expression with CodegenFallback {

  private val isIngest = kind == "ingest"

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = false
  override def prettyName: String = s"graft_bm25_$kind"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (children.length != 3 && children.length != 4)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes (dir, table, batch_id[, version])")
    else if (children.take(2).exists(_.dataType != StringType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: dir and table must be strings")
    else if (children.drop(2).exists(e => !AnnSqlExprs.intOrLong(e.dataType)))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: batch_id and version must be integral")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val dir = children(0).eval(input).asInstanceOf[UTF8String]
    val table = children(1).eval(input).asInstanceOf[UTF8String]
    require(dir != null && table != null,
      s"$prettyName: dir and table must be non-null")
    val batchId = AnnSqlExprs.evalLong(children(2).eval(input), "batch_id")
    val version =
      if (children.length == 4)
        AnnSqlExprs.evalInt(children(3).eval(input), "version")
      else -1
    AnnSqlExprs.runDdl(s"graft-bm25-$kind") { spark =>
      val v = graft.operators.Retrieval.Versions.pin(dir.toString, version)
      if (isIngest)
        graft.operators.Retrieval.ingestBm25(
          spark.table(table.toString), dir.toString, batchId, v)
      else
        graft.operators.Retrieval.deleteBm25(
          spark.table(table.toString), dir.toString, batchId, v)
      v
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Bm25MutateExpr =
    copy(children = newChildren)
}

/** `graft_bm25_compact(dir[, version])` → int: fold the version's
  * committed batches into a single-batch NEW version
  * ([[graft.operators.Retrieval.compactBm25]] — shadowed re-crawled
  * postings dropped, tombstoned docs folded away, same layout) and
  * return it. Schedule off `graft_bm25_layout(dir, v).n_batches`.
  */
case class Bm25CompactExpr(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_bm25_compact"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (children.isEmpty || children.length > 2)
      TypeCheckResult.TypeCheckFailure(s"$prettyName takes (dir[, version])")
    else if (children(0).dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: dir must be a string, got " +
          children(0).dataType.catalogString)
    else if (children.length == 2 && !AnnSqlExprs.intOrLong(children(1).dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: version must be integral, got " +
          children(1).dataType.catalogString)
    else TypeCheckResult.TypeCheckSuccess
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val dir = children(0).eval(input).asInstanceOf[UTF8String]
    require(dir != null, s"$prettyName: dir must be non-null")
    val version =
      if (children.length == 2)
        AnnSqlExprs.evalInt(children(1).eval(input), "version")
      else -1
    AnnSqlExprs.runDdl("graft-bm25-compact") { spark =>
      graft.operators.Retrieval.compactBm25(spark, dir.toString,
        version = version)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Bm25CompactExpr =
    copy(children = newChildren)
}

/** `graft_bm25_stats(dir[, version])` → struct<n_docs, total_dl,
  * n_terms, n_postings> — the retrieval store's statistics surface
  * ([[graft.operators.Retrieval.bm25Stats]]; the scalar tier's
  * `idx_stats` analog on the wire). A MAINTENANCE scan, not a probe:
  * it reads the whole resolved store, and `n_postings == total_dl` is
  * the integrity invariant an operator alerts on.
  */
case class Bm25StatsExpr(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_docs", LongType),
    StructField("total_dl", LongType),
    StructField("n_terms", LongType),
    StructField("n_postings", LongType)))
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_bm25_stats"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (children.isEmpty || children.length > 2)
      TypeCheckResult.TypeCheckFailure(s"$prettyName takes (dir[, version])")
    else if (children(0).dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: dir must be a string, got " +
          children(0).dataType.catalogString)
    else if (children.length == 2 && !AnnSqlExprs.intOrLong(children(1).dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: version must be integral, got " +
          children(1).dataType.catalogString)
    else TypeCheckResult.TypeCheckSuccess
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val dir = children(0).eval(input).asInstanceOf[UTF8String]
    require(dir != null, s"$prettyName: dir must be non-null")
    val version =
      if (children.length == 2)
        AnnSqlExprs.evalInt(children(1).eval(input), "version")
      else -1
    val r = AnnSqlExprs.runDdl("graft-bm25-stats") { spark =>
      graft.operators.Retrieval.bm25Stats(spark, dir.toString,
        version = version).head()
    }
    org.apache.spark.sql.catalyst.InternalRow(
      r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Bm25StatsExpr =
    copy(children = newChildren)
}

/** `graft_hybrid_search(bm25_dir, ann_dir, terms, q_vec, corpus_table,
  * k[, k_leg[, nprobe[, rerank]]])` → array<struct<doc_id, rrf_nano,
  * rk>> — the engine's flagship QUERY shape
  * ([[graft.operators.Retrieval.hybridSearch]]) on the SQL wire: both
  * index tiers probed and RRF-fused from one SQL call, composable with
  * `explode(...)`. The two stores' DDL siblings (`graft_bm25_*`,
  * `graft_ann_*`) stand the indexes up; this is how a SQL-only client
  * then ASKS them something.
  *
  * Control-plane evaluation like the DDL family ([[AnnSqlExprs.runDdl]]
  * thread dance); the result is k fused rows — result-sized by
  * construction, so returning them as an array VALUE is legitimate.
  * `q_vec` accepts array<float> or array<double> (values are widened/
  * narrowed to the corpus's float vectors; pass the corpus's own
  * floats for bit-exact parity). `corpus_table` supplies true vectors
  * for the ANN re-rank shortlist.
  */
case class HybridSearchExpr(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("doc_id", LongType),
    StructField("rrf_nano", LongType),
    StructField("rk", IntegerType))), containsNull = false)
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_hybrid_search"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (children.length < 6 || children.length > 9)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes (bm25_dir, ann_dir, terms, q_vec, " +
          "corpus_table, k[, k_leg[, nprobe[, rerank]]])")
    else if (children(0).dataType != StringType ||
      children(1).dataType != StringType ||
      children(4).dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: dirs and corpus_table must be strings")
    else if (!children(2).dataType.isInstanceOf[ArrayType] ||
      children(2).dataType.asInstanceOf[ArrayType].elementType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: terms must be array<string>")
    else if (!(children(3).dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: q_vec must be array<float> or array<double>")
    else if (children.drop(5).exists(e => !AnnSqlExprs.intOrLong(e.dataType)))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: k, k_leg, nprobe and rerank must be integral")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val bmDir = children(0).eval(input).asInstanceOf[UTF8String]
    val annDir = children(1).eval(input).asInstanceOf[UTF8String]
    val termsData = children(2).eval(input).asInstanceOf[ArrayData]
    val qvData = children(3).eval(input).asInstanceOf[ArrayData]
    val table = children(4).eval(input).asInstanceOf[UTF8String]
    require(bmDir != null && annDir != null && termsData != null &&
      qvData != null && table != null, s"$prettyName: null argument")
    // element-level null guard: the type check admits containsNull
    // arrays, and a null slot would otherwise surface as a bare NPE
    // deep in the array copy
    require(!(0 until termsData.numElements())
        .exists(termsData.isNullAt),
      s"$prettyName: terms must not contain null elements")
    require(!(0 until qvData.numElements()).exists(qvData.isNullAt),
      s"$prettyName: q_vec must not contain null elements")
    val terms = termsData.toArray[UTF8String](StringType)
      .map(_.toString).toSeq
    val qVec: Array[Float] =
      children(3).dataType.asInstanceOf[ArrayType].elementType match {
        case FloatType => qvData.toFloatArray()
        case _ => qvData.toDoubleArray().map(_.toFloat)
      }
    def intArg(i: Int, dflt: Int): Int =
      if (children.length > i) AnnSqlExprs.evalInt(children(i).eval(input),
        s"argument ${i + 1}") else dflt
    val k = intArg(5, -1)
    val kLeg = intArg(6, 20)
    val nprobe = intArg(7, 4)
    val rerank = intArg(8, 16)
    require(k >= 1, s"$prettyName: k must be >= 1")
    val rows = AnnSqlExprs.runDdl("graft-hybrid-search") { spark =>
      import spark.implicits._
      // q_id = -1: the wire query is anonymous — the probe's
      // self-exclusion (neighbor_id =!= q_id) must never fire on a real
      // corpus id the caller didn't name
      val qv = Seq((-1L, qVec.toSeq)).toDF("q_id", "q_vec")
      graft.operators.Retrieval.hybridSearch(spark, bmDir.toString,
        annDir.toString, terms, qv, spark.table(table.toString), k,
        kLeg = kLeg, nprobe = nprobe, rerank = rerank)
        .orderBy("rk").collect()
    }
    new GenericArrayData(rows.map(r => org.apache.spark.sql.catalyst
      .InternalRow(r.getLong(0), r.getLong(1), r.getInt(2))))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HybridSearchExpr =
    copy(children = newChildren)
}

/** `graft_hybrid_batch(bm25_dir, ann_dir, queries_table, corpus_table,
  * k[, k_leg[, nprobe[, rerank[, allowed_table]]]])` →
  * array<struct<q_id, doc_id, rrf_nano, rk>> — the BATCHED (and
  * optionally tenant-scoped) hybrid shape
  * ([[graft.operators.Retrieval.hybridSearchBatch]]) on the SQL wire:
  * a whole query TABLE (`q_id`, `terms` array<string>, `q_vec`) is
  * answered with ONE pruned postings pass + ONE probed codes pass and
  * fused per query — the production retrieval-eval / RAG shape that was
  * previously Scala-only. `allowed_table` (optional; its FIRST column
  * is the id set) restricts both legs with each leg's pre-filter
  * semantics: BM25 keeps corpus-wide statistics and gates candidates
  * before the per-query top-k, the ANN leg gates candidates before the
  * shortlist window — fusion never ranks a disallowed doc.
  *
  * Control-plane evaluation like the DDL family ([[AnnSqlExprs.runDdl]]
  * thread dance). The returned array is N·k fused rows — the answer
  * itself, result-sized by the same argument as `graft_hybrid_search`
  * (probe batches are control-plane-sized by nature); compose with
  * `explode(...)` for a relational view. Array order is (q_id, rk).
  */
case class HybridBatchExpr(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("q_id", LongType),
    StructField("doc_id", LongType),
    StructField("rrf_nano", LongType),
    StructField("rk", IntegerType))), containsNull = false)
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_hybrid_batch"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (children.length < 5 || children.length > 9)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes (bm25_dir, ann_dir, queries_table, " +
          "corpus_table, k[, k_leg[, nprobe[, rerank[, allowed_table]]]])")
    else if (children.take(4).exists(_.dataType != StringType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: dirs and table names must be strings")
    else if (children.length == 9 && children(8).dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: allowed_table must be a string")
    else if (children.slice(4, 8).exists(e => !AnnSqlExprs.intOrLong(e.dataType)))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: k, k_leg, nprobe and rerank must be integral")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val bmDir = children(0).eval(input).asInstanceOf[UTF8String]
    val annDir = children(1).eval(input).asInstanceOf[UTF8String]
    val qTable = children(2).eval(input).asInstanceOf[UTF8String]
    val cTable = children(3).eval(input).asInstanceOf[UTF8String]
    require(bmDir != null && annDir != null && qTable != null &&
      cTable != null, s"$prettyName: null argument")
    def intArg(i: Int, dflt: Int): Int =
      if (children.length > i && i < 8)
        AnnSqlExprs.evalInt(children(i).eval(input), s"argument ${i + 1}")
      else dflt
    val k = intArg(4, -1)
    val kLeg = intArg(5, 20)
    val nprobe = intArg(6, 4)
    val rerank = intArg(7, 16)
    require(k >= 1, s"$prettyName: k must be >= 1")
    val allowedTable =
      if (children.length == 9) {
        val t = children(8).eval(input).asInstanceOf[UTF8String]
        require(t != null, s"$prettyName: allowed_table must be non-null")
        Some(t.toString)
      } else None
    val rows = AnnSqlExprs.runDdl("graft-hybrid-batch") { spark =>
      graft.operators.Retrieval.hybridSearchBatch(spark, bmDir.toString,
        annDir.toString, spark.table(qTable.toString),
        spark.table(cTable.toString), k, kLeg = kLeg, nprobe = nprobe,
        rerank = rerank,
        allowed = allowedTable.map(spark.table))
        .orderBy("q_id", "rk").collect()
    }
    new GenericArrayData(rows.map(r => org.apache.spark.sql.catalyst
      .InternalRow(r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HybridBatchExpr =
    copy(children = newChildren)
}
