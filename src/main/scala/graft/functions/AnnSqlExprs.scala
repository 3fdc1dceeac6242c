package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.AnnIndex

/** SQL-facing ANN-index-store access — the wire surface of
  * [[graft.operators.AnnIndex]], mirroring `graft_tok_*`
  * ([[TokenizerSqlExprs]]) so a SQL-only client can discover and pin
  * index versions the same way it can tokenizers (reference catalog
  * shape: `http_handlers.go:2031-2057`):
  *
  *   SELECT graft_ann_versions('/store');
  *   SELECT graft_ann_model('/store', 2).n_centroids;
  *   SELECT graft_ann_latest('/store').batches;
  *
  * The model struct carries the index CONFIGURATION + layout facts a
  * client pins and monitors (PQ geometry, centroid count, vector dim,
  * the committed base+ingest batch ids of the codes table) — not the
  * centroid/codebook matrices themselves: those are the probe engine's
  * frozen artifact ([[graft.operators.AnnIndex.probe]] loads them by
  * pinned version), just as the reference's catalog lists index
  * definitions rather than index payloads. `n_batches` > 1 tells an
  * operator the version has absorbed incremental ingests since its
  * build — the signal that schedules a re-train/rebuild.
  *
  * All three are non-deterministic: they read the store at EVAL time and
  * must never be constant-folded into a stale result.
  */
object AnnSqlExprs {

  /** Shared control-plane DDL runner: evaluate `body` on a fresh thread
    * with the classic active session set — the [[IdxBuildExpr]] dance.
    * A DDL expression evaluates on a TASK thread (same JVM in local
    * mode); the nested build/ingest job must plan as if on a driver
    * thread, and a fresh thread carries no TaskContext and no stale
    * session thread-locals.
    */
  private[functions] def runDdl[T](name: String)(
      body: org.apache.spark.sql.classic.SparkSession => T): T = {
    val spark = IndexSqlExprs.session
    var result: Option[T] = None
    var err: Throwable = null
    val t = new Thread(() => {
      try {
        org.apache.spark.sql.classic.SparkSession.setActiveSession(spark)
        result = Some(body(spark))
      } catch { case e: Throwable => err = e }
    }, name)
    t.start()
    t.join()
    if (err != null) throw err
    result.get
  }

  private[functions] def evalInt(e: Any, what: String): Int = e match {
    case i: java.lang.Integer => i.intValue
    case l: java.lang.Long =>
      // never truncate: a BIGINT version outside Int range is an error,
      // not a different (possibly existing) version
      require(l.longValue >= Int.MinValue && l.longValue <= Int.MaxValue,
        s"$what out of range: $l")
      l.intValue
    case other => throw new IllegalArgumentException(
      s"$what must be integral, got $other")
  }

  /** Long-domain integral argument (batch ids): a BIGINT batch id must
    * NEVER narrow through Int — batch-id collisions are
    * overwrite-on-collision by contract, so a truncated id would
    * silently replace a different batch's segment.
    */
  private[functions] def evalLong(e: Any, what: String): Long = e match {
    case i: java.lang.Integer => i.longValue
    case l: java.lang.Long => l.longValue
    case other => throw new IllegalArgumentException(
      s"$what must be integral, got $other")
  }

  private[functions] def intOrLong(
      dt: DataType): Boolean = dt == IntegerType || dt == LongType

  val modelType: StructType = StructType(Seq(
    StructField("version", IntegerType),
    StructField("m", IntegerType),
    StructField("codebook_k", IntegerType),
    StructField("coarse_probes", IntegerType),
    StructField("n_centroids", IntegerType),
    StructField("dim", IntegerType),
    StructField("n_batches", IntegerType),
    StructField("batches", ArrayType(LongType, containsNull = false)),
    StructField("residual", BooleanType)))

  private[functions] def toRow(dir: String, v: Int): InternalRow = {
    val m = AnnIndex.loadModel(dir, v)
    val batches = AnnIndex.committedBatches(dir, v)
    InternalRow(v, m.m, m.codebookK, m.coarseProbes, m.fine.length,
      m.fine.headOption.map(_.length).getOrElse(0),
      batches.length, new GenericArrayData(batches.toArray),
      m.isResidual)
  }
}

/** `graft_ann_versions(dir)` → array<int> of visible index versions,
  * ascending.
  */
case class AnnVersionsExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_ann_versions"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "a string store directory",
      (child.dataType.catalogString, child.dataType == StringType))

  override protected def nullSafeEval(dir: Any): Any =
    new GenericArrayData(AnnIndex.versions(
      dir.asInstanceOf[UTF8String].toString).toArray)

  override protected def withNewChildInternal(newChild: Expression): AnnVersionsExpr =
    copy(child = newChild)
}

/** `graft_ann_model(dir, version)` → model-facts struct, NULL if the
  * version is absent.
  */
case class AnnModelExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {

  override def dataType: DataType = AnnSqlExprs.modelType
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_ann_model"

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
    // read, don't validate: a BIGINT outside Int range cannot name an
    // existing version, so it is ABSENT (null), never a truncated probe
    // of a different version
    val v = AnnSqlExprs.evalLong(version, "version")
    if (v >= 1 && v <= Int.MaxValue &&
      AnnIndex.versions(d).contains(v.toInt))
      AnnSqlExprs.toRow(d, v.toInt)
    else null
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AnnModelExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_ann_gc(dir, keepLast)` / `graft_tok_gc(dir, keepLast)` /
  * `graft_idx_gc(dir, keepLast)` → array<int> of the versions deleted
  * ([[graft.operators.AnnIndex.gcShadowed]] /
  * [[TokenizerStore.Slots]] `gc` /
  * [[graft.operators.IndexStore.gcVersioned]]): the explicit
  * lifecycle sweep, SQL-reachable like the store mutations
  * (`graft_lib_save`, `graft_tok_save`). Stale-claim collection keeps
  * the library default (24 h) — an aggressive sweep is an operator
  * decision made in code, not ambient SQL. Non-deterministic: a GC
  * must run at eval time, never constant-fold.
  */
case class StoreGcExpr(kind: String, left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override lazy val deterministic: Boolean = false
  override def prettyName: String = s"graft_${kind}_gc"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: dir must be a string, got ${left.dataType.catalogString}")
    else if (right.dataType != IntegerType && right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: keepLast must be integral, got ${right.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(dir: Any, keepLast: Any): Any = {
    val d = dir.asInstanceOf[UTF8String].toString
    val k = keepLast match {
      case i: java.lang.Integer => i.intValue
      case l: java.lang.Long => l.intValue
    }
    val deleted = kind match {
      case "ann" => AnnIndex.gcShadowed(d, keepLast = k)
      case "tok" => TokenizerStore.Slots.gc(d, keepLast = k)
      case "idx" => graft.operators.IndexStore.gcVersioned(d, keepLast = k)
      case "bm25" => graft.operators.Retrieval.gcShadowed(d, keepLast = k)
      case other => throw new IllegalStateException(s"unknown store kind $other")
    }
    new GenericArrayData(deleted.toArray)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): StoreGcExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_ann_latest(dir)` → the newest version's model-facts struct,
  * NULL if the store is empty.
  */
case class AnnLatestExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = AnnSqlExprs.modelType
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_ann_latest"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "a string store directory",
      (child.dataType.catalogString, child.dataType == StringType))

  override protected def nullSafeEval(dir: Any): Any = {
    val d = dir.asInstanceOf[UTF8String].toString
    AnnIndex.latestVersion(d).map(AnnSqlExprs.toRow(d, _)).orNull
  }

  override protected def withNewChildInternal(newChild: Expression): AnnLatestExpr =
    copy(child = newChild)
}

/** `graft_ann_stats(dir[, version])` → struct<n_vectors, n_deleted,
  * n_clusters, max_cluster> — the ANN store's statistics surface
  * ([[AnnIndex.stats]]; `graft_bm25_stats`' sibling). A MAINTENANCE
  * scan over the resolved codes table; `max_cluster / n_vectors` is
  * the skew/rebuild signal.
  */
case class AnnStatsExpr(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_vectors", LongType),
    StructField("n_deleted", LongType),
    StructField("n_clusters", LongType),
    StructField("max_cluster", LongType)))
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_ann_stats"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (children.isEmpty || children.length > 2)
      TypeCheckResult.TypeCheckFailure(s"$prettyName takes (dir[, version])")
    else if (children(0).dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: dir must be a string, got " +
          children(0).dataType.catalogString)
    else if (children.length == 2 &&
      children(1).dataType != IntegerType && children(1).dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: version must be integral, got " +
          children(1).dataType.catalogString)
    else TypeCheckResult.TypeCheckSuccess
  }

  override def eval(input: InternalRow): Any = {
    val dir = children(0).eval(input).asInstanceOf[UTF8String]
    require(dir != null, s"$prettyName: dir must be non-null")
    val version =
      if (children.length == 2)
        AnnSqlExprs.evalInt(children(1).eval(input), "version")
      else -1
    val r = AnnSqlExprs.runDdl("graft-ann-stats") { spark =>
      AnnIndex.stats(spark, dir.toString, version = version).head()
    }
    InternalRow(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AnnStatsExpr =
    copy(children = newChildren)
}

/** `graft_ann_build(dir, source_table[, n_centroids[, id_col, vec_col
  * [, residual]]])` → int version: train the IVF routing + PQ codebooks
  * over the session table and persist the artifacts as the store's next
  * immutable version ([[AnnIndex.build]]) — the ANN half of the uniform
  * DDL entry point the scalar index (`graft_idx_build`) and the BM25
  * store (`graft_bm25_build`) already expose; the reference analog is
  * one CreateIndex RPC standing up any index kind
  * (`kv_sender.go:134-151`, `projector.go:232-308`). PQ geometry
  * (m=16, codebookK=32) and probe defaults come from [[AnnIndex.build]];
  * `residual = true` builds the Faiss-style residual layout. id/vec
  * columns default to `vec_id`/`embedding`.
  */
case class AnnBuildExpr(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_ann_build"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (!Set(2, 3, 5, 6).contains(children.length))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes (dir, source_table[, n_centroids[, id_col, " +
          "vec_col[, residual]]])")
    else if (children.take(2).exists(_.dataType != StringType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: dir and source_table must be strings")
    else if (children.length >= 3 && !AnnSqlExprs.intOrLong(children(2).dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: n_centroids must be integral, got " +
          children(2).dataType.catalogString)
    else if (children.length >= 5 &&
      (children(3).dataType != StringType || children(4).dataType != StringType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: id_col and vec_col must be strings")
    else if (children.length == 6 && children(5).dataType != BooleanType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: residual must be a boolean")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def eval(input: InternalRow): Any = {
    val dir = children(0).eval(input).asInstanceOf[UTF8String]
    val table = children(1).eval(input).asInstanceOf[UTF8String]
    require(dir != null && table != null,
      s"$prettyName: dir and source_table must be non-null")
    val nCentroids =
      if (children.length >= 3)
        AnnSqlExprs.evalInt(children(2).eval(input), "n_centroids")
      else 16
    val idCol = if (children.length >= 5)
      children(3).eval(input).asInstanceOf[UTF8String].toString else "vec_id"
    val vecCol = if (children.length >= 5)
      children(4).eval(input).asInstanceOf[UTF8String].toString else "embedding"
    val residual = children.length == 6 &&
      children(5).eval(input).asInstanceOf[java.lang.Boolean].booleanValue
    AnnSqlExprs.runDdl("graft-ann-build") { spark =>
      AnnIndex.build(spark.table(table.toString), dir.toString,
        nCentroids = nCentroids, idCol = idCol, vecCol = vecCol,
        residual = residual)._2
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AnnBuildExpr =
    copy(children = newChildren)
}

/** `graft_ann_retrain(dir, vectors_table[, version[, n_centroids[,
  * id_col, vec_col]]])` → int new version: re-fit the routing + PQ
  * codebooks from the source version's RESOLVED live ids (tombstoned
  * and shadowed rows excluded) with exact vectors resolved from the
  * session table, published as the store's next immutable version
  * ([[AnnIndex.retrain]]) — the drift-recovery DDL scheduled off
  * `graft_ann_stats(...).max_cluster` skew or
  * `graft_ann_model(...).n_batches` ingest volume. The vectors table
  * must carry one row per live id and may otherwise be a superset
  * (semi-join keeps live only); version −1 / omitted = latest. The
  * source model's GEOMETRY is inherited (n_centroids omitted/−1 =
  * the source's centroid count; PQ shape and residual layout always)
  * — a drift recovery must not silently swap the deployed index's
  * quantization geometry.
  */
case class AnnRetrainExpr(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_ann_retrain"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (!Set(2, 3, 4, 6).contains(children.length))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes (dir, vectors_table[, version[, n_centroids[, " +
          "id_col, vec_col]]])")
    else if (children.take(2).exists(_.dataType != StringType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: dir and vectors_table must be strings")
    else if (children.length >= 3 && !AnnSqlExprs.intOrLong(children(2).dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: version must be integral, got " +
          children(2).dataType.catalogString)
    else if (children.length >= 4 && !AnnSqlExprs.intOrLong(children(3).dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: n_centroids must be integral, got " +
          children(3).dataType.catalogString)
    else if (children.drop(4).exists(_.dataType != StringType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: id_col and vec_col must be strings")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def eval(input: InternalRow): Any = {
    val dir = children(0).eval(input).asInstanceOf[UTF8String]
    val table = children(1).eval(input).asInstanceOf[UTF8String]
    require(dir != null && table != null,
      s"$prettyName: dir and vectors_table must be non-null")
    val version =
      if (children.length >= 3)
        AnnSqlExprs.evalInt(children(2).eval(input), "version")
      else -1
    val nCentroids =
      if (children.length >= 4)
        AnnSqlExprs.evalInt(children(3).eval(input), "n_centroids")
      else -1 // inherit the source model's centroid count
    val idCol = if (children.length >= 5)
      children(4).eval(input).asInstanceOf[UTF8String].toString else "vec_id"
    val vecCol = if (children.length >= 6)
      children(5).eval(input).asInstanceOf[UTF8String].toString else "embedding"
    AnnSqlExprs.runDdl("graft-ann-retrain") { spark =>
      AnnIndex.retrain(spark, dir.toString, spark.table(table.toString),
        version = version, nCentroids = nCentroids,
        idCol = idCol, vecCol = vecCol)._2
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AnnRetrainExpr =
    copy(children = newChildren)
}

/** The shared shape of the two ANN mutation DDLs:
  *
  *  - `graft_ann_ingest(dir, source_table, batch_id[, version[, id_col,
  *    vec_col]])` — encode the session table's (id, vector) rows with
  *    the version's FROZEN model and commit them as the idempotent
  *    `b=<batch_id>` segment ([[AnnIndex.ingest]]; upsert semantics).
  *  - `graft_ann_delete(dir, id_table, batch_id[, version[, id_col]])` —
  *    tombstone the table's ids ([[AnnIndex.delete]]).
  *
  * Both return the version mutated (version −1 / omitted = latest).
  * The batch-id namespace rules are [[AnnIndex.maintainStream]]'s: one
  * namespace per version, collisions wholesale-overwrite.
  */
case class AnnMutateExpr(kind: String, children: Seq[Expression])
    extends Expression with CodegenFallback {

  private val isIngest = kind == "ingest"

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = false
  override def prettyName: String = s"graft_ann_$kind"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    val arities = if (isIngest) Set(3, 4, 6) else Set(3, 4, 5)
    val usage = if (isIngest)
      "(dir, source_table, batch_id[, version[, id_col, vec_col]])"
    else "(dir, id_table, batch_id[, version[, id_col]])"
    if (!arities.contains(children.length))
      TypeCheckResult.TypeCheckFailure(s"$prettyName takes $usage")
    else if (children.take(2).exists(_.dataType != StringType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: dir and table must be strings")
    else if (!AnnSqlExprs.intOrLong(children(2).dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: batch_id must be integral, got " +
          children(2).dataType.catalogString)
    else if (children.length >= 4 && !AnnSqlExprs.intOrLong(children(3).dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: version must be integral, got " +
          children(3).dataType.catalogString)
    else if (children.drop(4).exists(_.dataType != StringType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: column names must be strings")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def eval(input: InternalRow): Any = {
    val dir = children(0).eval(input).asInstanceOf[UTF8String]
    val table = children(1).eval(input).asInstanceOf[UTF8String]
    require(dir != null && table != null,
      s"$prettyName: dir and table must be non-null")
    val batchId = AnnSqlExprs.evalLong(children(2).eval(input), "batch_id")
    val version =
      if (children.length >= 4)
        AnnSqlExprs.evalInt(children(3).eval(input), "version")
      else -1
    val idCol = if (children.length >= 5)
      children(4).eval(input).asInstanceOf[UTF8String].toString else "vec_id"
    val vecCol = if (children.length >= 6)
      children(5).eval(input).asInstanceOf[UTF8String].toString else "embedding"
    AnnSqlExprs.runDdl(s"graft-ann-$kind") { spark =>
      val v = AnnIndex.Versions.pin(dir.toString, version)
      if (isIngest)
        AnnIndex.ingest(spark.table(table.toString), dir.toString,
          batchId, v, idCol, vecCol)
      else
        AnnIndex.delete(spark.table(table.toString), dir.toString,
          batchId, v, idCol)
      v
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AnnMutateExpr =
    copy(children = newChildren)
}

/** `graft_ann_compact(dir[, version])` → int: fold the version's
  * committed batches into a single-batch NEW version
  * ([[AnnIndex.compact]] — shadowed upserts dropped, tombstoned ids and
  * tombstones folded away, same frozen model) and return the new
  * version. Omitted version = latest. Schedule it off
  * `graft_ann_model(dir, v).n_batches` — the wire-visible compaction
  * signal.
  */
case class AnnCompactExpr(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_ann_compact"

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

  override def eval(input: InternalRow): Any = {
    val dir = children(0).eval(input).asInstanceOf[UTF8String]
    require(dir != null, s"$prettyName: dir must be non-null")
    val version =
      if (children.length == 2)
        AnnSqlExprs.evalInt(children(1).eval(input), "version")
      else -1
    AnnSqlExprs.runDdl("graft-ann-compact") { spark =>
      AnnIndex.compact(spark, dir.toString, version = version)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AnnCompactExpr =
    copy(children = newChildren)
}
