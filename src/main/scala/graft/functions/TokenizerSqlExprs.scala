package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL-facing tokenizer-artifact access — the wire surface of
  * [[TokenizerStore]], mirroring the `graft_lib_*` family (the
  * reference's catalog is likewise wire-accessible: stored via
  * `http_handlers.go:2031-2057`, fetched frozen at evaluator
  * construction `Projector/indexjs.go:21`):
  *
  *   SELECT graft_tok_versions('/store');
  *   SELECT graft_tok_get('/store', 3).rules;
  *   SELECT graft_tok_latest('/store').vocab;
  *   SELECT graft_tok_save('/store', 10, 1, rules_str, vocab_str);
  *
  * The `rules` / `vocab` struct fields use EXACTLY the TAB-line wire
  * format `bpe_encode` / `bpe_encode_ids` consume (`lhs<TAB>rhs` per
  * rule in step order; `symbol<TAB>id` per vocab entry in id order), so
  * a SQL-only client fetches an artifact in one query and tokenizes
  * with it in the next — no driver-side Scala anywhere in the loop.
  * Training stays a corpus-scale job ([[TokenizerStore.trainAndSave]]);
  * `graft_tok_save` ingests externally supplied (or copied) artifacts,
  * which carry no training statistics — wire-saved merge rules record
  * `pairCount = 0`, like the reference's code-string store keeps no
  * compile metrics.
  *
  * All four are declared non-deterministic: they read/write the store
  * at EVAL time and must never be constant-folded into a stale result.
  */
object TokenizerSqlExprs {

  val artifactType: StructType = StructType(Seq(
    StructField("version", IntegerType),
    StructField("steps", IntegerType),
    StructField("min_pair_count", LongType),
    StructField("rules", StringType),
    StructField("vocab", StringType)))

  private[functions] def toRow(a: TokenizerStore.Artifact): InternalRow =
    InternalRow(
      a.version,
      a.steps,
      a.minPairCount,
      UTF8String.fromString(
        a.mergePairs.map { case (l, r) => s"$l\t$r" }.mkString("\n")),
      UTF8String.fromString(
        a.vocabIds.map { case (s, id) => s"$s\t$id" }.mkString("\n")))

  private[functions] def str(v: Any): String =
    if (v == null) null else v.asInstanceOf[UTF8String].toString
}

/** `graft_tok_versions(dir)` → array<int> of stored versions, ascending. */
case class TokVersionsExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_tok_versions"

  override protected def nullSafeEval(dir: Any): Any =
    new GenericArrayData(TokenizerStore.Slots.versions(
      dir.asInstanceOf[UTF8String].toString).toArray)

  override protected def withNewChildInternal(newChild: Expression): TokVersionsExpr =
    copy(child = newChild)
}

/** `graft_tok_get(dir, version)` → artifact struct, NULL if absent. */
case class TokGetExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {

  override def dataType: DataType = TokenizerSqlExprs.artifactType
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_tok_get"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (right.dataType != IntegerType && right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: version must be integral, got ${right.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(dir: Any, version: Any): Any = {
    val v = version match {
      case i: java.lang.Integer => i.intValue
      case l: java.lang.Long => l.intValue
    }
    TokenizerStore.get(dir.asInstanceOf[UTF8String].toString, v)
      .map(TokenizerSqlExprs.toRow).orNull
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokGetExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_tok_latest(dir)` → newest artifact struct, NULL if none. */
case class TokLatestExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = TokenizerSqlExprs.artifactType
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_tok_latest"

  override protected def nullSafeEval(dir: Any): Any =
    TokenizerStore.Slots.latest(dir.asInstanceOf[UTF8String].toString)
      .map(TokenizerSqlExprs.toRow).orNull

  override protected def withNewChildInternal(newChild: Expression): TokLatestExpr =
    copy(child = newChild)
}

/** `graft_tok_save(dir, steps, min_pair_count, rules, vocab)` → the
  * allocated version number (immutable slot, next free).
  */
case class TokSaveExpr(children: Seq[Expression])
    extends Expression with CodegenFallback {

  require(children.length == 5,
    "graft_tok_save(dir, steps, min_pair_count, rules, vocab)")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_tok_save"

  override def eval(input: InternalRow): Any = {
    import TokenizerSqlExprs.str
    val dir = str(children(0).eval(input))
    val steps = children(1).eval(input)
    val minPair = children(2).eval(input)
    val rules = str(children(3).eval(input))
    val vocab = str(children(4).eval(input))
    if (dir == null || steps == null || minPair == null ||
        rules == null || vocab == null) return null
    def lines(s: String, what: String): Seq[(String, String)] =
      s.split("\n").toSeq.filter(_.nonEmpty).map { line =>
        line.split("\t", 2) match {
          case Array(l, r) => (l, r)
          case _ => throw new IllegalArgumentException(
            s"$prettyName: $what line must be 'a<TAB>b', got '$line'")
        }
      }
    val merges = lines(rules, "rules").zipWithIndex.map { case ((l, r), i) =>
      TokenizerStore.MergeRule(i + 1L, l, r, pairCount = 0L)
    }
    val vocabEntries = lines(vocab, "vocab").map { case (s, id) =>
      TokenizerStore.VocabEntry(id.toLong, s, "wire")
    }
    TokenizerStore.save(dir, steps.asInstanceOf[Number].intValue,
      minPair.asInstanceOf[Number].longValue, merges, vocabEntries)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TokSaveExpr =
    copy(children = newChildren)
}
