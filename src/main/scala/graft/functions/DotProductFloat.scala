package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two `array<float>`
  * columns, accumulated in double.
  *
  * Why an Expression and not `zip_with` + `aggregate`: higher-order
  * functions evaluate their lambdas interpreted, one function call per
  * element, outside whole-stage codegen. This expression emits a tight
  * primitive loop over the unsafe array data (`getFloat(i)` reads
  * straight from Tungsten memory), so a 100 TB similarity scan scores
  * vectors at memory bandwidth instead of interpreter speed —
  * the engine's example of the "custom Expression beats UDF beats
  * driver loop" preference order (SURVEY.md §7.3).
  *
  * Trailing elements of the longer array are ignored (min-length
  * semantics); null elements contribute 0. This is the FAST path —
  * sequential double accumulation, so results are deterministic for a
  * given element order but not exactly equal to the DECIMAL-exact
  * [[graft.operators.Similarity.dot]], which remains the oracle-gated
  * path.
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_dot requires (array<float>, array<float>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Argument parsing shared by the [[GraftExtensions]] builders. */
object GraftFunctions {

  /** `graft_cdc_lens(hs, mod, textLen)` — the literal modulus sits
    * between the two column arguments.
    */
  private[functions] def mkCdcLens(exprs: Seq[Expression]): CdcSegLens = {
    require(exprs.size == 3, s"graft_cdc_lens expects exactly 3 arguments, got ${exprs.size}")
    CdcSegLens(exprs.head, exprs(2), foldableInt(exprs(1), "graft_cdc_lens mod"))
  }

  /** `graft_vocab_hits(text, 'w1', 'w2', ...)` — trailing literal
    * string args become the vocabulary.
    */
  private[functions] def mkVocabHits(exprs: Seq[Expression]): VocabHits = {
    require(exprs.size >= 2, "graft_vocab_hits(text, word...) needs at least one word")
    val words = exprs.tail.map { e =>
      require(e.foldable, "graft_vocab_hits vocabulary must be string literals")
      e.eval() match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case other => throw new IllegalArgumentException(s"vocab word must be a string, got $other")
      }
    }
    VocabHits(exprs.head, words)
  }

  /** `graft_bpe_table(word, mergesSpec, byteMode)` — the merge table
    * (one `l<TAB>r` per line, rank = line order) and alphabet flag are
    * literals; typically `BpeTokens.mergesSpecOf(BpeTrainer.train(...))`,
    * closing the in-engine train→tokenize loop.
    */
  private[functions] def mkBpeTable(exprs: Seq[Expression]): BpeTableTokens = {
    require(exprs.size == 3, s"graft_bpe_table expects exactly 3 arguments, got ${exprs.size}")
    require(exprs(1).foldable, "graft_bpe_table mergesSpec must be a string literal")
    val spec = exprs(1).eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(s"mergesSpec must be a string, got $other")
    }
    require(exprs(2).foldable, "graft_bpe_table byteMode must be a boolean literal")
    val byteMode = exprs(2).eval() match {
      case b: java.lang.Boolean => b.booleanValue()
      case other => throw new IllegalArgumentException(s"byteMode must be a boolean, got $other")
    }
    BpeTableTokens(exprs.head, spec, byteMode)
  }

  /** Extract a literal int argument (the gram width) at resolution time. */
  private[functions] def foldableInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(s"$what must be an integer, got $other")
    }
  }

  /** Arity check for the two-argument builders — a clean analysis-time
    * message instead of an IndexOutOfBounds internal error, and no
    * silently-dropped extra arguments.
    */
  private[functions] def arity2(exprs: Seq[Expression], fn: String): Seq[Expression] = {
    require(exprs.size == 2, s"$fn expects exactly 2 arguments, got ${exprs.size}")
    exprs
  }

  /** [[arity2]]'s twin for the one-argument builders; returns the argument. */
  private[functions] def arity1(exprs: Seq[Expression], fn: String): Expression = {
    require(exprs.size == 1, s"$fn expects exactly 1 argument, got ${exprs.size}")
    exprs.head
  }
}

/** `spark.sql.extensions`-style injection (the installation path for a
  * cluster where sessions are built by the platform, not the app):
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (
        FunctionIdentifier("graft_dot"),
        new ExpressionInfo(classOf[DotProductFloat].getCanonicalName, "graft_dot"),
        (exprs: Seq[Expression]) => {
          val a = GraftFunctions.arity2(exprs, "graft_dot")
          DotProductFloat(a.head, a(1))
        }))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_dot_dec"),
        new ExpressionInfo(classOf[DotProductDecimal].getCanonicalName, "graft_dot_dec"),
        (exprs: Seq[Expression]) => {
          val a = GraftFunctions.arity2(exprs, "graft_dot_dec")
          DotProductDecimal(a.head, a(1))
        }))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_max_mult"),
        new ExpressionInfo(classOf[ArrayMaxMultiplicity].getCanonicalName, "graft_max_mult"),
        (exprs: Seq[Expression]) => ArrayMaxMultiplicity(GraftFunctions.arity1(exprs, "graft_max_mult"))))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_gram_hashes"),
        new ExpressionInfo(classOf[GramHashes].getCanonicalName, "graft_gram_hashes"),
        (exprs: Seq[Expression]) => {
          val a = GraftFunctions.arity2(exprs, "graft_gram_hashes")
          GramHashes(a.head, GraftFunctions.foldableInt(a(1), "graft_gram_hashes k"))
        }))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_vocab_hits"),
        new ExpressionInfo(classOf[VocabHits].getCanonicalName, "graft_vocab_hits"),
        (exprs: Seq[Expression]) => GraftFunctions.mkVocabHits(exprs)))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_minhash"),
        new ExpressionInfo(classOf[MinHashFold].getCanonicalName, "graft_minhash"),
        (exprs: Seq[Expression]) => {
          val a = GraftFunctions.arity2(exprs, "graft_minhash")
          MinHashFold(a.head, GraftFunctions.foldableInt(a(1), "graft_minhash k"))
        }))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_win_mins"),
        new ExpressionInfo(classOf[WindowMins].getCanonicalName, "graft_win_mins"),
        (exprs: Seq[Expression]) => {
          val a = GraftFunctions.arity2(exprs, "graft_win_mins")
          WindowMins(a.head, GraftFunctions.foldableInt(a(1), "graft_win_mins w"))
        }))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_cdc_lens"),
        new ExpressionInfo(classOf[CdcSegLens].getCanonicalName, "graft_cdc_lens"),
        (exprs: Seq[Expression]) => GraftFunctions.mkCdcLens(exprs)))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_bpe"),
        new ExpressionInfo(classOf[BpeTokens].getCanonicalName, "graft_bpe"),
        (exprs: Seq[Expression]) => BpeTokens(GraftFunctions.arity1(exprs, "graft_bpe"))))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_bpe_bytes"),
        new ExpressionInfo(classOf[BpeBytesTokens].getCanonicalName, "graft_bpe_bytes"),
        (exprs: Seq[Expression]) => BpeBytesTokens(GraftFunctions.arity1(exprs, "graft_bpe_bytes"))))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_bpe_table"),
        new ExpressionInfo(classOf[BpeTableTokens].getCanonicalName, "graft_bpe_table"),
        (exprs: Seq[Expression]) => GraftFunctions.mkBpeTable(exprs)))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_fix_mojibake"),
        new ExpressionInfo(classOf[FixMojibake].getCanonicalName, "graft_fix_mojibake"),
        (exprs: Seq[Expression]) => FixMojibake(GraftFunctions.arity1(exprs, "graft_fix_mojibake"))))
    // The whole-operator extension stack: GRAFT_TOPK hint → custom
    // logical node → custom physical operator (graft.plans.TopKPerGroup).
    ext.injectResolutionRule(spark => graft.plans.ResolveTopKHint(spark))
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}
