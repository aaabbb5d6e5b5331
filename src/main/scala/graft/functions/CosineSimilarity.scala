package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/**
 * Native cosine similarity over two Array[Float] columns.
 *
 * This is the engine's one custom Catalyst Expression (SURVEY §7.3 said
 * none were needed for reference parity — this is for the ANN operators
 * beyond the reference). The composable form
 * `aggregate(zip_with(a,b,*), 0d, +)` is evaluated through interpreted
 * higher-order lambdas per row; on the brute-force ANN path that's the
 * inner loop over |Q|·|C| pairs. This expression participates in
 * whole-stage codegen (doGenCode emits a single fused loop), keeping the
 * hot path inside Tungsten.
 *
 * Semantics match the composable form bit-for-bit: elements are widened
 * float→double and accumulated left-to-right in array order;
 * cosine = dot / (sqrt(Σa²) · sqrt(Σb²)).
 */
case class CosineSimilarity(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<float> arguments, " +
            s"got ${left.dataType.sql} and ${right.dataType.sql}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val xb = b.asInstanceOf[ArrayData]
    val n = math.min(xa.numElements(), xb.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = xa.getFloat(i).toDouble
      val y = xb.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/**
 * Session extension registering the engine's native functions — the
 * documented Catalyst extension point (SparkSessionExtensions), wired into
 * every session this engine builds via spark.sql.extensions.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_cosine takes exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_gram_hash_set"),
      new ExpressionInfo(classOf[GramHashSet].getName, "graft_gram_hash_set"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_gram_hash_set takes exactly 1 argument")
        GramHashSet(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_gram_hash_set_cp"),
      new ExpressionInfo(classOf[GramHashSet].getName, "graft_gram_hash_set_cp"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_gram_hash_set_cp takes exactly 1 argument")
        GramHashSet(children.head, wide = true)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "graft_sorted_intersect_count"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_sorted_intersect_count takes exactly 2 arguments")
        SortedIntersectCount(children.head, children(1))
      }))
    // one name per (k, wide) signature kernel: k = a banding profile's
    // numHashes, wide = mod-P reduction first (MinHashSignature.name)
    for (k <- 1 to MinHashSignature.MaxK; wide <- Seq(false, true)) {
      val name = MinHashSignature.name(k, wide)
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[MinHashSignature].getName, name),
        (children: Seq[Expression]) => {
          require(children.length == 1, s"$name takes exactly 1 argument")
          MinHashSignature(children.head, k, wide)
        }))
    }
    ext.injectFunction((
      new FunctionIdentifier("graft_token_shingle_hash_set"),
      new ExpressionInfo(classOf[TokenShingleHashSet].getName, "graft_token_shingle_hash_set"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_token_shingle_hash_set takes (tokens, k)")
        TokenShingleHashSet(children.head,
          intLit("graft_token_shingle_hash_set", children(1), "k"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_max_r6_cosine"),
      new ExpressionInfo(classOf[MaxRoundedCosine].getName, "graft_max_r6_cosine"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_max_r6_cosine takes exactly 2 arguments")
        MaxRoundedCosine(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash32"),
      new ExpressionInfo(classOf[SimHash32].getName, "graft_simhash32"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_simhash32 takes exactly 1 argument")
        SimHash32(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_qdot"),
      new ExpressionInfo(classOf[IntDotProduct].getName, "graft_qdot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_qdot takes exactly 2 arguments")
        IntDotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_top_bigram_count"),
      new ExpressionInfo(classOf[TopBigramCount].getName, "graft_top_bigram_count"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_top_bigram_count takes exactly 1 argument")
        TopBigramCount(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hex_long"),
      new ExpressionInfo(classOf[HexLong].getName, "graft_hex_long"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "graft_hex_long takes (hex, start, digits)")
        HexLong(children.head, intLit("graft_hex_long", children(1), "start"),
          intLit("graft_hex_long", children(2), "digits"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_argmin"),
      new ExpressionInfo(classOf[PqArgmin].getName, "graft_pq_argmin"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_pq_argmin takes exactly 2 arguments")
        PqArgmin(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_sub_dists"),
      new ExpressionInfo(classOf[PqSubDists].getName, "graft_pq_sub_dists"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_pq_sub_dists takes exactly 2 arguments")
        PqSubDists(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_char_stats"),
      new ExpressionInfo(classOf[CharStats].getName, "graft_char_stats"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_char_stats takes exactly 1 argument")
        CharStats(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_lang_scores"),
      new ExpressionInfo(classOf[LangScores].getName, "graft_lang_scores"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_lang_scores takes exactly 1 argument")
        LangScores(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hashed_margin"),
      new ExpressionInfo(classOf[HashedMargin].getName, "graft_hashed_margin"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_hashed_margin takes exactly 1 argument")
        HashedMargin(children.head)
      }))
    // The whole-operator extension ladder: graft's as-of join is a real
    // logical node planned by a real strategy into a real physical
    // operator (graft.plans.AsofJoin*) — EnsureRequirements supplies the
    // co-partitioning exchanges and sorts from its declared requirements.
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // Rule[LogicalPlan] rung: teach the optimizer what it cannot infer
    // about the custom node — left-filter commutation and column pruning
    // (both feed the STOCK rules, e.g. a pushed filter continues to the
    // parquet scan's PushedFilters).
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsof)
    ext.injectOptimizerRule(_ => graft.plans.PruneAsofColumns)
  }

  /** The value of a plan-time integer-literal argument of function `fn`. */
  private def intLit(fn: String, e: Expression, what: String): Int = {
    require(e.foldable, s"$fn: $what must be a literal")
    e.eval() match {
      case i: Integer => i.intValue()
      case l: java.lang.Long => l.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an integer literal, got $other")
    }
  }
}
