package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/**
 * Session extension registering the engine's native kernels — the
 * documented Catalyst extension point (SparkSessionExtensions), wired into
 * every session this engine builds via spark.sql.extensions.
 *
 * A kernel is a plain `compute` method on a Scala object. Its SQL name is
 * bound by Spark's own StaticInvoke, which calls the object's static
 * forwarder from generated code (whole-stage codegen) and by reflection
 * on the interpreted path (constant folding, local relations): one
 * method, both paths. StaticInvoke propagates nulls, so a null argument
 * gives null without the kernel seeing it.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.kernels.foreach { k =>
      ext.injectFunction((new FunctionIdentifier(k.name),
        new ExpressionInfo(k.kernel.getClass.getName.stripSuffix("$"), k.name), k.build))
    }
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
}

object GraftExtensions {

  /** One SQL argument of a kernel. */
  sealed trait Param
  /** A column argument of one of the `accepted` types (nullability and
    * struct field names ignored; no implicit cast). */
  final case class Col(accepted: DataType*) extends Param
  /** A plan-time integer literal in `min..max`, named `what` in errors. */
  final case class IntLit(what: String, min: Int, max: Int = Int.MaxValue) extends Param

  /** SQL `name` calls `kernel.compute(args ++ bound(argument types))`,
    * which returns `result`. `nullOut`: compute may return null for
    * non-null arguments. */
  final case class Kernel(name: String, kernel: AnyRef, result: DataType, params: Seq[Param],
      nullOut: Boolean = false, bound: Seq[DataType] => Seq[Any] = _ => Nil) {

    def build(args: Seq[Expression]): Expression = {
      require(args.length == params.length,
        s"$name takes ${params.length} argument(s), got ${args.length}")
      val checked = params.zip(args).zipWithIndex.map {
        case ((Col(accepted @ _*), e), i) =>
          if (!accepted.exists(DataType.equalsStructurally(_, e.dataType, ignoreNullability = true)))
            throw typeMismatch(args, i, accepted)
          e
        case ((IntLit(what, min, max), e), _) => Literal(intLit(e, what, min, max))
      }
      // inputTypes = Nil: no ImplicitCastInputTypes cast may widen what
      // the type check above admits (array<double> into array<float>)
      StaticInvoke(kernel.getClass, result, "compute",
        checked ++ bound(args.map(_.dataType)).map(Literal(_)),
        inputTypes = Nil, propagateNull = true, returnNullable = nullOut)
    }

    private def typeMismatch(args: Seq[Expression], i: Int, accepted: Seq[DataType]) =
      new AnalysisException("DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", Map(
        "sqlExpr" -> s"\"$name(${args.map(_.sql).mkString(", ")})\"",
        "paramIndex" -> Seq("first", "second", "third")(i),
        "requiredType" -> accepted.map(t => s"\"${t.sql}\"").mkString(" or "),
        "inputSql" -> s"\"${args(i).sql}\"",
        "inputType" -> s"\"${args(i).dataType.sql}\""))

    /** The value of a plan-time integer literal, rejected outside
      * `min..max` (which lies inside the INT range, so a BIGINT literal
      * never wraps). */
    private def intLit(e: Expression, what: String, min: Int, max: Int): Int = {
      require(e.foldable, s"$name: $what must be a literal")
      val v = e.eval() match {
        case i: Integer => i.longValue
        case l: java.lang.Long => l.longValue
        case other => throw new IllegalArgumentException(
          s"$name: $what must be an integer literal, got $other")
      }
      require(v >= min && v <= max, s"$name: $what must be in $min..$max, got $v")
      v.toInt
    }
  }

  private val LongSet = ArrayType(LongType, containsNull = false)
  private val Floats = ArrayType(FloatType)
  private val Doubles = ArrayType(DoubleType)
  private def svIsDouble(ts: Seq[DataType]): Seq[Any] =
    Seq(ts.head.asInstanceOf[ArrayType].elementType == DoubleType)

  /** Every registered native function, one line per SQL name. */
  val kernels: Seq[Kernel] = Seq(
    Kernel("graft_cosine", CosineSimilarity, DoubleType, Seq(Col(Floats), Col(Floats))),
    Kernel("graft_gram_hash_set", GramHashSet, LongSet, Seq(Col(StringType)), bound = _ => Seq(false)),
    Kernel("graft_gram_hash_set_cp", GramHashSet, LongSet, Seq(Col(StringType)), bound = _ => Seq(true)),
    Kernel("graft_sorted_intersect_count", SortedIntersectCount, IntegerType,
      Seq(Col(ArrayType(LongType)), Col(ArrayType(LongType)))),
    Kernel("graft_token_shingle_hash_set", TokenShingleHashSet, LongSet,
      Seq(Col(ArrayType(StringType)), IntLit("k", 1))),
    Kernel("graft_max_r6_cosine", MaxRoundedCosine, DoubleType,
      Seq(Col(Floats), Col(ArrayType(Floats))), nullOut = true),
    Kernel("graft_simhash32", SimHash32, LongType, Seq(Col(StringType)), nullOut = true),
    Kernel("graft_qdot", IntDotProduct, LongType,
      Seq(Col(ArrayType(IntegerType)), Col(ArrayType(IntegerType))), nullOut = true),
    Kernel("graft_top_bigram_count", TopBigramCount, IntegerType, Seq(Col(ArrayType(StringType)))),
    Kernel("graft_hex_long", HexLong, LongType,
      Seq(Col(StringType), IntLit("start", 1), IntLit("digits", 1, 15))),
    // the sub-vector's element type is the kernels' float|double flag
    Kernel("graft_pq_argmin", PqArgmin, LongType, Seq(Col(Floats, Doubles), Col(ArrayType(
      StructType(Seq(StructField("cid", LongType), StructField("centroid", Doubles)))))),
      bound = svIsDouble),
    Kernel("graft_pq_sub_dists", PqSubDists, ArrayType(DoubleType, containsNull = true),
      Seq(Col(Floats, Doubles), Col(ArrayType(Doubles))), bound = svIsDouble),
    Kernel("graft_char_stats", CharStats, LongSet, Seq(Col(StringType))),
    Kernel("graft_lang_scores", LangScores, LongSet, Seq(Col(StringType))),
    Kernel("graft_punct_count", QualityCounts, IntegerType, Seq(Col(StringType)), bound = _ => Seq(true)),
    Kernel("graft_ws_token_count", QualityCounts, IntegerType, Seq(Col(StringType)),
      bound = _ => Seq(false)),
    Kernel("graft_hashed_margin", HashedMargin, LongType, Seq(Col(StringType)))
  ) ++ (
    // one name per (k, wide) signature kernel: k = a banding profile's
    // numHashes, wide = mod-P reduction first (MinHashSignature.name)
    for (k <- 1 to MinHashSignature.MaxK; wide <- Seq(false, true))
      yield Kernel(MinHashSignature.name(k, wide), MinHashSignature, LongSet,
        Seq(Col(ArrayType(LongType))), nullOut = true, bound = _ => Seq(k, wide)))
}
