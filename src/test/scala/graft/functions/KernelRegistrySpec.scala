package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, Column, Row}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import GraftExtensions.{Col, IntLit, Kernel}

/** Every registered graft_* function, driven from GraftExtensions.kernels
  * (a new kernel's registration line is covered as it stands): a null
  * argument gives null, a wrong-typed argument fails at analysis naming
  * the function, and the whole-stage-codegen value over an RDD-backed
  * frame equals the interpreted, constant-folded value over the same rows
  * as a local relation. */
class KernelRegistrySpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val centroids = StructType(Seq(
    StructField("cid", LongType), StructField("centroid", ArrayType(DoubleType))))

  /** Non-null sample values of an accepted argument type: degenerate
    * (empty, short, non-ASCII, null elements) next to ordinary ones. */
  private def samples(t: DataType): Seq[Any] = t match {
    case StringType => Seq("the quick brown fox the quick", "", "a",
      "0123456789abcdefABCDEF", "mixed 中文 and ascii 𝔘", "x  y z")
    case ArrayType(StringType, _) =>
      Seq(Seq("the", "cat", "the", "cat"), Seq(), Seq("a"), Seq("x", null, "y", "z"))
    case ArrayType(LongType, _) =>
      Seq(Seq(1L, 5L, 9L, 70000L), Seq(5L, 9L, 12L), Seq(), Seq(-3L, Long.MaxValue))
    case ArrayType(IntegerType, _) => Seq(Seq(1, -2, 3), Seq(4, 5, 6), Seq(1, 2), Seq(1, null, 3))
    case ArrayType(FloatType, _) => Seq(Seq(0.5f, -1.25f, 2f), Seq(1f, 1f, 1f), Seq(3f, 0.1f))
    case ArrayType(DoubleType, _) => Seq(Seq(0.5, -1.25, 2.0), Seq(1.0, 1.0, 1.0), Seq(3.0, 0.1))
    case ArrayType(ArrayType(FloatType, _), _) =>
      Seq(Seq(Seq(1f, 0f, 2f), Seq(0.5f, 0.5f, 0.5f)), Seq())
    case ArrayType(ArrayType(DoubleType, _), _) =>
      Seq(Seq(Seq(1.0, 0.0, 2.0), null, Seq(0.5, 0.5)), Seq())
    case ArrayType(s: StructType, _) if DataType.equalsStructurally(s, centroids, true) =>
      Seq(Seq(Row(0L, Seq(1.0, 0.0, 2.0)), Row(1L, Seq(0.5, 0.5, 0.5)), Row(2L, Seq(1.0))), Seq())
    case other => fail(s"no sample values for ${other.sql}: add them to samples()")
  }

  /** One type per column parameter, over every combination of the
    * accepted alternatives (both PQ sub-vector element types). */
  private def signatures(k: Kernel): Seq[Seq[Option[DataType]]] =
    k.params.foldLeft(Seq(Seq.empty[Option[DataType]])) {
      case (acc, Col(accepted @ _*)) => for (s <- acc; t <- accepted) yield s :+ Some(t)
      case (acc, _: IntLit) => acc.map(_ :+ None)
    }

  private def args(k: Kernel, cols: Int => Column): Seq[Column] =
    k.params.zipWithIndex.map {
      case (_: Col, j) => cols(j)
      case (IntLit(_, min, max), _) => lit(math.min(min + 2, max))
    }

  private def check(k: Kernel, sig: Seq[Option[DataType]]): Unit = {
    val colIdx = sig.indices.filter(sig(_).isDefined)
    val schema = StructType(StructField("id", IntegerType) +: colIdx.map(j =>
      StructField(s"a$j", sig(j).get, nullable = true)))
    val n = colIdx.map(j => samples(sig(j).get).size).max
    def value(j: Int, i: Int) = { val s = samples(sig(j).get); s(i % s.size) }
    // ordinary rows, then one row per column argument with that argument null
    val rows = (0 until n).map(i => colIdx.map(value(_, i))) ++
      colIdx.map(nj => colIdx.map(j => if (j == nj) null else value(j, 0)))
    val data = rows.zipWithIndex.map { case (vs, i) => Row.fromSeq(i +: vs) }
    val call = call_function(k.name, args(k, j => col(s"a$j")): _*).as("v")

    val fused = spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
      .select(col("id"), call)
    val folded = spark.createDataFrame(data.asJava, schema).select(col("id"), call)
    val plan = fused.queryExecution.executedPlan
    assert(plan.exists {
      case WholeStageCodegenExec(p: ProjectExec) =>
        p.projectList.exists(_.exists(_.isInstanceOf[StaticInvoke]))
      case _ => false
    }, s"${k.name} left whole-stage codegen:\n$plan")
    assert(folded.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      folded.queryExecution.optimizedPlan.toString)

    val a = fused.collect().sortBy(_.getInt(0)).toSeq
    val b = folded.collect().sortBy(_.getInt(0)).toSeq
    assert(a == b, s"${k.name}${sig.flatten.map(_.sql).mkString("(", ", ", ")")}")
    for (r <- a.drop(n)) assert(r.isNullAt(1), s"${k.name}: null argument gave ${r.get(1)}")
  }

  /** A type no column parameter of `accepted` admits, and a literal of it. */
  private def wrongArg(accepted: Seq[DataType]): (DataType, Column) =
    Seq[(DataType, Column)](ArrayType(DoubleType, containsNull = false) -> typedLit(Seq(1.0)),
        StringType -> lit("x"))
      .find { case (t, _) => !accepted.exists(DataType.equalsStructurally(_, t, true)) }.get

  for (k <- GraftExtensions.kernels) {
    test(s"${k.name}: codegen equals interpreted, null in gives null, wrong types fail analysis") {
      signatures(k).foreach(check(k, _))
      val sig = signatures(k).head
      val one = spark.createDataFrame(Seq(Row.fromSeq(sig.flatten.map(samples(_).head))).asJava,
        StructType(sig.zipWithIndex.collect { case (Some(t), j) => StructField(s"a$j", t) }))
      k.params.zipWithIndex.foreach {
        case (Col(accepted @ _*), j) =>
          val (t, bad) = wrongArg(accepted)
          val e = intercept[AnalysisException] {
            one.select(call_function(k.name, args(k, i => if (i == j) bad else col(s"a$i")): _*))
          }
          assert(e.getMessage.contains(k.name) && e.getMessage.contains(t.sql), e.getMessage)
        case _ =>
      }
    }
  }

  test("plan-time integer literals outside their range fail, naming the function and argument") {
    val cases = Seq(
      "graft_hex_long('abc', 4294967297, 12)" -> "start",
      "graft_hex_long('abc', 0, 12)" -> "start",
      "graft_hex_long('abc', 1, 16)" -> "digits",
      "graft_hex_long('abc', 1, 4294967308)" -> "digits",
      "graft_token_shingle_hash_set(array('a', 'b'), 4294967299)" -> "k",
      "graft_token_shingle_hash_set(array('a', 'b'), 0)" -> "k")
    for ((call, what) <- cases) {
      val e = intercept[IllegalArgumentException](spark.sql(s"SELECT $call"))
      val fn = call.takeWhile(_ != '(')
      assert(e.getMessage.contains(s"$fn: $what must be in"), s"$call: ${e.getMessage}")
    }
  }
}
