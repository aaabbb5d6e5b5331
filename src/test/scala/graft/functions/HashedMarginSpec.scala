package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** graft_hashed_margin kernel ≡ the composable HOF formulation,
  * bit-for-bit — corpus-wide and on the split-semantics edge cases
  * (empty string, leading/trailing/consecutive spaces, unicode). */
class HashedMarginSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.TextAnalysis

  test("kernel equals the HOF form on the documents corpus") {
    val docs = graft.Tables.load(spark, TestSpark.sfDir, "documents")
    val diff = docs.select(
        TextAnalysis.hashedLinearScore(col("text")).as("k"),
        TextAnalysis.hashedLinearScoreComposable(col("text")).as("h"))
      .filter(col("k") =!= col("h"))
    assert(diff.isEmpty)
  }

  test("kernel equals the HOF form on split edge cases") {
    val edge = Seq("", " ", "  ", "a", "a b", " a", "a ", "a  b ",
      "héllo wörld", "日本 語  テスト", "tab\tis one token")
      .toDF("text")
    val rows = edge.select(col("text"),
        TextAnalysis.hashedLinearScore(col("text")).as("k"),
        TextAnalysis.hashedLinearScoreComposable(col("text")).as("h"))
      .collect()
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2), s"'${r.getString(0)}'"))
  }

  test("null text yields null margin") {
    val r = Seq[Option[String]](None).toDF("text")
      .select(TextAnalysis.hashedLinearScore(col("text"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("kernel stays inside whole-stage codegen") {
    val docs = graft.Tables.load(spark, TestSpark.sfDir, "documents")
    val p = docs.select(TextAnalysis.hashedLinearScore(col("text")))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix is toString's WholeStageCodegen marker
    assert(p.contains("*(1) Project [static_invoke(graft.functions.HashedMargin.compute("),
      p.take(2000))
  }
}
