package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.TextAnalysis

/** The byte-count kernel behind punctRatio, meanWordLen and wsTokenCount
  * equals the composable regexp/split forms it replaced, integer for
  * integer and double for double, including the null behaviour
  * (wsTokenCount(null) = -1, the non-ANSI size(null)). */
class QualityCountsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** (signal, kernel form, composable form) */
  private val forms: Seq[(String, Column => Column, Column => Column)] = Seq(
    ("wsTokenCount", TextAnalysis.wsTokenCount, TextAnalysis.wsTokenCountComposable),
    ("punctRatio", TextAnalysis.punctRatio, TextAnalysis.punctRatioComposable),
    ("meanWordLen", TextAnalysis.meanWordLen, TextAnalysis.meanWordLenComposable),
    ("qualityScore",
      t => TextAnalysis.qualityScore(length(t), TextAnalysis.punctRatio(t), TextAnalysis.meanWordLen(t)),
      t => TextAnalysis.qualityScore(length(t), TextAnalysis.punctRatioComposable(t),
        TextAnalysis.meanWordLenComposable(t))))

  /** Rows of `df` on which a kernel form differs from its composable form
    * (null-safe, doubles compared exactly). */
  private def mismatches(df: DataFrame): Seq[String] = {
    val t = col("text")
    val got = df.select(t +: forms.flatMap { case (n, k, c) =>
      Seq(k(t).as(s"k_$n"), c(t).as(s"c_$n")) }: _*).collect()
    for (r <- got.toSeq; ((n, _, _), i) <- forms.zipWithIndex
         if r.get(1 + 2 * i) != r.get(2 + 2 * i))
      yield s"$n(${Option(r.getString(0)).map(s => "\"" + s.take(60) + "\"").orNull}): " +
        s"kernel ${r.get(1 + 2 * i)}, composable ${r.get(2 + 2 * i)}"
  }

  private val edges: Seq[String] = Seq(null, "", " ", "  ", " lead", "trail ", "double  space",
    " both  ways ", "tab\there", "new\nline", "é", "café au lait, s'il vous plaît!",
    "中文字符 测试", "𝔘𝔫𝔦 code 😀!", "a", "...", "MiXeD 123 and 4.5%")

  test("edge strings: kernel forms equal the composable forms, codegen and interpreted") {
    val local = edges.toDF("text")
    val rdd = spark.createDataFrame(spark.sparkContext.parallelize(local.collect().toSeq, 2),
      local.schema)
    for (df <- Seq(local, rdd)) {
      val bad = mismatches(df)
      assert(bad.isEmpty, bad.mkString("\n"))
    }
    val tokens = rdd.select(col("text"), TextAnalysis.wsTokenCount(col("text"))).collect()
      .map(r => Option(r.getString(0)) -> r.getInt(1)).toMap
    assert(tokens(None) === -1)
    assert(tokens(Some("")) === 1 && tokens(Some(" both  ways ")) === 5)
    val punct = rdd.select(col("text"), call_function("graft_punct_count", col("text")))
      .collect().map(r => Option(r.getString(0)) -> r.get(1)).toMap
    assert(punct(None) == null)
    assert(punct(Some("tab\there")) === 1 && punct(Some("𝔘𝔫𝔦 code 😀!")) === 5)
  }

  test("documents at sf0.01: kernel forms equal the composable forms on every row") {
    // the sf0.01 fixture sits next to the sf0.001 one
    val sf001 = new java.io.File(new java.io.File(TestSpark.sfDir).getParentFile, "sf0.01").getPath
    val docs = graft.Tables.load(spark, sf001, "documents")
    val bad = mismatches(docs)
    assert(bad.isEmpty, s"${bad.size} mismatches:\n${bad.take(20).mkString("\n")}")
  }
}
