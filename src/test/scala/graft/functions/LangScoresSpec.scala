package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.TextAnalysis

/** graft_lang_scores (one-pass panel kernel) ≡ the composable
  * stopwordScore reference, including the non-overlapping-scan edge
  * cases, plus the plan properties the kernel exists for (single
  * evaluation, no regexp in the panel). */
class LangScoresSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    "the cat sat on the mat and a dog is here",
    "der hund ist nicht die katze und das haus",
    "le chat et la maison les arbres des fleurs est",
    "el perro los gatos las casas es grande y una cosa",
    "the the the",          // consecutive stopwords: shared spaces consumed
    " the  the ",           // double spaces: every " the " boundary intact
    "",                     // empty
    "no stopwords here",    // scores 0 except none
    "theater cathedral other", // substrings must NOT match (word boundary)
    "mixed der the le el und a et y")

  test("kernel equals the composable stopwordScore reference on every language") {
    val df = docs.toDF("text")
    val kernel = df.select(
      TextAnalysis.LangMarkers.indices.map(i =>
        element_at(call_function("graft_lang_scores", col("text")), i + 1)
          .as(s"k$i")): _*).collect()
    val ref = df.select(
      TextAnalysis.LangMarkers.map { case (_, ws) =>
        TextAnalysis.stopwordScore(col("text"), ws).cast("long") }: _*).collect()
    docs.indices.foreach { r =>
      TextAnalysis.LangMarkers.indices.foreach { i =>
        assert(kernel(r).getLong(i) === ref(r).getLong(i),
          s"doc '${docs(r)}' lang ${TextAnalysis.LangMarkers(i)._1}")
      }
    }
  }

  test("consecutive stopwords count every other one (the replace-scan semantics)") {
    // " the the the " -> matches at the 1st and 3rd: the 2nd lost its
    // leading space to the 1st match. The kernel MUST reproduce this,
    // not 'fix' it — the q49/q76 oracles replay the replace semantics.
    val r = Seq("the the the").toDF("text")
      .select(element_at(call_function("graft_lang_scores", col("text")), 1))
      .collect()(0).getLong(0)
    assert(r === 2L)
  }

  test("langPredicted evaluates the kernel once and keeps regexp out of the panel") {
    // a filter on `predicted` is pushed below every projection: only a
    // barrier pushdown cannot cross keeps it reading the scores (an RDD,
    // not a local relation, which constant folding would evaluate away)
    val df = TextAnalysis.langPredicted(spark.sparkContext.parallelize(docs, 2).toDF("text"),
        "text", Seq("text"))
      .filter(col("predicted") === "en")
    val plan = df.queryExecution.executedPlan.toString
    val evals = plan.split("LangScores.compute\\(", -1).length - 1
    assert(evals == 1, s"kernel evaluated $evals times, not once:\n$plan")
    assert(!plan.toLowerCase.contains("regexp_replace"),
      s"the panel must not regex-rewrite the document:\n$plan")
  }

  test("predicted language unchanged on the driver corpus (q49 shape)") {
    val docs2 = graft.Tables.load(spark, TestSpark.sfDir, "documents")
    val got = TextAnalysis.langPredicted(docs2, "text", Seq("lang"))
      .groupBy(col("predicted")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the composable reference, computed inline
    val ref = docs2.select(
        TextAnalysis.LangMarkers.map { case (lang, ws) =>
          TextAnalysis.stopwordScore(col("text"), ws).as(s"s_$lang") }: _*)
      .withColumn("predicted", TextAnalysis.langFromScores(
        TextAnalysis.LangMarkers.map { case (lang, _) => lang -> col(s"s_$lang") }))
      .groupBy(col("predicted")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === ref)
  }
}
