package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/**
  * graft_minhash_sig* (one-pass k-min kernels, narrow and wide) must be
  * value-identical to the composable array_min(transform(...))
  * formulations they replace — on the real corpus, on unicode/degenerate
  * strings, on wide and out-of-range hashes, under the default, scaled
  * and a non-default banding, and in plan shape (evaluated once per row,
  * not once per extracted element).
  */
class MinHashSigSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def cols = "sid" +: "gn" +: TextHashing.MinHashParams.indices.map(j => s"m$j")

  private def both(df: org.apache.spark.sql.DataFrame) = {
    val sets = Dedup.gramSets(df, "doc_id", "text")
    val a = Dedup.signaturesFromSets(sets).select(cols.map(col): _*)
      .orderBy("sid").collect().toSeq
    val b = Dedup.signaturesFromSetsComposable(sets).select(cols.map(col): _*)
      .orderBy("sid").collect().toSeq
    (a, b)
  }

  test("matches the composable form on the test corpus") {
    val docs = graft.Tables.load(spark, TestSpark.sfDir, "documents")
    val (a, b) = both(docs)
    assert(a.nonEmpty && a == b)
  }

  test("matches on degenerate and non-ascii inputs") {
    val weird = Seq(
      (1L, ""), (2L, "a"), (3L, "ab"), (4L, "abc"),
      (5L, "répétition déjà vu ü"), (6L, "日本語のテキスト断片"),
      (7L, "aaaaaaaaaa"), (8L, " \t mixed \n ws ")
    ).toDF("doc_id", "text")
    val (a, b) = both(weird)
    assert(a.size == 8 && a == b)
  }

  test("kernel is evaluated once per row (projection barrier holds)") {
    // file-backed scan: a LocalRelation would be constant-folded away,
    // taking the expression (and this assertion's subject) with it
    val docs = graft.Tables.load(spark, TestSpark.sfDir, "documents")
    val plan = Dedup.signaturesFromSets(Dedup.gramSets(docs, "doc_id", "text"))
      .queryExecution.executedPlan.toString
    val evals = "MinHashSignature\\.compute\\(".r.findAllIn(plan).size
    assert(evals == 1, s"expected one kernel eval in the plan, got $evals:\n${plan.take(2000)}")
  }

  test("scaled 30-hash kernel matches its composable form; j < 16 equals the default profile") {
    import TextHashing.LshBanding
    val docs = graft.Tables.load(spark, TestSpark.sfDir, "documents")
    val sets = Dedup.gramSets(docs, "doc_id", "text")
    val scaledCols = "sid" +: (0 until LshBanding.Scaled.numHashes).map(j => s"m$j")
    val a = Dedup.signaturesFromSets(sets, LshBanding.Scaled)
      .select(scaledCols.map(col): _*).orderBy("sid").collect().toSeq
    val b = Dedup.signaturesFromSetsComposable(sets, LshBanding.Scaled)
      .select(scaledCols.map(col): _*).orderBy("sid").collect().toSeq
    assert(a.nonEmpty && a == b)
    // profile compatibility: the first 16 hashes are the default profile
    val defSig = Dedup.signaturesFromSets(sets)
      .select(cols.map(col): _*).orderBy("sid").collect().toSeq
    val prefix = Dedup.signaturesFromSets(sets, LshBanding.Scaled)
      .select(cols.map(col): _*).orderBy("sid").collect().toSeq
    assert(prefix == defSig)
  }

  private def sigCols(b: TextHashing.LshBanding) =
    "sid" +: "gn" +: (0 until b.numHashes).map(j => s"m$j")

  /** kernel rows vs composable rows, ordered by sid */
  private def kernelVsComposable(sets: org.apache.spark.sql.DataFrame,
                                 b: TextHashing.LshBanding, wide: Boolean) = {
    val c = sigCols(b).map(col)
    (Dedup.signaturesFromSets(sets, b, wide).select(c: _*).orderBy("sid").collect().toSeq,
      Dedup.signaturesFromSetsComposable(sets, b, wide).select(c: _*)
        .orderBy("sid").collect().toSeq)
  }

  private val bandings = {
    import TextHashing.LshBanding
    Seq(LshBanding.Default, LshBanding.Scaled, LshBanding(5, 4))
  }

  test("wide kernel equals array_min(transform(gs, minHashJWide)) on token and codepoint sets") {
    val docs = graft.Tables.load(spark, TestSpark.sfDir, "documents")
    val cjk = spark.sparkContext.parallelize(Seq(
      (1L, "日本語のテキスト断片"), (2L, "\uDBFF\uDFFF\uDBFF\uDFFF\uDBFF\uDFFF x"),
      (3L, "répétition déjà vu ü"), (4L, ""), (5L, "中"))).toDF("doc_id", "text")
    val tokenSets = Dedup.tokenShingleSets(docs, "doc_id", "text")
    val cpSets = Dedup.gramSetsCp(docs, "doc_id", "text").unionByName(
      Dedup.gramSetsCp(cjk, "doc_id", "text").withColumn("sid", col("sid") + 1000000L))
    // a codepoint gram of three U+10FFFF chars is close to 2^63 - 1
    assert(cpSets.agg(max(array_max(col("gs")))).collect()(0).getLong(0) > (1L << 62))
    for (b <- bandings; sets <- Seq(tokenSets, cpSets)) {
      val (a, c) = kernelVsComposable(sets, b, wide = true)
      assert(a.nonEmpty && a == c, s"${b.numBands}x${b.rowsPerBand}")
    }
  }

  test("wide kernel on hashes >= P, up to 2^63 - 1, negative, and the empty set") {
    val p = TextHashing.P
    // an RDD, not a LocalRelation: the projection must run through codegen,
    // not be constant-folded by the optimizer
    val sets = spark.sparkContext.parallelize(Seq(
      (1L, Seq(p, p + 1, 2 * p, 3 * p - 1)),
      (2L, Seq(Long.MaxValue, Long.MaxValue - p, (1L << 48) - 1)),
      (3L, Seq(0L, 1L, p - 1)),
      (4L, Seq(Long.MinValue, -p, -1L, 5L)),
      (5L, Seq.empty[Long]))).toDF("sid", "gs")
    for (b <- bandings) {
      val (a, c) = kernelVsComposable(sets, b, wide = true)
      assert(a.size == 5 && a == c, s"${b.numBands}x${b.rowsPerBand}")
      // the empty set gives a null signature, like array_min(empty)
      val empty = a.find(_.getLong(0) == 5L).get
      assert((2 until empty.length).forall(empty.isNullAt))
    }
  }

  test("narrow kernel computes exactly numHashes mins for a non-default banding") {
    val b = TextHashing.LshBanding(5, 4)
    val docs = graft.Tables.load(spark, TestSpark.sfDir, "documents")
    val sets = Dedup.gramSets(docs, "doc_id", "text")
    val (a, c) = kernelVsComposable(sets, b, wide = false)
    assert(a.nonEmpty && a == c)
    // the profile's kernel is the k = 20 one, not a 30-min superset
    val plan = Dedup.signaturesFromSets(sets, b).queryExecution.executedPlan.toString
    assert("MinHashSignature\\.compute\\([^()]*, 20, false\\)".r.findAllIn(plan).size == 1,
      plan.take(2000))
  }

  test("empty gram set yields null signature (array_min semantics)") {
    for (f <- Seq("graft_minhash_sig", "graft_minhash_sig30_wide")) {
      val empty = spark.sql(
        s"SELECT $f(CAST(array() AS ARRAY<BIGINT>)) AS s").collect()(0)
      assert(empty.isNullAt(0), f)
    }
  }
}
