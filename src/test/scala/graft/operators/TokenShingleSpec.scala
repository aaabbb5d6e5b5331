package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Token-shingle MinHash (the universe-growing dedup profile): set
  * construction vs a direct Scala reference and vs the composable SQL
  * form, null and degenerate short docs,
  * high-similarity recall vs exact token-shingle Jaccard, and the
  * structural claim itself — the token universe GROWS where the char-3
  * universe saturates. */
class TokenShingleSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private def h48(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).substring(0, 12), 16)

  /** Direct reference: sorted distinct md5-48 hashes of token k-shingles,
    * whole-doc shingle when fewer than k tokens. */
  private def refSet(text: String, k: Int = 3): Seq[Long] = {
    val toks = text.split(" ", -1)
    val n = math.max(toks.length - k + 1, 1)
    (0 until n).map(i => h48(toks.slice(i, math.min(i + k, toks.length)).mkString(" ")))
      .distinct.sorted
  }

  private def refJaccard(a: String, b: String): Double = {
    val (sa, sb) = (refSet(a).toSet, refSet(b).toSet)
    sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  private def sparkSets(docs: Seq[(Long, String)]): Map[Long, Seq[Long]] = {
    import spark.implicits._
    Dedup.tokenShingleSets(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
  }

  private val vocab = Array("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa", "mu", "nu", "xi", "omicron")
  private def randDoc(rng: scala.util.Random, n: Int): String =
    Array.fill(n)(vocab(rng.nextInt(vocab.length))).mkString(" ")

  test("set construction matches the direct reference, incl. degenerate docs") {
    val rng = new scala.util.Random(11)
    val docs = (1L to 30L).map(i => i -> randDoc(rng, 1 + rng.nextInt(40))) ++
      Seq(100L -> "solo", 101L -> "two tokens", 102L -> "exactly three tokens")
    val got = sparkSets(docs)
    docs.foreach { case (id, text) =>
      assert(got(id) === refSet(text), s"doc $id: '$text'")
    }
    // a <k-token doc keeps exactly ONE whole-doc shingle
    assert(got(100L).length === 1)
    assert(got(101L).length === 1)
  }

  test("kernel equals the composable form for k in {1, 2, 3, 5}") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val corpus = graft.Tables.load(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"))
    // an RDD, not a LocalRelation: the projection runs through codegen
    val edge = spark.sparkContext.parallelize(Seq(
      (-1L, ""), (-2L, "solo"), (-3L, "   "), (-4L, " lead  and  trail "),
      (-5L, "répétition déjà vu ü ü"), (-6L, "日本語 の テキスト 断片"),
      (-7L, "a b"), (-8L, "x y z w v u"))).toDF("doc_id", "text")
    val docs = corpus.unionByName(edge)
    for (k <- Seq(1, 2, 3, 5)) {
      val kernel = Dedup.tokenShingleSets(docs, "doc_id", "text", k)
        .orderBy("sid").collect().toSeq
      val composable = docs.select(col("doc_id").as("sid"),
          TextHashing.tokenShingleHashSet(col("text"), k).as("gs"))
        .orderBy("sid").collect().toSeq
      assert(kernel.size > 8 && kernel == composable, s"k=$k")
    }
  }

  test("null text drops out; the composable form hashed it as the empty string") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = spark.sparkContext.parallelize(Seq(
      (1L, null: String), (2L, null: String), (3L, ""),
      (4L, "something else entirely different here"))).toDF("doc_id", "text")
    val sets = Dedup.tokenShingleSets(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0)).sorted.toSeq
    assert(sets === Seq(3L, 4L))
    // what the composable form gives a null text: md5-48 of ""
    val composable = docs.filter(col("text").isNull)
      .select(TextHashing.tokenShingleHashSet(col("text"), 3)).collect()
      .map(_.getSeq[Long](0)).toSeq
    assert(composable === Seq(Seq(h48("")), Seq(h48(""))))
    // so null-text docs no longer pair with each other or with empty docs
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", 0.7, NearDupProfile.Token).df.collect()
    assert(pairs.isEmpty, pairs.mkString(","))
  }

  test("exact duplicates of tiny docs still pair at jaccard 1.0") {
    import spark.implicits._
    val docs = Seq((1L, "hello world"), (2L, "hello world"),
      (3L, "something else entirely different here")).toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", 0.7, NearDupProfile.Token).df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("recall: every pair with token-shingle jaccard >= 0.9 is found (both profiles)") {
    val rng = new scala.util.Random(23)
    // base docs + planted near-dups (one token substituted out of 30)
    val base = (1L to 40L).map(i => i -> randDoc(rng, 30))
    val dups = base.take(15).map { case (id, text) =>
      val toks = text.split(" ")
      toks(rng.nextInt(toks.length)) = vocab(rng.nextInt(vocab.length))
      (id + 1000L) -> toks.mkString(" ")
    }
    val docs = base ++ dups
    val truth = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      j = refJaccard(ta, tb) if j >= 0.9
    } yield (ia, ib)).toSet
    assert(truth.nonEmpty, "fixture must plant at least one strong pair")
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    for (b <- Seq(TextHashing.LshBanding.Default, TextHashing.LshBanding.Scaled)) {
      val found = Dedup.nearDupPairs(df, "doc_id", "text", 0.7,
          NearDupProfile.Token.copy(banding = b)).df
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(truth.subsetOf(found),
        s"profile ${b.numBands}x${b.rowsPerBand} missed ${truth.diff(found)}")
      // no false positives vs the exact measure at the threshold
      val byPair = docs.toMap
      found.foreach { case (ia, ib) =>
        assert(refJaccard(byPair(ia), byPair(ib)) >= 0.7,
          s"($ia,$ib) below threshold")
      }
    }
  }

  test("token universe grows with the corpus where the char-3 universe saturates") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Heaps-style growth: doc i draws from a vocabulary that expands as
    // w<k> tokens join — the shape of the ScalingBench tier generator.
    val rng = new scala.util.Random(5)
    def corpus(n: Int): Seq[(Long, String)] = (1L to n.toLong).map { i =>
      val v = vocab ++ (0 until (i / 2).toInt.min(400)).map(k => s"w$k")
      i -> Array.fill(25)(v(rng.nextInt(v.length))).mkString(" ")
    }
    def universes(docs: Seq[(Long, String)]): (Long, Long) = {
      val df = docs.toDF("doc_id", "text")
      val tok = Dedup.tokenShingleSets(df, "doc_id", "text")
        .select(explode(col("gs")).as("h")).distinct().count()
      val chr = Dedup.gramSets(df, "doc_id", "text")
        .select(explode(col("gs")).as("h")).distinct().count()
      (tok, chr)
    }
    val (tokS, chrS) = universes(corpus(60))
    val (tokL, chrL) = universes(corpus(600))
    // 10x the docs: token-shingle universe keeps growing near-linearly;
    // the char-3 universe grows far slower (alphabet-bounded)
    assert(tokL.toDouble / tokS > 5.0,
      s"token universe should grow ~linearly: $tokS -> $tokL")
    assert(chrL.toDouble / chrS < tokL.toDouble / tokS / 2.0,
      s"char universe should grow much slower: chr $chrS -> $chrL vs tok $tokS -> $tokL")
  }
}
