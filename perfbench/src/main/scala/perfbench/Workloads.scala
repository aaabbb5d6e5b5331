package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.EngineContext
import graft.operators.{Bpe, Dedup, GraphRank, Packing, TextAnalysis}

/** One workload: inputs, table registration, the repeated operation, and
  * the checks of its outputs. The runner (Main) owns timing and tracing. */
trait Workload {
  def name: String
  /** What `cpu_s_per_unit` counts: "query", "1000 docs" or "pass". */
  def unit: String
  /** Units of work one operation performs. */
  def unitsPerOp: Double
  /** Writes the seeded inputs under `dir`. Runs in a JVM of its own, so
    * the measured JVM starts cold. */
  def generate(dir: String): Unit = ()
  /** Operations per round of the closed loop; a timed phase ends on a
    * round boundary. */
  def roundSize: Int = 1
  /** Untimed operations between the set-up and the timed phase. */
  def warmOps: Int = 0
  /** Registers the inputs (generated ones under `dir`) with a context over
    * `spark`. */
  def register(spark: SparkSession, dir: String): EngineContext
  /** Label of the i-th operation of the closed loop; the set-up runs
    * `label(0)`. */
  def label(i: Int): String
  /** Runs one operation and returns its output digest. */
  def run(ctx: EngineContext, label: String, t: Tracer): String
  /** Work after an operation's clock stopped: keep what the checks need,
    * release what the operation left behind. */
  def afterOp(ctx: EngineContext, label: String): Unit = ()
  /** Checks run once, outside the timed region: (name, passed, detail). */
  def checks(ctx: EngineContext): Seq[(String, Boolean, String)]
  /** Per-layer counters specific to this workload. */
  def counters: Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, seed: Long, workDir: String, fixtureDir: String): Workload = name match {
    case "sql_tpch" => new SqlTpch(seed, workDir, fixtureDir)
    case "curation_100k" => new Curation(seed, workDir, 100000L)
    case "iterative_5k" => new Iterative(seed, 5000)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Order-insensitive digest of collected rows. */
  def digestRows(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Forces a DataFrame through an aggregate sink: row count plus a wrapping
    * sum of per-row hashes. The whole plan executes; one row comes back. */
  def digestSink(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*))).collect()(0)
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  /** Driver union-find: vertex -> min id of its component. */
  def unionFind(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).map(v => v -> find(v)).toMap
  }
}

/** Closed loop over the TPC-H SQL texts, one client, over the read-only
  * fixture tables in `fixtureDir`. */
final class SqlTpch(seed: Long, workDir: String, fixtureDir: String) extends Workload {
  val name = "sql_tpch"
  val unit = "query"
  val unitsPerOp = 1.0

  val texts: Map[String, String] = Inputs.queryTexts(seed)
  private val names = texts.keys.toSeq.sorted

  /** Rounds of all texts, each round in its own seeded order, except that
    * the first round starts with Q1: for every seed, the set-up times the
    * same cold query. */
  def label(i: Int): String = {
    val round = i / names.size
    val order = names.sortBy(n => Inputs.hash(seed, 11L, round, n.hashCode))
    (if (round == 0) "q_tpch_01" +: order.filter(_ != "q_tpch_01") else order).apply(i % names.size)
  }

  override def roundSize: Int = names.size
  // the rest of the first round: every text has run once before the clock
  // starts (it keeps getting faster over later runs too; see the README)
  override def warmOps: Int = names.size - 1

  def register(spark: SparkSession, dir: String): EngineContext =
    EngineContext.forDir(spark, fixtureDir)

  /** First result of each text, kept for the DuckDB check. */
  val firstResult = mutable.LinkedHashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]

  def run(ctx: EngineContext, label: String, t: Tracer): String = {
    val df = t("EngineContext.sql")(ctx.sql(texts(label)))
    val rows = t("collect")(df.collect())
    if (!firstResult.contains(label)) firstResult(label) = (rows, df.schema)
    Workload.digestRows(rows)
  }

  /** Writes each text's first result as parquet; run.py compares it with
    * DuckDB over the same tables. */
  def checks(ctx: EngineContext): Seq[(String, Boolean, String)] = {
    val spark = ctx.spark
    firstResult.foreach { case (n, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$workDir/results/$n")
    }
    Seq(("sql_results_written", firstResult.size == texts.size,
      s"${firstResult.size}/${texts.size} texts ran"))
  }
}

/** The composed curation pipeline, one pass at a time. */
final class Curation(seed: Long, workDir: String, nDocs: Long) extends Workload {
  val name = "curation_100k"
  val unit = "1000 docs"
  val unitsPerOp: Double = nDocs / 1000.0
  def label(i: Int): String = "pass"

  override def generate(dir: String): Unit =
    Inputs.writeParquet(s"$dir/corpus.parquet", Inputs.DocColumns, nDocs, 4)(Inputs.corpus(seed, nDocs))

  def register(spark: SparkSession, dir: String): EngineContext = {
    val ctx = new EngineContext(spark)
    ctx.createTable("corpus", s"$dir/corpus.parquet")
    ctx
  }

  // live handles of the pass that just ran, released in afterOp
  private var survivors: DataFrame = _
  private var pairs: graft.operators.ManagedPairs = _
  private var clusters: DataFrame = _
  private val outputs = mutable.ArrayBuffer.empty[String]
  // first pass, for the checks
  private var firstPairs: Array[(Long, Long, Double)] = _
  private var firstClusters: Map[Long, Long] = _
  private var firstSurvivors: Map[Long, String] = _
  private var guardEst = -1L
  private var profile = ""
  private var recall = 0.0
  private var nPlanted = 0

  def run(ctx: EngineContext, label: String, t: Tracer): String = {
    val docs = ctx.spark.table("corpus").select(col("doc_id"), col("source"), col("lang"), col("text"))
    // und-fallback as in the engine's scaling pipeline: the synthetic
    // vocabulary has no stopwords, so the classifier abstains and the
    // declared lang decides; the classifier and quality scans still run.
    val scored = t("TextAnalysis.langPredicted")(
      TextAnalysis.langPredicted(docs, "text", Seq("doc_id", "source", "lang", "text")))
    survivors = t("localCheckpoint")(scored
      .withColumn("quality", TextAnalysis.qualityScore(length(col("text")),
        TextAnalysis.punctRatio(col("text")), TextAnalysis.meanWordLen(col("text"))))
      .filter((col("predicted") === "en" ||
        (col("predicted") === "und" && col("lang") === "en")) && col("quality") >= 0.5)
      .select(col("doc_id"), col("source"), col("text"))
      .localCheckpoint())
    pairs = t("Dedup.nearDupPairsAutoManaged")(
      Dedup.nearDupPairsAutoManaged(survivors, "doc_id", "text", 0.7))
    clusters = t("Dedup.connectedComponents")(Dedup.connectedComponents(pairs.df))
    val c = clusters.withColumnRenamed("doc_id", "_cid")
    val canonical = survivors.join(c, survivors("doc_id") === col("_cid"), "left")
      .filter(col("rep_id").isNull || col("rep_id") === survivors("doc_id"))
      .drop("_cid", "rep_id")
    val chunks = t("Packing.emitChunks")(
      Packing.emitChunks(canonical, col("source"), col("doc_id"), col("text"), 512))
    // the written chunks are digested by the checks, after the timed region
    val table = s"chunks_${outputs.size}"
    outputs += s"$workDir/out/$table"
    t("EngineContext.createTable")(ctx.createTable(table, chunks))
    t("EngineContext.saveTable")(ctx.saveTable(table, outputs.last))
    ""
  }

  override def afterOp(ctx: EngineContext, label: String): Unit = {
    if (firstPairs == null) {
      firstPairs = pairs.df.select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      firstClusters = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      firstSurvivors = survivors.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      guardEst = pairs.guardEstPairs
      profile = Dedup.lastRecommendation.map(_.profile).getOrElse("")
    }
    ctx.dropTable(s"chunks_${outputs.size - 1}")
    pairs.close()
    survivors.unpersist(blocking = false)
    // collect now, not inside the next pass's clock
    System.gc()
  }

  private def shingles(text: String): Set[String] =
    if (profile == "token") text.split(" ", -1).sliding(3).map(_.mkString(" ")).toSet
    else text.sliding(3).toSet

  def checks(ctx: EngineContext): Seq[(String, Boolean, String)] = {
    val digests = outputs.map(p => Workload.digestSink(ctx.spark.read.parquet(p)))
    outputs.foreach(p => org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
    val badJaccard = firstPairs.filter { case (a, b, _) =>
      val (x, y) = (shingles(firstSurvivors(a)), shingles(firstSurvivors(b)))
      (x intersect y).size.toDouble / (x union y).size < 0.7
    }
    val uf = Workload.unionFind(firstPairs.map(p => (p._1, p._2)))
    // a planted doc copies its predecessor unless that one is planted too
    val plantedPairs = firstSurvivors.keys.filter(id => Inputs.corpusPlanted(seed, id) &&
      !Inputs.corpusPlanted(seed, id - 1) && firstSurvivors.contains(id - 1)).toSeq
    val found = firstPairs.map(p => (p._1, p._2)).toSet
    val recalled = plantedPairs.count(id => found.contains((id - 1, id)))
    recall = if (plantedPairs.isEmpty) 0.0 else recalled.toDouble / plantedPairs.size
    nPlanted = plantedPairs.size
    Seq(
      ("pass_digests_equal", digests.distinct.size == 1, digests.distinct.mkString(",")),
      ("pairs_jaccard_ge_0.7", badJaccard.isEmpty && firstPairs.nonEmpty,
        s"${firstPairs.length} pairs ($profile shingles), ${badJaccard.length} below 0.7"),
      ("clusters_equal_union_find", uf == firstClusters,
        s"${firstClusters.size} vertices, ${uf.size} by union-find"))
  }

  override def counters: Map[String, Double] = Map(
    "Dedup.pairs" -> firstPairs.length.toDouble,
    "Dedup.guard_est_pairs" -> guardEst.toDouble,
    "Dedup.pairs_per_guard_est" -> (if (guardEst > 0) firstPairs.length.toDouble / guardEst else 0.0),
    "Dedup.planted_pairs" -> nPlanted.toDouble,
    "Dedup.planted_recall" -> recall,
    "Dedup.cc_rounds" -> Dedup.lastDistributedRounds.toDouble)
}

/** Many-round operator calls, one pass at a time. A pass forces three
  * calls through an aggregate sink: connected components on the
  * distributed path, BPE merge learning and PageRank. */
final class Iterative(seed: Long, nDocs: Int) extends Workload {
  val name = s"iterative_${nDocs / 1000}k"
  val unit = "pass"
  val unitsPerOp = 1.0
  def label(i: Int): String = "pass"

  // pair graph: a 200-leaf hub star plus chains of up to 64 vertices;
  // click graph: 20k edges over 2,000 items
  private val nVerts = 4000
  private val (nItems, nClicks) = (2000, 20000)
  private def pairs: Seq[(Long, Long)] = Inputs.pairGraph(seed, nVerts, 200, 64)

  override def generate(dir: String): Unit = {
    Inputs.writeParquet(s"$dir/docs.parquet", Inputs.DocColumns, nDocs, 2)(Inputs.iterCorpus(seed, nDocs))
    val p = pairs.toIndexedSeq
    Inputs.writeParquet(s"$dir/pairs.parquet", Seq("id_a", "id_b"), p.size, 2)(i => p(i.toInt))
    val c = Inputs.clickGraph(seed, nItems, nClicks).toIndexedSeq
    Inputs.writeParquet(s"$dir/clicks.parquet", Seq("src", "dst", "w"), c.size, 2)(i => c(i.toInt))
  }

  def register(spark: SparkSession, dir: String): EngineContext = {
    val ctx = new EngineContext(spark)
    Seq("docs", "pairs", "clicks").foreach(t => ctx.createTable(t, s"$dir/$t.parquet"))
    ctx
  }

  private var clusters: DataFrame = _
  private var firstClusters: Map[Long, Long] = _
  private val rounds = mutable.Map.empty[String, Double]

  /** Each call's span holds its `sink` span, so the call's self time is
    * its eager work (sizing pulls, per-round barriers) and the sink's is
    * the rest of the execution. */
  def run(ctx: EngineContext, label: String, t: Tracer): String = {
    val spark = ctx.spark
    val docs = spark.table("docs")
    val cc = t("Dedup.connectedComponents") {
      clusters = Dedup.connectedComponents(spark.table("pairs"), smallGraphMaxEdges = 0L)
      t("sink")(Workload.digestSink(clusters))
    }
    rounds("Dedup.cc_rounds") = Dedup.lastDistributedRounds
    val merges = t("Bpe.bpeMerges")(t("sink")(Workload.digestSink(Bpe.bpeMerges(docs, "text", 8))))
    val ranks = t("GraphRank.pageRank")(t("sink")(Workload.digestSink(
      GraphRank.pageRank(spark.table("clicks"), 5))))
    rounds("GraphRank.rounds") = GraphRank.lastRounds
    Seq(cc, merges, ranks).mkString("/")
  }

  override def afterOp(ctx: EngineContext, label: String): Unit = {
    if (firstClusters == null)
      firstClusters = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    clusters = null
    System.gc()
  }

  def checks(ctx: EngineContext): Seq[(String, Boolean, String)] = {
    val uf = Workload.unionFind(pairs)
    Seq(("distributed_cc_equals_union_find", uf == firstClusters,
      s"${firstClusters.size} vertices in ${firstClusters.values.toSet.size} components, " +
        s"${uf.size} by union-find"))
  }

  override def counters: Map[String, Double] = rounds.toMap
}
