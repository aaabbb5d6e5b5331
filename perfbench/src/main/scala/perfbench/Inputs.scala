package perfbench

import java.nio.file.{Files, Paths}

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, row id, field), so the same seed gives the same inputs
  * whatever the partitioning, and the program under test receives only
  * the generated rows. The SQL workload reads the checked-in TPC-H
  * fixture; from the seed it takes only the query constants. */
object Inputs {

  /** splitmix64 finalizer over a combined pair. */
  def mix(a: Long, b: Long): Long = {
    var x = a * 0x9E3779B97F4A7C15L + b + 0x632BE59BD9B4E019L
    x ^= x >>> 32; x *= 0xD6E8FEB86659FD93L
    x ^= x >>> 32; x *= 0xD6E8FEB86659FD93L
    x ^= x >>> 32
    x
  }

  def hash(seed: Long, stream: Long, id: Long, field: Long): Long =
    mix(mix(mix(seed, stream), id), field)

  /** Uniform draw in [0, n). */
  def pick(seed: Long, stream: Long, id: Long, field: Long, n: Int): Int =
    java.lang.Math.floorMod(hash(seed, stream, id, field), n.toLong).toInt

  // stream tags keep the inputs' draws independent of one another
  private val SDoc = 6L; private val SConst = 9L
  private val SIterDoc = 11L; private val SPair = 12L; private val SClick = 13L

  val Brands = 25
  val Nations = 25

  // ------------------------------------------------------------------ corpus

  private val CommonVocab: Array[String] = Array(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "vector", "scan", "fast", "query", "agg", "slow", "value", "filter",
    "customer", "stream", "table", "join", "group", "window", "shuffle",
    "merge", "hash", "range", "index", "cache", "disk", "memory", "node",
    "stage", "task", "plan", "cost", "rule", "type", "null", "string",
    "double", "long", "byte", "read", "write", "skip", "prune", "bucket",
    "skew")

  val Langs: Array[String] = Array("en", "de", "fr", "es", "zh")

  /** Word salad with the engine's scaling-corpus shape: 12..75 tokens, about
    * one token in seven a rare per-corpus word, the rest from a 48-word
    * head. */
  private def baseText(seed: Long, stream: Long, id: Long, nDocs: Long): String = {
    val n = 12 + pick(seed, stream, id, 0, 64)
    val rareSpace = math.max(nDocs / 5, 1L)
    val sb = new StringBuilder
    var p = 0
    while (p < n) {
      val h = hash(seed, stream, id, p + 1).abs
      if (p > 0) sb.append(' ')
      if (h % 7 == 0) sb.append('w').append((h / 7) % rareSpace)
      else sb.append(CommonVocab((h % CommonVocab.length).toInt))
      p += 1
    }
    sb.toString
  }

  /** True when doc `id` is a planted near-duplicate of doc `id - 1`: that
    * doc's text with its first token replaced (one doc in fifty). */
  def planted(seed: Long, stream: Long, id: Long): Boolean =
    id > 0 && pick(seed, stream, id, -2, 50) == 0

  def docText(seed: Long, stream: Long, id: Long, nDocs: Long): String =
    if (planted(seed, stream, id))
      "mutated" + baseText(seed, stream, id - 1, nDocs).dropWhile(_ != ' ')
    else baseText(seed, stream, id, nDocs)

  /** (doc_id, text, lang, source, n_chars) */
  def doc(seed: Long, stream: Long, id: Long, nDocs: Long): (Long, String, String, String, Long) = {
    val text = docText(seed, stream, id, nDocs)
    (id, text, Langs(pick(seed, stream, id, -1, Langs.length)), "src" + (id % 16), text.length.toLong)
  }

  val DocColumns: Seq[String] = Seq("doc_id", "text", "lang", "source", "n_chars")

  def corpus(seed: Long, nDocs: Long): Long => Product = doc(seed, SDoc, _, nDocs)

  def corpusPlanted(seed: Long, id: Long): Boolean = planted(seed, SDoc, id)

  // ------------------------------------------------------ iterative inputs

  /** The iterative workload's corpus, on its own stream. */
  def iterCorpus(seed: Long, nDocs: Long): Long => Product = doc(seed, SIterDoc, _, nDocs)

  /** A pair graph over vertices 0 until `nVerts`: one hub star of `hub`
    * leaves, then chains of 2..`maxChain` vertices until the vertices run
    * out. Vertices are placed in a seeded order, so ids along a chain are
    * scattered and the min id of a component sits anywhere on it. Edges
    * are (id_a < id_b). */
  def pairGraph(seed: Long, nVerts: Int, hub: Int, maxChain: Int): Seq[(Long, Long)] = {
    val order = (0L until nVerts.toLong).sortBy(v => hash(seed, SPair, v, 0))
    def edge(a: Long, b: Long) = (math.min(a, b), math.max(a, b))
    val star = order.slice(1, hub + 1).map(edge(order(0), _))
    val chains = Iterator.iterate((hub + 1, 0)) { case (at, k) =>
      (at + 2 + pick(seed, SPair, k, 1, maxChain - 1), k + 1)
    }.map(_._1).takeWhile(_ < nVerts).toSeq :+ nVerts
    star ++ chains.sliding(2).flatMap {
      case Seq(a, b) => order.slice(a, b).sliding(2).collect { case Seq(x, y) => edge(x, y) }
      case _ => Nil
    }
  }

  /** A weighted click graph: (src, dst, w) over `nItems` items, `nEdges`
    * distinct edges, sources skewed towards low ids (a few hubs carry most
    * clicks), no self-loops. */
  def clickGraph(seed: Long, nItems: Int, nEdges: Int): Seq[(Long, Long, Long)] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[(Long, Long), Long]
    var k = 0L
    while (seen.size < nEdges) {
      val r = pick(seed, SClick, k, 1, nItems)
      val src = pick(seed, SClick, k, 2, r + 1).toLong // uniform below uniform: skewed low
      val dst = pick(seed, SClick, k, 3, nItems).toLong
      if (src != dst && !seen.contains((src, dst))) seen((src, dst)) = 1L + pick(seed, SClick, k, 4, 5)
      k += 1
    }
    seen.toSeq.map { case ((s, d), w) => (s, d, w) }
  }

  // ----------------------------------------------------------------- files

  /** Writes rows 0 until `n` as `files` parquet files under the directory
    * `dir`, with parquet's own example writer, so generating inputs needs
    * no Spark session. Fields are Long (int64) or String (UTF-8), typed by
    * row 0. */
  def writeParquet(dir: String, columns: Seq[String], n: Long, files: Int)(row: Long => Product): Unit = {
    val sample = row(0L).productIterator.toSeq
    val fields = columns.zip(sample).map {
      case (c, _: Long) => s"required int64 $c;"
      case (c, _: String) => s"required binary $c (STRING);"
      case (c, v) => throw new IllegalArgumentException(s"column $c: unsupported value $v")
    }
    val schema = MessageTypeParser.parseMessageType(fields.mkString("message row { ", " ", " }"))
    val groups = new SimpleGroupFactory(schema)
    Files.createDirectories(Paths.get(dir))
    (0 until files).foreach { f =>
      val out = new LocalOutputFile(Paths.get(dir, f"part-$f%05d.parquet"))
      val writer = ExampleParquetWriter.builder(out).withType(schema)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try (n * f / files until n * (f + 1) / files).foreach { i =>
        val g = groups.newGroup()
        columns.zip(row(i).productIterator).foreach {
          case (c, v: Long) => g.add(c, v)
          case (c, v: String) => g.add(c, v)
          case (c, v) => throw new IllegalArgumentException(s"column $c: unsupported value $v")
        }
        writer.write(g)
      } finally writer.close()
    }
  }

  // ---------------------------------------------------------- TPC-H constants

  private val DateLit = """TIMESTAMP '(\d{4})(-\d\d-\d\d \d\d:\d\d:\d\d)'""".r
  private val BrandLit = """'Brand#(\d+)'""".r
  private val NationLit = """'NATION_(\d+)'""".r
  private val SizeCap = """p_size <= (\d+)""".r

  /** Substitution constants drawn the way TPC-H qgen draws them: every date
    * of a query moves by one seeded number of years, kept inside the
    * 1995-2001 span; each distinct brand and nation literal maps to a
    * seeded distinct brand/nation; each `p_size <=` cap is redrawn in 3..10.
    * The query's shape is untouched. */
  def substitute(seed: Long, name: String, sql: String): String = {
    val q = name.hashCode.toLong
    val years = DateLit.findAllMatchIn(sql).map(_.group(1).toInt).toSeq
    val shifted = if (years.isEmpty) sql else {
      val lo = 1995 - years.min
      val hi = 2001 - years.max
      val dy = lo + pick(seed, SConst, q, 1, hi - lo + 1)
      DateLit.replaceAllIn(sql, m => s"TIMESTAMP '${m.group(1).toInt + dy}${m.group(2)}'")
    }
    def remap(re: scala.util.matching.Regex, text: String, domain: Int, field: Long,
              render: Int => String): String = {
      val distinct = re.findAllMatchIn(text).map(_.group(1).toInt).toSeq.distinct
      val drawn = (0 until domain).sortBy(k => hash(seed, SConst, q, field * 1000 + k))
      val to = distinct.zip(drawn).toMap
      re.replaceAllIn(text, m => render(to(m.group(1).toInt)))
    }
    val branded = remap(BrandLit, shifted, Brands, 2, k => s"'Brand#${k + 1}'")
    val nations = remap(NationLit, branded, Nations, 3, k => s"'NATION_$k'")
    SizeCap.replaceAllIn(nations, _ => s"p_size <= ${3 + pick(seed, SConst, q, 4, 8)}")
  }

  /** TPC-H Q1, the text of the engine's flagship entry point. */
  private val Q1 =
    """SELECT l_returnflag, l_linestatus,
      |       sum(l_quantity) AS sum_qty,
      |       sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
      |       avg(l_quantity) AS avg_qty,
      |       count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin

  /** The SQL workload's texts: the engine's 14 TPC-H query shapes plus Q1,
    * each with its seeded constants. */
  def queryTexts(seed: Long): Map[String, String] =
    (graft.queries.TpchQueries.oracleSql + ("q_tpch_01" -> Q1)).map { case (n, q) =>
      n -> substitute(seed, n, q)
    }
}
