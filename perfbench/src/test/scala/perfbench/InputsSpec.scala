package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  /** SHA-256 over every generator's rows (a sample of the corpus),
    * serialized as the bytes the tables are written from. */
  private def digest(seed: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(row: Product): Unit = md.update((row.productIterator.mkString("\u0001") + "\n").getBytes("UTF-8"))
    (0L until 2000L).foreach(i => add(Inputs.doc(seed, 6L, i, 100000L)))
    Inputs.pairGraph(seed, 4000, 200, 64).foreach(add)
    Inputs.clickGraph(seed, 2000, 20000).foreach(add)
    Inputs.queryTexts(seed).toSeq.sorted.foreach(q => md.update(q.toString.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  test("the same seed gives byte-identical inputs") {
    assert(digest(7L) == digest(7L))
  }

  test("the written parquet files are byte-identical for one seed, different for two") {
    val root = java.nio.file.Files.createTempDirectory("perfbench-inputs")
    def write(seed: Long, dir: String): Seq[Array[Byte]] = {
      val path = root.resolve(dir)
      Inputs.writeParquet(path.toString, Inputs.DocColumns, 3000L, 2)(Inputs.corpus(seed, 3000L))
      (0 until 2).map(f => java.nio.file.Files.readAllBytes(path.resolve(f"part-$f%05d.parquet")))
    }
    try {
      val (a, b, c) = (write(7L, "a"), write(7L, "b"), write(8L, "c"))
      assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
      assert(a.zip(c).forall { case (x, y) => !java.util.Arrays.equals(x, y) })
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("two seeds give different inputs, table by table") {
    assert(digest(7L) != digest(8L))
    assert(Inputs.pairGraph(7L, 4000, 200, 64) != Inputs.pairGraph(8L, 4000, 200, 64))
    assert(Inputs.clickGraph(7L, 2000, 20000) != Inputs.clickGraph(8L, 2000, 20000))
    assert(Inputs.doc(7L, 6L, 5L, 1000L)._2 != Inputs.doc(8L, 6L, 5L, 1000L)._2)
    assert(Inputs.queryTexts(7L) != Inputs.queryTexts(8L))
  }

  test("the pair graph is one hub star plus chains: a forest over every vertex") {
    val edges = Inputs.pairGraph(3L, 4000, 200, 64)
    assert(edges.forall { case (a, b) => a < b && a >= 0 && b < 4000 })
    assert(edges.distinct.size == edges.size)
    val comps = Workload.unionFind(edges)
    assert(comps.size == 4000) // every vertex is on the star or a chain
    assert(edges.size == 4000 - comps.values.toSet.size) // a forest: no cycles
    val degree = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity).values.map(_.size)
    assert(degree.max == 200 && degree.count(_ > 2) == 1)
  }

  test("the click graph has distinct weighted edges, no self-loops, skewed sources") {
    val edges = Inputs.clickGraph(3L, 2000, 20000)
    assert(edges.size == 20000 && edges.map(e => (e._1, e._2)).distinct.size == 20000)
    assert(edges.forall { case (s, d, w) => s != d && s < 2000 && d < 2000 && w >= 1 && w <= 5 })
    assert(edges.count(_._1 < 200) > edges.count(_._1 >= 1800) * 3)
  }

  test("one doc in fifty is a planted near-duplicate of its predecessor") {
    val n = 20000L
    val planted = (0L until n).filter(Inputs.planted(5L, 6L, _))
    assert(planted.size > n / 50 * 0.8 && planted.size < n / 50 * 1.2)
    planted.take(20).foreach { id =>
      val (a, b) = (Inputs.docText(5L, 6L, id - 1, n).split(" "), Inputs.docText(5L, 6L, id, n).split(" "))
      if (!Inputs.planted(5L, 6L, id - 1)) assert(a.tail.sameElements(b.tail) && b.head == "mutated")
    }
  }

  test("substituted TPC-H constants keep every date inside 1995-2001") {
    val year = """TIMESTAMP '(\d{4})-""".r
    (1L to 50L).foreach { seed =>
      Inputs.queryTexts(seed).values.foreach { q =>
        year.findAllMatchIn(q).map(_.group(1).toInt).foreach(y => assert(y >= 1995 && y <= 2001, q))
      }
    }
  }

  test("substitution changes constants, never the query's shape") {
    val base = graft.queries.TpchQueries.oracleSql("q_tpch_07")
    val drawn = Inputs.substitute(9L, "q_tpch_07", base)
    def shape(q: String) = q.replaceAll("'[^']*'", "''").replaceAll("\\d+", "0")
    assert(shape(drawn) == shape(base))
    assert("'NATION_\\d+'".r.findAllIn(drawn).toSet.size == 2) // the pair stays two nations
  }
}
