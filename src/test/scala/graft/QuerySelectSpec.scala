package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one query filter the mains read (SPARK_GRAFT_ONLY). */
class QuerySelectSpec extends AnyFunSuite {
  private def select(spec: String): Set[String] = {
    val tokens = QuerySelect.parse(Some(spec)).get
    SparkEntry.queries.keySet.filter(QuerySelect.matches(tokens, _))
  }

  test("a token selects its exact name or a non-digit-extending family, never q11 -> q110..q119") {
    assert(select("q11") == Set("q11_join_anti"))
    val q90 = select("q90")
    assert(q90.nonEmpty && q90.forall(n =>
      n.startsWith("q90_") || n.startsWith("q90b_") || n.startsWith("q90c_")))
    assert(Seq("q90_", "q90b_", "q90c_").forall(p => q90.exists(_.startsWith(p))))
    assert(select("q11_join_anti, q90b") == Set("q11_join_anti") ++ q90.filter(_.startsWith("q90b_")))
    assert(QuerySelect.parse(Some(" , ")).isEmpty && QuerySelect.parse(None).isEmpty)
  }
}
