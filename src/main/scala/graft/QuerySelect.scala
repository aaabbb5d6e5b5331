package graft

/** ONE query filter for every main that runs a query list (Verify,
  * ExplainDump, Bench, ScalingBench and its section gates):
  * SPARK_GRAFT_ONLY, a comma-separated token list. A token selects a query iff it is the
  * exact name, OR a prefix of the name whose next character is NOT a
  * digit. The non-digit guard keeps the convenient family prefix
  * ("q90" → q90_asof, q90b, q90c) without the prefix trap ("q11"
  * silently also selecting q110..q119). Unset = select everything. */
object QuerySelect {
  def matches(tokens: Set[String], name: String): Boolean =
    tokens.exists { t =>
      name == t ||
        (name.startsWith(t) && !name.charAt(t.length).isDigit)
    }

  /** Parse a comma-separated filter; None = select everything. */
  def parse(spec: Option[String]): Option[Set[String]] =
    spec.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)

  /** This process's SPARK_GRAFT_ONLY filter. */
  val only: Option[Set[String]] = parse(sys.env.get("SPARK_GRAFT_ONLY"))

  def selects(name: String): Boolean = only.forall(matches(_, name))
}
