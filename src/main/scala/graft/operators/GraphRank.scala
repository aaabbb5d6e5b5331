package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Graph centrality over a navigation graph — the web-curation analog of
 * ranking crawl domains by link structure (Common Crawl publishes exactly
 * this as its domain-rank artifact; curation pipelines weight sources by
 * it). The reference has no graph operator (SURVEY §2 — OLAP only); this
 * is part of the training-data-pipeline superset, built from the same
 * primitives as the distributed connected-components pass
 * (Dedup.connectedComponents): per-round keyed shuffles, checkpointed
 * iterates, lineage truncation.
 *
 * Determinism contract: PageRank is computed in SCALED INTEGER arithmetic
 * (rank × 10^12) with floor division at the two places a quotient appears
 * (per-edge contribution `rank div deg`, damping `(15·base + 85·S) div
 * 100`). Every intermediate is an exact BIGINT, so Spark and the DuckDB
 * oracle agree bit-for-bit — no float summation-order hazard. All
 * operands are nonnegative, so Spark's `div` (truncate toward zero) and
 * DuckDB's `//` (floor) coincide.
 *
 * Scale shape (100 TB story): edge construction is ONE window pass over
 * events (consecutive-event transitions — linear, no per-user pair
 * explosion) + one groupBy; each PageRank round joins the edges with the
 * rank vector (a vertex-sized relation, broadcast while it fits, keyed on
 * the rank vertex otherwise) and sums the contributions in one hash
 * shuffle on dst — nothing driver-side but the vertex COUNT (the
 * sanctioned sizing pattern). Iterates go through the same lazy
 * lineage barrier as connectedComponents' rounds (localCheckpoint, or
 * an eager reliable checkpoint under `graft.dedup.reliableCheckpoint`),
 * so the plan tree does not double per round, and the previous
 * iterate's blocks are dropped as soon as the next one has filled.
 */
object GraphRank {

  /** Fixed-point scale for exact integer rank arithmetic. */
  val Scale: Long = 1000000000000L

  /** Damping as a rational: d = DampNum/DampDen = 0.85. */
  val DampNum = 85L
  val DampDen = 100L

  /** Transition ("click") graph from an event stream: one weighted edge
    * per consecutive (item → next item) pair within a user's timeline.
    * Linear in |events| — one window pass, no per-user cross product —
    * which is the construction that survives a 1000-executor crawl log.
    * Self-loops dropped (they only dilute the damping mass). */
  def transitionEdges(events: DataFrame, itemCol: String, userCol: String,
                      orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(orderCols.map(col): _*)
    events
      .select(col(itemCol).as("src"), lead(col(itemCol), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("dst") =!= col("src"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }

  /** Number of rounds the last pageRank call executed (spec and
    * benchmark hook, same pattern as Dedup.lastDistributedRounds). */
  def lastRounds: Int = lastRank.get()
  private val lastRank = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The degree-ordered orientation [[triangleCounts]] forms its wedges
    * from, as a lazy relation: (a, b, db) for every edge of the
    * undirected simplification of `edges`, oriented from the endpoint with
    * the smaller (degree, id) rank a to the larger b, db being b's degree
    * (so wedge targets are rank-ordered without a third degree join).
    * Under this orientation every out-degree of a is O(√m). */
  private[graft] def orientedEdges(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = und.select(col("u").as("x")).union(und.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
    und
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("a"), col("v").as("b"),
            col("dv").as("db")))
          .otherwise(struct(col("v").as("a"), col("u").as("b"),
            col("du").as("db"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"), col("e.db").as("db"))
  }

  /** Per-vertex triangle counts over the UNDIRECTED simplification of a
    * (src, dst[, w]) edge list — the clustering-structure metric next to
    * PageRank's centrality (triangle density separates organic link
    * neighborhoods from spam farms in web-graph curation).
    *
    * Algorithm: degree-ordered edge orientation (the "compact-forward" /
    * node-iterator++ scheme, Latapy 2008): orient every edge from the
    * endpoint with smaller (degree, id) rank to the larger, form wedges
    * by joining oriented edges on their source with the two targets
    * rank-ordered, then close each wedge with one more equi join. Under
    * this orientation every out-degree is O(√m), so the wedge fan-out —
    * the term that explodes on skewed graphs under a naive neighbor
    * join — is bounded: a celebrity vertex of degree 10^6 contributes
    * wedges only through its (few) HIGHER-ranked neighbors. Each
    * triangle is counted exactly once as (a→b, a→c, b→c) with
    * rank(a) < rank(b) < rank(c). All-integer, so the DuckDB oracle
    * re-derives identical counts.
    *
    * Returns (v, n_tri): the number of triangles each vertex belongs to
    * (every triangle increments all three corners). */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val oriented = Dedup.truncateLineage(orientedEdges(edges))
    try {
      val e1 = oriented.select(col("a"), col("b").as("b1"), col("db").as("r1"))
      val e2 = oriented.select(col("a"), col("b").as("b2"), col("db").as("r2"))
      val wedges = e1.join(e2, "a")
        .filter(col("r1") < col("r2") ||
          (col("r1") === col("r2") && col("b1") < col("b2")))
      val closing = oriented.select(col("a").as("b1"), col("b").as("b2"))
      val tris = wedges.join(closing, Seq("b1", "b2"))
        .select(col("a"), col("b1").as("b"), col("b2").as("c"))
      val perVertex = tris.select(col("a").as("v"))
        .union(tris.select(col("b").as("v")))
        .union(tris.select(col("c").as("v")))
        .groupBy("v").agg(count(lit(1)).as("n_tri"))
      // materialize before releasing the oriented blocks
      Dedup.truncateLineage(perVertex)
    } finally Dedup.releaseTruncated(oriented)
  }

  /** Synchronous weighted label propagation (Raghavan et al. 2007) —
    * community detection beside PageRank's centrality and the triangle
    * counts' clustering: every vertex starts as its own community and
    * each round adopts the label with the greatest edge-weight vote
    * among its neighbors, ties to the SMALLEST label. The asynchronous/
    * random-order variant of the paper is nondeterministic by design;
    * this is the synchronous formulation with a total tie-break, so two
    * runs — and the oracle's unrolled SQL — agree label-for-label.
    *
    * Scale shape: per round, one equi join (edges ⋈ labels on the
    * neighbor id), one map-side-combinable (vertex, label) vote sum,
    * and one per-vertex argmax window — all keyed shuffles, no
    * all-pairs anything; lineage truncated per round (the CC doctrine).
    * Rounds are the knob: O(diameter) rounds propagate; a handful
    * suffices for community structure.
    *
    * Returns (v, community) for every vertex of the symmetrized graph. */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "need at least one round")
    val und = Dedup.truncateLineage(
      edges.select(col("src").cast("long").as("u"),
          col("dst").cast("long").as("v"), col("w").cast("long").as("w"))
        .union(edges.select(col("dst").cast("long").as("u"),
          col("src").cast("long").as("v"), col("w").cast("long").as("w")))
        .filter(col("u") =!= col("v"))
        .groupBy("u", "v").agg(sum(col("w")).as("w")))
    try {
      var labels = und.select(col("u").as("x")).distinct()
        .select(col("x"), col("x").as("lbl"))
      val argmax = Window.partitionBy(col("u"))
        .orderBy(col("s").desc, col("lbl"))
      var i = 0
      while (i < iters) {
        val votes = und
          .join(labels.select(col("x").as("v"), col("lbl")), "v")
          .groupBy(col("u"), col("lbl")).agg(sum(col("w")).as("s"))
        val next = Dedup.truncateLineage(
          votes.withColumn("rn", row_number().over(argmax))
            .filter(col("rn") === 1)
            .select(col("u").as("x"), col("lbl")))
        // the first round's labels are a view of `und`, released below
        if (i > 0) Dedup.releaseTruncated(labels)
        labels = next
        i += 1
      }
      labels.select(col("x").as("v"), col("lbl").as("community"))
    } finally Dedup.releaseTruncated(und)
  }

  /** Weighted PageRank over (src, dst, w) edges, `iters` synchronous
    * rounds, returning (v, rank) with rank an exact BIGINT in Scale
    * units. Dangling mass (vertices with out-degree zero) is dropped
    * rather than redistributed — the standard simplification; the oracle
    * implements the identical rule, so ranks still match exactly.
    *
    * Per round: the rank vector is broadcast into the edge relation and
    * the contributions take one hash shuffle on dst — 2 jobs. Every
    * barrier is lazy: the next job that reads a relation fills its blocks
    * (the round's broadcast fills the previous round's ranks), so no
    * barrier costs a job of its own and the last round's ranks are
    * computed by the caller's action. */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    val e = Dedup.truncateLineageLazy(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("long").as("w")))
    // Every vertex with a zero contribution: unioned into each round's
    // contributions, it gives a vertex without in-edges its s = 0 row in
    // the round's one groupBy, with no per-round join against the
    // vertex set.
    val zeros = Dedup.truncateLineageLazy(
      e.select(col("src").as("dst")).union(e.select(col("dst"))).distinct()
        .select(col("dst"), lit(0L).as("c")))
    // 1-row sizing action: the vertex COUNT, never the vertex set; the
    // count's one job also fills the vertex blocks.
    val n = math.max(zeros.queryExecution.toRdd.count(), 1L)
    val base = Scale / n
    // each edge carries its source's out-degree: one window pass, then
    // the loop touches a single materialized edge relation per round
    val ew = Dedup.truncateLineageLazy(
      e.withColumn("deg", sum("w").over(Window.partitionBy("src"))))

    var ranks = zeros.select(col("dst").as("v"), lit(base).as("rank"))
    // the iterate `ranks` is computed from: its blocks are dropped once
    // the next round's broadcast has filled `ranks`
    var prev: DataFrame = null
    var it = 0
    while (it < iters) {
      val contrib = ew.join(ranks, ew("src") === ranks("v"))
        .select(ew("dst").as("dst"), expr("(rank div deg) * w").as("c"))
      val next = Dedup.truncateLineageLazy(
        contrib.unionByName(zeros).groupBy("dst").agg(sum("c").as("s"))
          .select(col("dst").as("v"),
            expr(s"(${DampDen - DampNum} * CAST($base AS BIGINT) + " +
              s"$DampNum * s) div $DampDen").as("rank")))
      if (prev != null) Dedup.releaseTruncated(prev)
      // the first iterate is a view of the vertex blocks, released below
      if (it > 0) prev = ranks
      ranks = next
      it += 1
    }
    lastRank.set(it)
    if (prev != null) Dedup.releaseTruncated(prev)
    Dedup.releaseTruncated(ew)
    Dedup.releaseTruncated(e)
    // with no round, the result reads the vertex blocks
    if (iters > 0) Dedup.releaseTruncated(zeros)
    ranks
  }

  /** TRANSITIVITY AUDIT of a pair graph — the dedup-threshold quality
    * metric: global clustering coefficient 3·triangles / wedges over
    * the near-dup relation. A similarity relation that were a true
    * equivalence would close every wedge (transitivity 1); the gap
    * measures how often A~B and B~C while A̸~C — too low means the
    * threshold chains unrelated docs through hubs (connected components
    * will over-merge), so this is the number a curation team reads
    * before trusting q66's clusters at a new threshold.
    *
    * Shape: the [[triangleCounts]] machinery (degree-oriented, wedge
    * volume bounded by O(Σ od²) with od ≤ √m) plus one undirected
    * degree census; all three summaries are 1-row relations crossed at
    * the end — no collect. Transitivity is one exact-long ratio, r6;
    * NULL when the graph has no wedges. */
  def transitivityAudit(pairs: DataFrame, idA: String = "id_a",
                        idB: String = "id_b"): DataFrame = {
    import graft.Tables.r6
    val und = pairs
      .select(least(col(idA), col(idB)).cast("long").as("u"),
        greatest(col(idA), col(idB)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val edgeCount = und.agg(count(lit(1)).as("n_edges"))
    val wedges = und.select(col("u").as("x")).union(und.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
      .agg(coalesce(sum(expr("(d * (d - 1)) DIV 2")), lit(0L)).as("n_wedges"))
    val tri = triangleCounts(
        und.select(col("u").as("src"), col("v").as("dst")))
      .agg(coalesce(sum(col("n_tri")), lit(0L)).as("t3"))
      .select((col("t3") / 3).cast("long").as("n_triangles"))
    edgeCount.crossJoin(wedges).crossJoin(tri)
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          r6((col("n_triangles") * 3).cast("double") /
            col("n_wedges").cast("double"))).as("transitivity"))
  }
}
