package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.r6

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (Array[Float]).
 *
 * Two tiers:
 *  - brute-force cosine top-k (exact baseline): query-set × corpus join,
 *    ranked per query. O(|Q|·|C|·d) — fine for small query batches, and
 *    embarrassingly parallel (corpus side stays partitioned; only the small
 *    query set is broadcast).
 *  - sign-LSH bucketed top-k (scale path): bucket = sign bits of the first
 *    16 dimensions (random-hyperplane LSH with axis-aligned hyperplanes —
 *    deterministic, needs no stored projection matrix). Candidates are
 *    same-bucket only, so the join is equi on bucket and the pairwise work
 *    drops by ~2^16/corpus-skew. Recall is tunable via multi-probe /
 *    fewer bits; exactness is traded for a bounded shuffle.
 *
 * Dot products run through SQL higher-order functions (zip_with +
 * aggregate) — codegen-adjacent, no UDF serialization, and expressible in
 * the DuckDB oracle via parallel unnest.
 */
object SimilaritySearch {

  /** Sequential left-to-right dot product of two float-array columns in
    * DOUBLE (order fixed = array order, so engines agree bit-for-bit).
    * Composable higher-order-function form — interpreted per row. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine via the native kernel (graft.functions.CosineSimilarity
    * .compute, registered by GraftExtensions). Bit-identical to
    * dot(a,b)/(l2norm(a)*l2norm(b)) — same widen-to-double, same
    * left-to-right accumulation — but fused into whole-stage codegen
    * instead of interpreted lambda evaluation per pair. */
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  /** Exact cosine top-k: for each query vector (small set — broadcast), rank
    * the whole corpus. Ranking key is cosine rounded to 6dp with id
    * tiebreak, keeping results deterministic across engines and runs. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = corpus.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    val scored = broadcast(q).join(c, col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        r6(cosine(col("qv"), col("cv")))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Sign-LSH bucket id from the first `bits` dimensions (1-indexed
    * element_at; `bits` is static so this unrolls to a flat codegen'd sum). */
  def signBucket(v: Column, bits: Int): Column =
    (0 until bits)
      .map(j => when(element_at(v, j + 1) > 0f, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)

  /** Contrastive-pair mining for embedding training: per query, the
    * best SAME-bucket candidate (the positive proxy — nearest within
    * the query's coarse semantic region) and the best DIFFERENT-bucket
    * candidate (the hard negative — maximally similar yet across the
    * partition boundary, the pair that actually teaches the margin).
    * Stratification by sign-LSH bucket; scoring is the exact
    * codegen'd cosine with the r6+id deterministic rank.
    *
    * Scale: queries broadcast (mining sets are small by construction);
    * the exact scan is the oracle baseline exactly as q47 — a corpus at
    * 100 TB swaps the candidate source for the quantized shortlist
    * (q117's two-stage shape) with this same stratified argmax on top. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, bits: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      signBucket(col("embedding"), bits).as("qb"))
    val c = corpus.select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
      signBucket(col("embedding"), bits).as("cb"))
    val scored = broadcast(q).join(c, col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (col("qb") === col("cb")).as("same"),
        r6(cosine(col("qv"), col("cv"))).as("cosine"))
    val w = Window.partitionBy(col("query_id"), col("same"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("query_id"))
      .agg(
        max(when(col("same"), col("cand_id"))).as("pos_id"),
        max(when(col("same"), col("cosine"))).as("pos_cosine"),
        max(when(!col("same"), col("cand_id"))).as("neg_id"),
        max(when(!col("same"), col("cosine"))).as("neg_cosine"))
  }

  /** RETRIEVAL QUALITY report: recall@k and MRR of an approximate
    * result set against an exact baseline's top-1 — the in-engine eval
    * every ANN deployment ships next to its index (FAISS's recall
    * harness as a query). For each query: did the TRUE nearest neighbor
    * (exact rank 1) appear in the approximate top-k, and at what
    * reciprocal rank. Both inputs use the (query_id, rank, cand_id)
    * contract of [[bruteForceTopK]]/[[lshTopK]]/[[ivfTopK]].
    *
    * Determinism: reciprocal ranks are MICRO-RATIONAL — 10⁶ div rank as
    * an integer (1/3 → 0.333333 by definition, not by float division) —
    * summed as exact longs, so the means are single exact-input double
    * divides, r6-rounded. One |queries|-row join + a global aggregate:
    * the report costs nothing next to the retrieval itself. */
  def retrievalRecallReport(approx: DataFrame, exact: DataFrame, k: Int)
    : DataFrame = {
    val truth = exact.filter(col("rank") === 1)
      .select(col("query_id"), col("cand_id").as("true_id"))
    val hits = truth.join(
      approx.filter(col("rank") <= k)
        .select(col("query_id"), col("cand_id"), col("rank")),
      Seq("query_id"), "left")
      .groupBy(col("query_id"))
      .agg(max(when(col("cand_id") === col("true_id"), lit(1L)))
        .as("hit"),
        max(when(col("cand_id") === col("true_id"),
          expr("1000000 div rank"))).as("rr_micro"))
    hits.agg(count(lit(1)).as("n_queries"),
      r6(coalesce(sum(col("hit")), lit(0L)).cast("double") /
        count(lit(1)).cast("double")).as("recall_at_k"),
      r6(coalesce(sum(col("rr_micro")), lit(0L)).cast("double") /
        (count(lit(1)) * 1000000L).cast("double")).as("mrr"))
  }

  /** Bucketed ANN: same-bucket candidates only, then exact cosine rank.
    * Lower recall than bruteForceTopK by construction; the oracle checks
    * the deterministic pipeline, SURVEY §2 records the recall trade. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, bits: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      signBucket(col("embedding"), bits).as("qb"))
    val c = corpus.select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
      signBucket(col("embedding"), bits).as("cb"))
    val scored = broadcast(q)
      .join(c, col("qb") === col("cb") && col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        r6(cosine(col("qv"), col("cv")))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF coarse centroids: per-dimension mean of each sign-bucket's
    * members. The quantizer is deliberately DETERMINISTIC (no sampled
    * k-means init): buckets come from sign bits, and each dimension's mean
    * is an order-independent DECIMAL sum cast to double — so the oracle
    * can rebuild the exact same centroids. Returns (cid, centroid). */
  def ivfCentroids(corpus: DataFrame, bits: Int): DataFrame =
    corpus
      .select(signBucket(col("embedding"), bits).as("cid"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos"))
      .agg((sum(col("x").cast("double").cast("decimal(28,10)")).cast("double") / count(lit(1))).as("c"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("centroid"))

  /** IVF top-k: rank the (few) coarse centroids per query, probe the
    * nprobe nearest inverted lists, exact cosine rank inside them. Unlike
    * lshTopK (exact-bucket-only candidates), a query near a Voronoi
    * boundary still reaches its neighbors' lists — the recall fix for the
    * axis-aligned-bucket compromise. Centroids and the probe set are
    * tiny → both broadcast; the corpus-sized list side only shuffles on
    * the equi cid key. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, bits: Int, nprobe: Int): DataFrame = {
    val cents = ivfCentroids(corpus, bits)
    val lists = corpus.select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
      signBucket(col("embedding"), bits).as("cid"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cid"))
    val probes = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qv"), col("cid"),
        r6(dot(col("qv"), col("centroid")) /
          (l2norm(col("qv")) * l2norm(col("centroid")))).as("csim"))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(probes)
      .join(lists, Seq("cid"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        r6(cosine(col("qv"), col("cv"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs above a threshold — the scale
    * path. Candidates come from a sign-LSH bucket equi-join with 1-bit
    * multi-probe: side A explodes to its own bucket plus the `bits`
    * single-bit-flipped neighbors, joined to side B's exact bucket, so a
    * pair is compared iff their sign buckets are within Hamming 1. The
    * join key is high-cardinality (2^bits) — a plain hash shuffle, no
    * cross product — and each pair matches at most one probe (probe
    * buckets of A are distinct values), so no dedup pass is needed.
    * Recall is a tunable trade (more probes / fewer bits → higher recall,
    * more candidates); near-dup pairs (cosine→1) almost surely agree on
    * sign bits, which is the regime dedup cares about. For an exact
    * all-pairs scan on a bounded corpus use cosineDupPairsExact. */
  def cosineDupPairs(vectors: DataFrame, threshold: Double, bits: Int): DataFrame = {
    val v = vectors.select(col("vec_id"), col("embedding"),
      signBucket(col("embedding"), bits).as("bucket"))
    val flips = array((lit(0L) +: (0 until bits).map(j => lit(1L << j))): _*)
    val a = v.select(col("vec_id").as("id_a"), col("embedding").as("va"),
        col("bucket"), explode(flips).as("flip"))
      .select(col("id_a"), col("va"), col("bucket").bitwiseXOR(col("flip")).as("pb"))
    val b = v.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      col("bucket").as("bb"))
    a.join(b, col("pb") === col("bb") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        r6(cosine(col("va"), col("vb")))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Exact all-pairs cosine dup scan (O(n²) nested loop) — correct on any
    * corpus small enough to afford it; cosineDupPairs is the scale path. */
  def cosineDupPairsExact(vectors: DataFrame, threshold: Double): DataFrame = {
    val a = vectors.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = vectors.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        r6(cosine(col("va"), col("vb")))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Symmetric (int8-style) scalar quantization of the embedding
    * column: every component maps to an integer code in [-127, 127] by
    * ONE global scale, max |x| over the whole corpus (a 1-row aggregate
    * attached back by a one-row broadcast, so coding is a row-local
    * projection; the corpus never shuffles). The classic 4× memory cut
    * for an ANN corpus (float32 → byte codes) — and because the codes
    * are integers, downstream dot products are EXACT integer arithmetic:
    * no float summation order to disagree on, which is why the q86
    * oracle can hash-match the ranking bit-for-bit.
    *
    * The scale is deliberately global and SHIFT-FREE: a per-dimension
    * min/max affine map (the histogram-style quantizer) translates each
    * axis, and cosine is not invariant under per-axis shifts — it would
    * rank a genuinely different measure. A uniform scale preserves every
    * vector's direction exactly; only the ±0.5-code rounding perturbs
    * similarities (AnnRecallSpec pins the substitution gap). Rounding is
    * explicit floor(x + 0.5) — half-up on both engines, avoiding
    * banker's-rounding divergence. Returns the input plus
    * `qv: array<int>` (codes fit a byte; INT keeps the integer dot in
    * plain SQL types both here and in DuckDB). */
  def quantize(vectors: DataFrame): DataFrame = {
    val stats = vectors
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .agg(max(abs(col("x").cast("double"))).as("gmax"))
    vectors.crossJoin(broadcast(stats))
      .withColumn("qv",
        transform(col("embedding"), x =>
          when(col("gmax") > 0,
            floor(x.cast("double") / col("gmax") * 127.0 + 0.5).cast("int"))
            .otherwise(lit(0))))
      .drop("gmax")
  }

  /** Exact integer dot product of two quantized code arrays, via the
    * native kernel (graft.functions.IntDotProduct.compute, registered
    * by GraftExtensions) — the pair-loop hot path of
    * [[quantizedTopK]] stays inside whole-stage codegen instead of
    * evaluating interpreted higher-order lambdas per candidate.
    * Value-identical to [[qdotHof]] (IntDotEquivalenceSpec). */
  def qdot(a: Column, b: Column): Column = call_function("graft_qdot", a, b)

  /** The composable higher-order-function form of [[qdot]] — the
    * equivalence oracle (and the spelling a DuckDB oracle mirrors). */
  def qdotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** Top-k by QUANTIZED cosine: both sides coded by [[quantize]], ranked
    * on r6(qdot/(√qdot(a,a)·√qdot(b,b))) with id tie-break. The
    * rank arithmetic is integer-exact up to one final double division —
    * deterministic cross-engine — and the corpus side carries ~4× less
    * data than float embeddings. A vector whose codes are all zero has
    * no direction: its similarity is pinned to −1 (ranks last) rather
    * than the 0/0 NaN, which Spark's DESC sort would otherwise place
    * FIRST. Recall vs exact float cosine (q47) is the documented
    * quantization trade. */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // `coded` feeds BOTH join sides: persisted so the corpus quantization
    // scan and its 1-row max-abs stats aggregate run once, not twice. The
    // cache is corpus-sized ints (~4× smaller than the float embeddings);
    // blocks are reclaimed by the ContextCleaner once the result plan is
    // unreachable (ManagedPairs doc), and Bench/Verify clearCache per run.
    val coded = quantize(corpus.select(col("vec_id"), col("embedding"))).persist()
    // Self-dots are hoisted OUT of the pair loop into per-side
    // pre-projections: |Q| + |C| norm computations instead of 2·|Q|·|C|.
    // The ranking expression downstream is bit-identical — same integer
    // dots, same sqrt·sqrt product, same final double division.
    val q = coded.join(queries.select(col("vec_id")), "vec_id")
      .select(col("vec_id").as("query_id"), col("qv").as("qa"),
        qdot(col("qv"), col("qv")).as("na2"))
    val c = coded.select(col("vec_id").as("cand_id"), col("qv").as("qb"),
      qdot(col("qv"), col("qv")).as("nb2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("cand_id"))
    broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        when(col("na2") > 0 && col("nb2") > 0,
          r6(qdot(col("qa"), col("qb")) /
            (sqrt(col("na2")) * sqrt(col("nb2")))))
          .otherwise(lit(-1.0))
          .as("qcos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Two-stage retrieval: QUANTIZED shortlist, then EXACT float rerank —
    * the production ANN shape (a cheap coarse scorer over the whole
    * corpus, the expensive exact scorer over `shortlist` survivors only).
    * Stage 1 is [[quantizedTopK]] (int8 codes, ~4× less data moved, the
    * codegen'd graft_qdot kernel); stage 2 joins the |Q|·shortlist
    * survivors — NOT the corpus — back to their float embeddings and
    * ranks by the same r6 exact cosine as the brute-force baseline
    * (q47). Exactly-reproducible: the shortlist membership is pinned by
    * the deterministic (qcos DESC, cand_id) rank, the rerank by
    * (cosine DESC, cand_id), so the oracle re-derives both stages.
    *
    * Scale shape: exact-scoring cost falls from |Q|·|C| to |Q|·S float
    * dots; the two embedding joins probe with a shortlist-sized relation
    * (AQE broadcasts it). Recall vs pure-exact equals the probability the
    * true top-k survives the quantized shortlist — the documented
    * quantization trade, now amortized over S instead of deciding final
    * ranks directly (AnnRecallSpec pins both gaps). */
  def rerankTopK(queries: DataFrame, corpus: DataFrame, shortlist: Int, k: Int): DataFrame = {
    val short = quantizedTopK(queries, corpus, shortlist)
      .select(col("query_id"), col("cand_id"))
    val emb = corpus.select(col("vec_id"), col("embedding"))
    val qe = emb.select(col("vec_id").as("query_id"), col("embedding").as("_qemb"))
    val ce = emb.select(col("vec_id").as("cand_id"), col("embedding").as("_cemb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    short.join(qe, "query_id").join(ce, "cand_id")
      .select(col("query_id"), col("cand_id"),
        r6(cosine(col("_qemb"), col("_cemb"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Recompute centroids as the per-dimension mean of each assigned
    * cluster's members — one Lloyd "update" step. Same order-independent
    * DECIMAL-mean construction as [[ivfCentroids]] (the oracle rebuilds it
    * bit-for-bit); clusters that lost every member simply emit no row. */
  private def refineCentroids(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos"))
      .agg((sum(col("x").cast("double").cast("decimal(28,10)")).cast("double") / count(lit(1))).as("c"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("centroid"))

  /** Assign every vector to its nearest centroid by ROUNDED cosine (6dp,
    * smaller cid wins rounded ties — the cross-engine determinism rule of
    * every ANN op here). The whole centroid set is packed into ONE row
    * (array of (cid, centroid, cnrm) structs, cid-ascending) and attached
    * to the corpus by a broadcast of that single row, so the argmax is a
    * row-local fold: the corpus is NEVER shuffled, sorted, or windowed for
    * assignment — the plan shape that survives a 100 TB corpus with
    * K ≤ ~10⁵ centroids (the broadcast is K·dim doubles, not corpus-
    * sized). The fold keeps the FIRST strict maximum, and the struct array
    * is cid-sorted, which is exactly "ORDER BY csim DESC, cid ASC LIMIT
    * 1". Works unchanged on a STREAMING `corpus` (every step is a
    * row-local projection plus one static-side broadcast — the
    * stream-static shape; CurationStreams.semanticDupIds uses it this
    * way). Returns (vec_id, embedding, cid, csim). */
  def assignToCentroids(corpus: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents
      .select(struct(col("cid"), col("centroid"),
        l2norm(col("centroid")).as("cnrm")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("cents"))
    corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(packed))
      .withColumn("vnrm", l2norm(col("embedding")))
      .withColumn("best",
        aggregate(col("cents"),
          struct(lit(-1L).as("cid"), lit(-2.0).as("csim")),
          (acc, c) => {
            val csim = r6(
              aggregate(
                zip_with(col("embedding"), c.getField("centroid"),
                  (x, y) => x.cast("double") * y),
                lit(0.0), (a2, v) => a2 + v)
                / (col("vnrm") * c.getField("cnrm")))
            when(csim > acc.getField("csim"),
              struct(c.getField("cid").as("cid"), csim.as("csim")))
              .otherwise(acc)
          }))
      .select(col("vec_id"), col("embedding"),
        col("best").getField("cid").as("cid"),
        col("best").getField("csim").as("csim"))
  }

  /** K-means cluster assignment with `iters` Lloyd refinement steps over
    * the DETERMINISTIC sign-bucket initialization ([[ivfCentroids]] — no
    * sampled init, so the oracle replays the whole optimization exactly).
    * iters=0 assigns against the raw sign-bucket centroids; each
    * refinement is one assignment (shuffle-free, see [[assignNearest]])
    * plus one centroid mean (partial-agg'd shuffle of K·dim cells, not
    * corpus rows). Cluster labels stay the init's cid values; clusters
    * may die (lose all members) under refinement, which both engines
    * reproduce identically. Returns (vec_id, embedding, cid, csim). */
  def kmeansAssign(corpus: DataFrame, bits: Int, iters: Int): DataFrame =
    assignToCentroids(corpus, kmeansCentroids(corpus, bits, iters))

  /** The refined centroid relation [[kmeansAssign]]'s final assignment
    * runs against — materialize it once to index a corpus, then assign
    * NEW (batch or streaming) vectors against it without re-clustering. */
  def kmeansCentroids(corpus: DataFrame, bits: Int, iters: Int): DataFrame = {
    // Each Lloyd iterate is persisted and MATERIALIZED (the count() is the
    // barrier) before the next step consumes it, then the previous iterate
    // is released: iteration i costs exactly one corpus scan against a
    // cached K·dim-row centroid table, instead of re-deriving the whole
    // init+refinement chain through the nested one-row broadcast of
    // [[assignToCentroids]] on every downstream execution. The returned
    // relation stays persisted (tiny: K rows) so the final assignment —
    // and any caller indexing a corpus against it — reads the cache;
    // blocks fall to the ContextCleaner when the plan goes unreachable.
    var cents = ivfCentroids(corpus, bits)
    if (iters > 0) {
      cents = cents.persist()
      cents.count()
    }
    for (_ <- 0 until iters) {
      val prev = cents
      cents = refineCentroids(assignToCentroids(corpus, prev)).persist()
      cents.count()
      prev.unpersist(blocking = false)
    }
    cents
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means partitions the corpus, then near-
    * duplicate detection runs all-pairs INSIDE each cluster only — the
    * cluster radius bounds the candidate set the way LSH bands bound
    * [[cosineDupPairs]], but with a tunable K instead of a fixed hash
    * family, and the pair join is equi on cid (hash shuffle, no cross
    * product). A vector is dropped iff some SMALLER-id vector in its
    * cluster is ≥ `threshold` rounded cosine — the pair-local greedy
    * survivor rule (deterministic, non-transitive: for transitive-closure
    * semantics feed the pairs to [[Dedup.canonicalize]] instead). Returns
    * the surviving (vec_id, embedding, cid, csim) rows. */
  def semanticDedup(vectors: DataFrame, bits: Int, iters: Int,
                    threshold: Double): DataFrame = {
    // `assigned` is consumed THREE times (both pair-join sides + the final
    // left-anti): persisted so the k-means lineage — sign-bucket init,
    // Lloyd refinement, corpus-wide assignment fold — executes once and
    // the two extra consumers read cache (r7's unpersisted form replayed
    // it 3×; at 100 TB that is a triple corpus read). Kept persisted in
    // the returned plan (the InMemoryRelation a plan audit can pin);
    // blocks are reclaimed by the ContextCleaner once the result goes
    // unreachable, and Bench/Verify clearCache around every run.
    val assigned = kmeansAssign(vectors, bits, iters).persist()
    val a = assigned.select(col("cid"), col("vec_id").as("id_a"),
      col("embedding").as("va"))
    val b = assigned.select(col("cid"), col("vec_id").as("id_b"),
      col("embedding").as("vb"))
    val dropped = a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(r6(cosine(col("va"), col("vb"))) >= threshold)
      .select(col("id_b")).distinct()
    assigned.join(dropped, assigned("vec_id") === dropped("id_b"), "left_anti")
  }

  // --------------------------------------------------------------------
  // Product quantization (Jégou et al. 2011, "Product Quantization for
  // Nearest Neighbor Search")
  // --------------------------------------------------------------------

  /** PQ codebooks: split each embedding into `m` equal subspaces; per
    * subspace, cluster the sub-vectors into ≤2^`signBits` cells via the
    * engine's deterministic sign-bucket quantizer (the [[ivfCentroids]]
    * doctrine — no sampled init, so the oracle rebuilds the exact same
    * codebooks) and emit each cell's per-dimension DECIMAL-mean centroid.
    * Returns (sub, cid, centroid) — at most m·2^signBits rows, broadcast-
    * tiny by construction (the codebook is the POINT of PQ: m·k·(d/m)
    * doubles stand in for the corpus's full vectors).
    *
    * vs [[quantize]] (int8 scalar): scalar quantization keeps d values per
    * vector at fixed precision; PQ keeps m CODES per vector (here m
    * ints, production m bytes) and reconstructs through learned
    * centroids — the memory-for-recall trade every billion-vector ANN
    * service ships. Distances here are squared L2 (the PQ paper's
    * metric), rounded r6 with smaller-cid ties, per the cross-engine
    * determinism rule of every ANN op in this file. */
  def pqCodebooks(corpus: DataFrame, m: Int, signBits: Int): DataFrame = {
    val sub = corpus
      .select(col("vec_id"), col("embedding"),
        (size(col("embedding")) / m).as("w"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .filter(pqDivisibleGuard(m).isNull)
      .select(col("vec_id"), col("sub"),
        slice(col("embedding"), col("sub") * col("w") + 1, col("w")).as("sv"))
    val bucketed = sub.withColumn("cid",
      (0 until signBits).map(j =>
        when(element_at(col("sv"), j + 1) > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _))
    bucketed
      .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy(col("sub"), col("cid"), col("pos"))
      .agg((sum(col("x").cast("double").cast("decimal(28,10)")).cast("double") / count(lit(1))).as("c"))
      .groupBy(col("sub"), col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("centroid"))
  }

  /** Row-local PQ dimension guard: `size(embedding) % m` must be 0, or
    * the implicit int truncation of w = d/m would silently DROP the
    * trailing d mod m dimensions from codebooks, codes, and distances —
    * degraded recall with no error. assert_true fuses into whichever
    * scan carries it (no extra pass, no driver action); null on success
    * so `.filter(_.isNull)` keeps every valid row and cannot be pruned. */
  private def pqDivisibleGuard(m: Int, v: Column = col("embedding")): Column =
    assert_true(size(v) % m === 0,
      concat(lit(s"PQ: embedding dimension "), size(v).cast("string"),
        lit(s" is not divisible by m=$m subspaces — the trailing dims would" +
          " be silently dropped; pick m | d or pad the vectors")))

  /** Squared-L2 between a sub-vector slice and a centroid array, summed
    * left-to-right in double (both engines agree order). Kept as the
    * composable reference form: PqEquivalenceSpec pins the native
    * kernels' bit-parity against r6(subDist2(...)). */
  private[operators] def subDist2(sv: Column, cent: Column): Column =
    aggregate(zip_with(sv, cent, (x, y) => {
      val d = x.cast("double") - y
      d * d
    }), lit(0.0), (acc, v) => acc + v)

  /** The whole codebook packed into ONE row — array indexed [sub] of
    * cid-ASCENDING (cid, centroid) struct arrays — for broadcast
    * row-local encode folds (the [[assignToCentroids]] shape: the corpus
    * is never shuffled for encoding). Per-sub arrays, so a subspace's
    * fold touches its own k cells only — the pre-r10 flat (sub, cid)
    * array forced a filter SCAN of all m·k structs per subspace, an
    * O(m²k) interpreted walk per vector that q147b's 10× sweep measured
    * at 24 s for what should be a 2 s query. */
  private def packCodebooksBySub(cb: DataFrame): DataFrame =
    cb.groupBy(col("sub"))
      .agg(array_sort(collect_list(struct(col("cid"), col("centroid"))))
        .as("cells"))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cells")))),
        s => s.getField("cells")).as("scb"))

  /** The codebook DENSE-packed into ONE row: array<array<array<double>>>
    * indexed [sub][cid] with `kCells` slots per subspace (empty
    * sign-bucket cells hold null — no corpus code can reference them),
    * built by two tiny aggregates over the m·k codebook relation. A
    * query's LUT cell is then ONE positional lookup. */
  private def packCodebooksDense(cb: DataFrame, kCells: Int): DataFrame =
    cb.groupBy(col("sub"))
      .agg(map_from_entries(collect_list(
        struct(col("cid").cast("int"), col("centroid")))).as("mp"))
      .select(col("sub"), transform(sequence(lit(0), lit(kCells - 1)),
        c => element_at(col("mp"), c)).as("cells"))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cells")))),
        s => s.getField("cells")).as("dcb"))

  /** PQ-encode: per vector, per subspace, the cid of the nearest codebook
    * centroid by r6-rounded squared L2 (first strict minimum wins — the
    * struct array is cid-sorted, so ties go to the smaller cid). One
    * broadcast of the packed codebook; the corpus side is a row-local
    * fold — no shuffle, no window. Returns (vec_id, codes: array<bigint>,
    * codes[sub] = chosen cid). */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int): DataFrame = {
    val packed = packCodebooksBySub(codebooks)
    corpus.select(col("vec_id"), col("embedding"))
      .filter(pqDivisibleGuard(m).isNull)
      .crossJoin(broadcast(packed))
      .withColumn("w", size(col("embedding")) / m)
      .withColumn("codes", transform(sequence(lit(0), lit(m - 1)), s =>
        call_function("graft_pq_argmin",
          slice(col("embedding"), s * col("w") + 1, col("w")),
          element_at(col("scb"), s + 1))))
      .select(col("vec_id"), col("codes"))
  }

  /** PQ top-k by ASYMMETRIC distance (ADC): queries stay full-precision;
    * each query precomputes its squared-L2 lookup table against the
    * broadcast codebook (one row-local fold — m·k·(d/m) multiplies per
    * QUERY, not per pair), DENSE-PACKED as array<array<double>> indexed
    * [sub][cid] with 2^signBits slots per subspace (empty sign-bucket
    * cells hold null — no corpus code can reference them). Every corpus
    * candidate is then scored as Σ_sub lut[sub][codes[sub]] — m
    * positional element_at lookups per pair, O(m) regardless of k. (The
    * pre-r10 form folded over the full m·k sparse LUT per pair — fine at
    * k ≤ 16, an O(m·k) per-pair walk at the production k=256 this now
    * serves.) The m r6'd terms are summed in DECIMAL(28,6) — each term
    * is exactly a 6-decimal value, so the sum is exact and order-free
    * on both engines (a double fold diverged from DuckDB's
    * arbitrary-order sum() by one midpoint ulp at m=8), and one oracle
    * gates both geometries. Ranking: r6 total distance ASC,
    * cand_id tie-break, row_number per query (WindowGroupLimit keeps k+1
    * rows per partition pre-exchange — the q106-proven distributed
    * top-k). Corpus side carries only (vec_id, codes): m longs instead
    * of d floats — the PQ memory win. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, m: Int, signBits: Int,
             k: Int): DataFrame = {
    val kCells = 1 << signBits
    val cb = pqCodebooks(corpus, m, signBits)
    val enc = pqEncode(corpus, cb, m)
    val packed = packCodebooksDense(cb, kCells)
    val qlut = queries.select(col("vec_id").as("query_id"), col("embedding"))
      .filter(pqDivisibleGuard(m).isNull)
      .crossJoin(broadcast(packed))
      .withColumn("w", size(col("embedding")) / m)
      .withColumn("lut", transform(sequence(lit(0), lit(m - 1)), s =>
        call_function("graft_pq_sub_dists",
          slice(col("embedding"), s * col("w") + 1, col("w")),
          element_at(col("dcb"), s + 1))))
      .select(col("query_id"), col("lut"))
    val scored = enc.crossJoin(broadcast(qlut))
      .filter(col("vec_id") =!= col("query_id"))  // the q47 family convention
      .withColumn("adist", adcScore(m))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("cand_id"), col("adist"))
  }

  /** ADC total distance from a query's dense LUT + a candidate's codes:
    * the m r6'd terms are summed in DECIMAL(28,6) — each term IS a
    * 6-decimal value, so the sum is exact and ORDER-FREE (a plain double
    * fold diverged from DuckDB's arbitrary-order sum() by one midpoint
    * ulp at m=8; q147b found it, m=4 never rolled it). */
  private def adcScore(m: Int): Column = {
    val decZero = lit(new java.math.BigDecimal(0)).cast("decimal(28,6)")
    r6(aggregate(sequence(lit(0), lit(m - 1)), decZero,
      (acc, s) => (acc + element_at(element_at(col("lut"), s + 1),
        element_at(col("codes"), s + 1).cast("int") + 1)
          .cast("decimal(28,6)")).cast("decimal(28,6)"))
      .cast("double"))
  }

  /** IVF + PQ/ADC over RESIDUALS — the FAISS "IVFADC" layout (Jégou et
    * al. 2011 §IV), the architecture every billion-vector ANN service
    * actually deploys: a coarse quantizer (sign-bucket Voronoi cells,
    * the q48b machinery) shortlists nprobe cells per query, and the ADC
    * table walk scores ONLY those cells' members — through codebooks
    * trained on the RESIDUAL r = x − centroid(cell(x)), not the raw
    * vector. Residuals matter: within a cell the data is centered, so
    * the same m·2^signBits code budget spends its precision on the
    * local displacement instead of re-encoding the cell's global
    * offset — PqRecallSpec measures recall@k strictly above the
    * raw-vector variant at tight nprobe. The query side mirrors it:
    * each (query, probed cell) pair builds its OWN LUT from the
    * query's residual against that cell's centroid, so the LUT
    * relation is |Q|·nprobe rows keyed by cell id.
    *
    * Scale shape: [[pqTopK]]'s cross join touches every corpus code
    * per query — right for auditing PQ itself, wrong at a billion
    * vectors; here the scoring join is an EQUI join on the cell id, so
    * per-query candidate volume is the probed fraction
    * (nprobe/2^coarseBits of the corpus, in expectation) and the
    * corpus side shuffles once on the cid key. Codes, coarse cell, and
    * residual are computed in ONE row-local corpus pass (broadcast
    * centroids + codebook — the corpus is never shuffled to be coded).
    * The LUT attach is BYTE-GATED like every other potentially-
    * unbounded small side in the library (the q70/q120 doctrine):
    * |Q|·nprobe·m·2^signBits doubles under `broadcastBudgetBytes` →
    * broadcast; over → SHUFFLE_HASH on cid (the corpus side shuffles
    * on cid either way at that volume). At 10k queries × nprobe 8 ×
    * 16 KB LUTs the relation is ~1.3 GB — the pre-r12 unconditional
    * broadcast was a driver OOM; the gate makes the 100 TB shape the
    * shuffle one while both physical plans share one oracle (q170 /
    * q170b — the gate cannot change answers).
    *
    * `encodeResiduals = false` keeps the raw-vector IVF+PQ layout
    * (same plumbing, identity "residual") — it exists for the recall
    * A/B in PqRecallSpec and as the honest name for what the pre-r12
    * version computed. Probe ranking and ADC scoring reuse the audited
    * q48b/q147 constructions, so the oracle is their composition. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, m: Int,
                signBits: Int, coarseBits: Int, nprobe: Int, k: Int,
                encodeResiduals: Boolean = true,
                broadcastBudgetBytes: Long = 256L * 1024 * 1024): DataFrame = {
    val kCells = 1 << signBits
    val cents = ivfCentroids(corpus, coarseBits)
    def residual(v: Column): Column =
      if (encodeResiduals)
        zip_with(v, col("centroid"), (x, c) => x.cast("double") - c)
      else transform(v, x => x.cast("double"))
    // Residual corpus view: cid is a row-local sign fold, the
    // ≤2^coarseBits centroid relation broadcasts, and the float→double
    // cast is exact — one corpus pass, no shuffle before the cid join.
    val res = corpus.select(col("vec_id"), col("embedding"),
        signBucket(col("embedding"), coarseBits).as("cid"))
      .join(broadcast(cents), Seq("cid"))
      .select(col("vec_id"), col("cid"), residual(col("embedding")).as("embedding"))
    val cb = pqCodebooks(res, m, signBits) // trained on residuals
    val packedSub = packCodebooksBySub(cb)
    val enc = res
      .filter(pqDivisibleGuard(m).isNull)
      .crossJoin(broadcast(packedSub))
      .withColumn("w", size(col("embedding")) / m)
      .withColumn("codes", transform(sequence(lit(0), lit(m - 1)), s =>
        call_function("graft_pq_argmin",
          slice(col("embedding"), s * col("w") + 1, col("w")),
          element_at(col("scb"), s + 1))))
      .select(col("vec_id"), col("codes"), col("cid"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cid"))
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(broadcast(cents))
      .select(col("query_id"), col("qv"), col("cid"),
        r6(dot(col("qv"), col("centroid")) /
          (l2norm(col("qv")) * l2norm(col("centroid")))).as("csim"))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid"))
    // Per-(query, probed cell) residual LUT — |Q|·nprobe rows.
    val packedDense = packCodebooksDense(cb, kCells)
    val qlut = probes
      .join(broadcast(cents), Seq("cid"))
      .select(col("query_id"), col("cid"), residual(col("qv")).as("qres"))
      .filter(pqDivisibleGuard(m, col("qres")).isNull)
      .crossJoin(broadcast(packedDense))
      .withColumn("w", size(col("qres")) / m)
      .withColumn("lut", transform(sequence(lit(0), lit(m - 1)), s =>
        call_function("graft_pq_sub_dists",
          slice(col("qres"), s * col("w") + 1, col("w")),
          element_at(col("dcb"), s + 1))))
      .select(col("query_id"), col("cid"), col("lut"))
    // ONE 1-row sizing count (q70 doctrine): the LUT relation's bytes
    // are |Q|·nprobe · (m·2^signBits doubles + row overhead) — exactly
    // computable from the query count, no sampling needed. The gate
    // steers the physical strategy only, never the answer.
    val nQ = queries.select(col("vec_id")).count()
    val lutBytes = nQ * nprobe.toLong * (m.toLong * kCells * 8L + 64L)
    val scored =
      if (lutBytes <= broadcastBudgetBytes) enc.join(broadcast(qlut), Seq("cid"))
      else enc.join(qlut.hint("SHUFFLE_HASH"), Seq("cid"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("vec_id").asc)
    scored
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adist", adcScore(m))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("cand_id"),
        col("adist"))
  }

  // --------------------------------------------------------------------
  // Embedding second-moment statistics (the PCA/whitening front half)
  // --------------------------------------------------------------------

  /** Upper-triangle COVARIANCE MATRIX of an embedding column — the d×d
    * second-moment statistic behind whitening, PCA-based dedup
    * (SemDeDup's preprocessing), and embedding-drift monitoring between
    * corpus snapshots. Output: one row per (i ≤ j) dim pair with the
    * exact-rational covariance cov(i,j) = (n·Σxy − Σx·Σy)/n².
    *
    * Plan shape, built for 100 TB: the d²/2 pair products are expanded
    * ROW-LOCALLY by one nested-HOF projection (no self-join — a join on
    * vec_id would move every vector d times through an exchange), then a
    * single groupBy((i,j)) whose aggregation state is d(d+1)/2 cells of
    * fixed-width DECIMAL partials — map-side combinable, so the exchange
    * carries only per-partition partials no matter the row count.
    *
    * Exactness doctrine (the q149 form taken one step further): inputs
    * quantize to integer MICRO-units (round(x·1e6) as long — float32
    * embeddings carry < 7 significant digits, so nothing real is lost),
    * every sum runs in DECIMAL(38,0) (order-free, overflow-checked to
    * ~1e19 products per cell ≈ 10M rows · unit-norm dims; beyond that
    * DECIMAL still holds 38 digits), and the ONE float op is the final
    * divide, rounded r6 — both engines produce bit-identical output.
    *
    * The micro-unit array is computed ONCE behind a projection barrier:
    * inlining it into the pair lambda would re-round the whole vector per
    * pair element (HOFs do no CSE — the q142 lesson). */
  def embeddingCovariance(df: DataFrame, vec: String): DataFrame = {
    // Uniform-dimension guard: the position→(i,j) decode below fixes d
    // from ONE row, so a mixed-length corpus would silently assign
    // products to wrong cells — fail loudly instead. d comes from a
    // 1-row pull (one split read, not a corpus scan); every corpus row is
    // then length-checked inside the accumulation pass itself —
    // uniformity is enforced at full corpus coverage for zero extra
    // passes.
    val dRow = df.select(size(col(vec)).as("d")).limit(1).collect()
    val dLit = if (dRow.isEmpty) 0 else dRow(0).getInt(0)
    val spark = df.sparkSession
    import spark.implicits._
    val v6 = df.select(transform(col(vec), x =>
      round(x.cast("double") * 1e6).cast("long")).as("v6"))
    // HOT PATH (r16 rewrite; the sanctioned imperative-per-partition
    // class, SuffixIndex's object doc): ONE mapPartitions pass
    // accumulates the d(d+1)/2 upper-triangle product sums, the d per-dim
    // sums, and the row count into per-partition LONG arrays, emitting
    // d(d+1)/2 + d + 1 partial rows per partition. The previous form —
    // posexplode over a per-row nested-HOF product array into a
    // corpus×2080-row hash aggregate — kept the exchange tiny (map-side
    // combine) but paid interpreted higher-order-function evaluation per
    // element (HOFs do not whole-stage-codegen) plus one Decimal
    // conversion and one aggregate hash probe per element: measured 2.8 s
    // (q176) for 2000×2080 cells at sf0.1, ~60 ns/element of pure
    // overhead against ~1 ns of real multiply-add. This pass does the
    // same integer arithmetic order-free (sums of longs, flushed exactly
    // into BigInteger on overflow via addExact/multiplyExact — beyond
    // ~9e6 unit-norm rows per partition a cell's long range saturates, so
    // exactness never depends on row count), and the exchange carries
    // only the per-partition partials exactly as before. Emitted partial
    // values travel as STRINGS and are cast to DECIMAL(38,0) — exact for
    // any magnitude the 38-digit doctrine already assumed.
    val d = dLit
    val nTri = d * (d + 1) / 2
    val guardMsg = s"embeddingCovariance: mixed vector lengths (first row d=$dLit, got "
    val partialRows = v6.select(col("v6")).as[Array[Long]].mapPartitions { it =>
      val sxy = new Array[Long](nTri)
      val sx = new Array[Long](d)
      // exact overflow spill (null = zero): the common path never touches it
      val sxyBig = new Array[java.math.BigInteger](nTri)
      val sxBig = new Array[java.math.BigInteger](d)
      def spillTri(k: Int, v: java.math.BigInteger): Unit = {
        val cur = if (sxyBig(k) == null) java.math.BigInteger.ZERO else sxyBig(k)
        sxyBig(k) = cur.add(java.math.BigInteger.valueOf(sxy(k))).add(v)
        sxy(k) = 0L
      }
      var n = 0L
      while (it.hasNext) {
        val v = it.next()
        if (v.length != d) throw new IllegalStateException(
          guardMsg + v.length + ") — covariance cells are positional; pad " +
            "or filter to a uniform dimension first")
        n += 1
        var i = 0
        var k = 0
        while (i < d) {
          val xi = v(i)
          try sx(i) = Math.addExact(sx(i), xi)
          catch { case _: ArithmeticException =>
            val cur = if (sxBig(i) == null) java.math.BigInteger.ZERO else sxBig(i)
            sxBig(i) = cur.add(java.math.BigInteger.valueOf(sx(i)))
            sx(i) = xi
          }
          var j = i
          while (j < d) {
            try {
              val p = Math.multiplyExact(xi, v(j))
              try sxy(k) = Math.addExact(sxy(k), p)
              catch { case _: ArithmeticException =>
                spillTri(k, java.math.BigInteger.ZERO); sxy(k) = p }
            } catch { case _: ArithmeticException =>
              spillTri(k, java.math.BigInteger.valueOf(xi)
                .multiply(java.math.BigInteger.valueOf(v(j))))
            }
            j += 1; k += 1
          }
          i += 1
        }
      }
      def cell(arr: Array[Long], big: Array[java.math.BigInteger], k: Int): String = {
        val b = if (big(k) == null) java.math.BigInteger.ZERO else big(k)
        b.add(java.math.BigInteger.valueOf(arr(k))).toString
      }
      Iterator.tabulate(nTri)(k => (0, k, cell(sxy, sxyBig, k))) ++
        Iterator.tabulate(d)(i => (1, i, cell(sx, sxBig, i))) ++
        Iterator.single((2, 0, n.toString))
    }.toDF("_pk", "pos", "_pv")
      .withColumn("_pv", col("_pv").cast("decimal(38,0)"))
    // ONE corpus pass total: the partials relation is partition-count-
    // bounded (32×(2080+64+1) rows here), so materialize it once behind a
    // lineage barrier and let all three consumers below read blocks — the
    // return-and-forget lifecycle (nearDupPairs doctrine).
    val partials = Dedup.truncateLineage(partialRows)
    val nDf = partials.filter(col("_pk") === 2)
      .agg(sum(col("_pv")).cast("long").as("n"))
    val prods = partials.filter(col("_pk") === 0)
      .groupBy(col("pos")).agg(sum(col("_pv")).as("sxy"))
      .crossJoin(broadcast(nDf))
    val dimSums = partials.filter(col("_pk") === 1)
      .groupBy(col("pos").as("dim")).agg(sum(col("_pv")).as("s"))
    // position → (i, j) mapping: same nested-sequence shape as the old
    // product expansion, evaluated once over a single literal row
    val dc = size(col("v6"))
    val posMap = v6.limit(1)
      .select(posexplode(flatten(transform(sequence(lit(0), dc - 1), i =>
        transform(sequence(i, dc - 1), j => struct(i.as("i"), j.as("j")))))))
      .select(col("pos"), col("col.i").as("i"), col("col.j").as("j"))
    prods.join(broadcast(posMap), "pos")
      .join(broadcast(dimSums.select(col("dim").as("i"), col("s").as("sx"))), "i")
      .join(broadcast(dimSums.select(col("dim").as("j"), col("s").as("sy"))), "j")
      .select(col("i"), col("j"),
        r6(((col("n").cast("decimal(38,0)") * col("sxy") -
          col("sx") * col("sy")).cast("double") /
          (col("n") * col("n")).cast("double")) / 1e12).as("cov"))
  }

  /** std::round semantics (half AWAY from zero) without the classic
    * floor(x+0.5) double-rounding bug — mirrors Spark's `round` and
    * DuckDB's `round(DOUBLE)` exactly, so driver-side arithmetic can be
    * replayed by the oracle bit-for-bit. */
  private def roundAwayToLong(z: Double): Long = {
    val f = math.floor(math.abs(z))
    val mag = if (math.abs(z) - f >= 0.5) f + 1.0 else f
    (if (z < 0) -mag else mag).toLong
  }

  /** TOP PRINCIPAL COMPONENT of an embedding column by power iteration
    * over [[embeddingCovariance]]'s matrix — the back half of the
    * PCA/whitening pair (the covariance scaladoc's "front half"). The
    * corpus-scale work is the covariance pass (one map-side-combinable
    * groupBy, measured at 10×); the d×d cell relation it produces is
    * codebook-bounded (64 dims → 2080 cells), so the eigen-solve runs on
    * the DRIVER over the collected cells — the same shape as Spark
    * MLlib's `computePrincipalComponents` (Gramian to the driver), and a
    * bounded collect of the documented dictionary class.
    *
    * Cross-engine determinism (the reason this is NOT plain float
    * LAPACK): the matrix is 6-decimal fixed-point longs, each iteration
    * is an EXACT long matrix-vector product, and normalization divides
    * by the max-|y| element (an exact long max — no sum-of-squares, so
    * no 128-bit→double cast whose rounding differs between engines) with
    * one double multiply+divide+round on exactly-representable inputs —
    * every step lands on identical doubles in the oracle's unrolled CTE
    * replay. Max-abs normalization converges to the same dominant
    * eigendirection as L2 (scale never affects the argmax direction);
    * the output is max-normed: max |weight| = 1. */
  def topPrincipalComponent(df: DataFrame, vec: String, iters: Int = 12)
    : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val x = topPcMicro(df, vec, iters)
    x.zipWithIndex.map { case (v, i) => (i, v / 1e6) }.toSeq.toDF("dim", "weight")
  }

  /** The power-iteration walk in raw 6-decimal fixed-point micro units —
    * shared by [[topPrincipalComponent]] (reports weight = x/1e6) and
    * [[pcProjection]] (dots the micro vector against row micro units so
    * the projection sum stays an exact long). Empty input → empty. */
  private def topPcMicro(df: DataFrame, vec: String, iters: Int): Array[Long] = {
    val cells = embeddingCovariance(df, vec).collect()
    if (cells.isEmpty) return Array.empty[Long]
    val d = cells.iterator.map(_.getInt(1)).max + 1
    val a = Array.ofDim[Long](d, d)
    cells.foreach { r =>
      val v = roundAwayToLong(r.getDouble(2) * 1e6)
      a(r.getInt(0))(r.getInt(1)) = v
      a(r.getInt(1))(r.getInt(0)) = v
    }
    var x = Array.fill(d)(1000000L)
    var it = 0
    while (it < iters) {
      val y = Array.tabulate(d) { i =>
        var s = 0L; var j = 0
        while (j < d) { s += a(i)(j) * x(j); j += 1 }
        s
      }
      val m = y.iterator.map(math.abs).max
      if (m == 0L) it = iters // degenerate zero matrix: keep current x
      else { x = y.map(v => roundAwayToLong(v.toDouble * 1e6 / m.toDouble)); it += 1 }
    }
    x
  }

  /** Per-row PROJECTION onto the top principal component — the PCA score
    * used for embedding-space outlier review, curriculum ordering, or as
    * a 1-d sketch of the corpus's dominant axis of variation. The PC is
    * solved once on the driver ([[topPcMicro]]); the projection is then
    * a ROW-LOCAL codegen'd dot product of each row's micro units against
    * the ≤d-element literal micro vector — no join, no shuffle, scales
    * as one narrow corpus pass. Exact long sum (|Σ v·x| ≤ d·10¹²), one
    * double divide + r6 at the end — oracle-identical. */
  def pcProjection(df: DataFrame, id: String, vec: String, iters: Int = 12)
    : DataFrame = {
    val xmicro = topPcMicro(df, vec, iters).toSeq
    val v6 = transform(col(vec), x =>
      round(x.cast("double") * 1e6).cast("long"))
    df.select(col(id),
      r6(aggregate(zip_with(v6, typedLit(xmicro), (a, b) => a * b),
        lit(0L), _ + _).cast("double") / 1e12).as("pc_score"))
  }

  /** MEAN-POOL an embedding column per group — chunk vectors to a
    * document vector (the retrieval-prep step between chunk embedding
    * and doc-level indexing), or members to a cluster centroid for
    * export. Exact and order-free: each dimension sums the 6-decimal
    * micro units as longs (map-side combinable, no float accumulation
    * order anywhere), then one double divide per (group, dim), r6.
    * Output is RELATIONAL — (group_key, dim, value) rows — so the gate
    * hashes scalars, and a consumer rebuilds arrays only where it needs
    * them (per-cell state stays 8 bytes; no per-group array rebuild in
    * the aggregate). */
  def meanPoolVectors(df: DataFrame, group: Column, vec: String): DataFrame =
    df.select(group.as("group_key"),
        posexplode(transform(col(vec), x =>
          round(x.cast("double") * 1e6).cast("long"))))
      .groupBy(col("group_key"), col("pos").as("dim"))
      .agg(count(lit(1)).as("n"), sum(col("col")).as("s"))
      .select(col("group_key"), col("dim"),
        r6((col("s").cast("double") / col("n").cast("double")) / 1e6)
          .as("value"))

  /** Pairwise COSINE BETWEEN GROUP CENTROIDS of an embedding column — the
    * embedding-drift / cluster-similarity monitor (are two sources, two
    * crawl snapshots, or two k-means clusters converging?). Exact and
    * scale-invariant: cosine(mean_a, mean_b) = cosine(sum_a, sum_b), so
    * no division by n ever happens — the dot products run on the integer
    * micro-unit SUM vectors directly (order-free DECIMAL cells), and the
    * only float ops are the final sqrt+divide, rounded r6.
    *
    * Plan: one groupBy((label, dim)) over the posexploded micro units
    * (|labels|·d fixed cells, map-side combinable — corpus rows never
    * pair-join), then self-dots and cross-dots on the |labels|·d
    * relation, which is broadcast-sized by construction. */
  def labelCentroidCosine(df: DataFrame, label: String, vec: String)
    : DataFrame = {
    val sums = df
      .select(col(label).as("lbl"), posexplode(transform(col(vec), x =>
        round(x.cast("double") * 1e6).cast("long"))))
      .groupBy(col("lbl"), col("pos"))
      .agg(sum(col("col").cast("decimal(38,0)")).as("s"))
    val norms = sums.groupBy(col("lbl"))
      .agg(sum(col("s") * col("s")).as("s2"))
    val a = sums.select(col("lbl").as("label_a"), col("pos"), col("s").as("sa"))
    val b = sums.select(col("lbl").as("label_b"), col("pos"), col("s").as("sb"))
    a.join(b, "pos").filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(col("sa") * col("sb")).as("dot"))
      .join(norms.select(col("lbl").as("label_a"), col("s2").as("na2")), "label_a")
      .join(norms.select(col("lbl").as("label_b"), col("s2").as("nb2")), "label_b")
      .select(col("label_a"), col("label_b"),
        r6(col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
          .as("cosine"))
  }

  /** Top principal direction from a covariance matrix via POWER ITERATION
    * on the driver — the matrix is d² doubles (a 64-dim embedding's
    * matrix is 32 KB; the codebook-pull class of sanctioned collect, like
    * q147's PQ codebooks), so iterating distributedly would be theater.
    * Deterministic: starts from e_0 + tiny uniform tilt, fixed iteration
    * count, sign-normalized so the first nonzero component is positive.
    * Returns the unit eigenvector; spec-pinned against a known 2×2. */
  def topPrincipalDirection(upperTri: Array[(Int, Int, Double)],
                            d: Int, iters: Int = 64): Array[Double] = {
    val m = Array.ofDim[Double](d, d)
    upperTri.foreach { case (i, j, c) => m(i)(j) = c; m(j)(i) = c }
    var x = Array.tabulate(d)(i => if (i == 0) 1.0 else 1e-3 / (i + 1))
    var it = 0
    while (it < iters) {
      val y = Array.tabulate(d)(i => {
        var s = 0.0; var k = 0
        while (k < d) { s += m(i)(k) * x(k); k += 1 }
        s
      })
      val nrm = math.sqrt(y.map(a => a * a).sum)
      if (nrm == 0) return x // zero matrix: any unit vector; keep start
      x = y.map(_ / nrm)
      it += 1
    }
    val lead = x.find(math.abs(_) > 1e-12).getOrElse(1.0)
    if (lead < 0) x.map(-_) else x
  }

  /** MARGIN-based top-match mining (the bitext / cross-source alignment
    * criterion of LASER/CCMatrix, absolute-margin form): for each query
    * vector, the best corpus match is accepted only if its cosine beats
    * the SECOND-best by at least `marginMicro`·1e-6 — the second-best
    * acts as a per-query noise floor, killing hubness false positives
    * that a bare threshold lets through (a "hub" vector close to
    * everything has best ≈ second → margin ≈ 0 → rejected).
    *
    * Determinism: per-pair cosines are r6'd (the q47 doctrine); best and
    * second are picked by (cosine DESC, cand_id) so best ≥ second always
    * and the margin — a double subtraction of two identical-on-both-
    * engines operands — is nonnegative (no signed-zero exposure) and
    * bit-identical cross-engine. A query with <2 candidates gets NULL
    * second/margin and is not accepted (no noise floor = no evidence).
    *
    * Scale: this is the EXACT variant — query set broadcast against the
    * corpus (the bruteForceTopK regime: queries bounded, corpus
    * streamed, WindowGroupLimit keeps 2 rows per partition before the
    * rank exchange). At a billion-pair workload, shortlist first
    * (lshTopK / ivfTopK / pqTopK) and run this margin rule on the
    * shortlist — the criterion only ever needs the top 2. */
  def marginTopMatch(queries: DataFrame, corpus: DataFrame,
                     marginMicro: Long = 10000L): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = corpus.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    val scored = broadcast(q).join(c, col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        r6(cosine(col("qv"), col("cv"))).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .groupBy(col("query_id"))
      .agg(max(when(col("rk") === 1, col("cand_id"))).as("best_id"),
        max(when(col("rk") === 1, col("cosine"))).as("best_cos"),
        max(when(col("rk") === 2, col("cosine"))).as("second_cos"))
      .select(col("query_id"), col("best_id"), col("best_cos"), col("second_cos"),
        r6(col("best_cos") - col("second_cos")).as("margin"),
        when(col("second_cos").isNotNull &&
          r6(col("best_cos") - col("second_cos")) >=
            lit(marginMicro).cast("double") / 1000000.0, 1).otherwise(0)
          .as("accepted"))
  }

  /** Maximal-marginal-relevance selection: pick `k` items that balance
    * RELEVANCE against DIVERSITY (Carbonell & Goldstein 1998). Greedy:
    * the first pick is the max-relevance item; each next pick maximizes
    * `λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s)` over the unselected
    * candidates (ties → smaller id). The standard shape for building an
    * eval slice or annotation batch that COVERS a corpus instead of
    * sampling one dense cluster k times.
    *
    * Shape: k driver rounds, each ONE narrow distributed pass — the
    * selected set is ≤ k vectors, shipped as ONE literal
    * array<array<float>> argument to the codegen'd graft_max_r6_cosine
    * kernel (no join, no shuffle; the scan + TakeOrdered(1) is the
    * whole step), and each round collects exactly one row (a k-bounded
    * driver collect, the partition-offset class). The kernel replaces
    * the earlier `greatest(r6(cos(emb, s₁)), …)` chain, whose
    * expression tree grew O(k) and plan compile ~O(k²) per round
    * (MaxCosineKernelSpec pins value equivalence — same accumulation,
    * same HALF_UP r6, same max). `cands` must be PRE-CAPPED by the
    * caller (top-N relevance via [[bruteForceTopK]]/[[ivfPqTopK]] —
    * selection never scans the corpus; it refines a bounded
    * shortlist).
    *
    * Cross-engine parity: rel is caller-supplied (r6), pair cosines are
    * r6-rounded, and with the default λ = 0.5 the score arithmetic is
    * exact halving + IEEE subtraction — both engines order identical
    * doubles. Output: (rank, vec_id, score r6). */
  def mmrSelect(cands: DataFrame, k: Int, lambda: Double = 0.5): DataFrame = {
    val spark = cands.sparkSession
    val base = cands.select(col("vec_id").cast("long"),
      col("embedding"), col("rel").cast("double"))
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    val pickedVecs = scala.collection.mutable.ArrayBuffer.empty[Seq[Float]]
    var step = 1
    while (step <= k) {
      val score =
        if (pickedVecs.isEmpty) col("rel")
        else {
          val maxSim = call_function("graft_max_r6_cosine",
            col("embedding"), typedLit(pickedVecs.toSeq))
          col("rel") * lambda - maxSim * (1.0 - lambda)
        }
      val top = base.filter(!col("vec_id").isInCollection(picked.map(_._2)))
        .select(col("vec_id"), col("embedding"), score.as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(1).collect()
      if (top.isEmpty) step = k + 1
      else {
        val r = top(0)
        picked += ((step, r.getLong(0), r.getDouble(2)))
        pickedVecs += r.getSeq[Float](1)
        step += 1
      }
    }
    import spark.implicits._
    picked.toSeq.toDF("rank", "vec_id", "score")
      .select(col("rank"), col("vec_id"), r6(col("score")).as("score"))
  }
}
