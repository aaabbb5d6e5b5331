package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.operators._
import graft.operators.TextHashing._

/**
 * Training-data pipeline operators (beyond the reference, which is pure
 * OLAP): deduplication (exact / n-gram Jaccard / MinHash-LSH / SimHash /
 * embedding-cosine), similarity search (brute-force + sign-LSH ANN), text
 * analysis (language ID, quality, token counts, fingerprints), and
 * multimodal binary-column plumbing. Implementations in graft.operators;
 * this pack wires them to the documents/embeddings tables with DuckDB
 * oracles built from the SAME hash constants (TextHashing) so the approx
 * algorithms are verified bit-for-bit, not just smoke-tested.
 */
object PipelineQueries extends QueryPack {

  // Shared DuckDB CTE: distinct 3-gram shingles + base hash per doc.
  // Parameterized on the source relation so planted-corpus oracles (q81)
  // can run the identical chain over documents ∪ planted rows.
  private def shingleCteOver(src: String) =
    s"""pos AS (
       |  SELECT doc_id, text, unnest(generate_series(1, greatest(length(text)-2,1))) AS i
       |  FROM $src
       |),
       |gr AS MATERIALIZED (SELECT DISTINCT doc_id, substr(text, i, 3) AS g FROM pos),
       |hs AS (SELECT doc_id, CAST(${gramHashSql("g")} AS BIGINT) AS h FROM gr)""".stripMargin
  private val shingleCte = shingleCteOver("documents")

  // Shared DuckDB CTE chain for the winnowing gates (q195/q196): token
  // 5-gram md5-48 hashes in position order, window-of-4 minima (the
  // degenerate <4-gram doc keeps one whole-doc window via greatest), and
  // the distinct selected set per doc. Mirrors
  // TextHashing.winnowFingerprints(text, 5, 4) step for step.
  private val winnowCtes =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |g0 AS (
       |  SELECT doc_id, i AS pos, md5(array_to_string(ts[i:i+4], ' ')) AS m
       |  FROM toks, unnest(range(1, len(ts) - 3)) AS r(i)
       |  WHERE len(ts) >= 5),
       |g AS (SELECT doc_id, pos,
       |             CAST(${graft.operators.TextAnalysis.hex48Sql("m")} AS BIGINT) AS h
       |      FROM g0),
       |wn AS (
       |  SELECT doc_id, pos,
       |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
       |         count(*) OVER (PARTITION BY doc_id) AS ng
       |  FROM g),
       |sel AS (SELECT DISTINCT doc_id, fp FROM wn
       |        WHERE pos <= greatest(ng - 3, 1))""".stripMargin

  private def minSqlColsFor(k: Int) =
    (0 until k).map(j => s"min(${minHashJSql("h", j)}) AS m$j").mkString(", ")
  private val minSqlCols = minSqlColsFor(LshBanding.Default.numHashes)

  // Wide-hash variant (codepoint shingles): mod-P reduction BEFORE the
  // affine map, mirroring TextHashing.minHashJWide.
  private val cpMinSqlCols =
    MinHashParams.indices.map(j => s"min(${minHashJWideSql("h", j)}) AS m$j").mkString(", ")

  // bandSqlFor with the source relation name parameterized — the q202
  // probe oracle builds THREE band relations (char/token/cp) in one
  // query, so the fixed `FROM mh` of the pair-chain form can't serve.
  private def bandSqlOver(mhRel: String, banding: LshBanding) =
    (0 until banding.numBands).map { b =>
      val cols = (0 until banding.rowsPerBand)
        .map(r => s"m${b * banding.rowsPerBand + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws('-', $cols) AS sig FROM $mhRel"
    }.mkString(" UNION ALL ")

  private def bandSqlFor(banding: LshBanding) =
    (0 until banding.numBands).map { b =>
      val cols = (0 until banding.rowsPerBand)
        .map(r => s"m${b * banding.rowsPerBand + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws('-', $cols) AS sig FROM mh"
    }.mkString(" UNION ALL ")
  private val bandSql = bandSqlFor(LshBanding.Default)

  /** One BMP codepoint (0x80..0xFFFF) as a UTF-8 string — the q139
    * decode(unhex(conv)) construction generalized to 2-byte sequences, so
    * fixtures can synthesize Cyrillic/Greek as well as CJK. Mirrors the
    * oracle's chr(cp). */
  private def utf8Chr(cp: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val b2 = (lit(192L) + shiftright(cp, 6)) * lit(256L) +
      (lit(128L) + cp % lit(64L))
    val b3 = (lit(224L) + shiftright(cp, 12)) * lit(65536L) +
      (lit(128L) + shiftright(cp, 6) % lit(64L)) * lit(256L) +
      (lit(128L) + cp % lit(64L))
    decode(unhex(conv(when(cp < 2048L, b2).otherwise(b3), 10, 16)), "UTF-8")
  }

  // Full MinHash-LSH pair pipeline as a CTE chain ending in
  // pr(id_a, id_b, jaccard) — shared by the q44/q44b/q66 oracles; the
  // banding parameter replays the SCALED (6 bands × 5 rows) profile for
  // q194 from the same generator.
  // MATERIALIZED on the heavy links: DuckDB inlines non-materialized CTEs
  // per REFERENCE, so q66/q174's `edges` (which reads pr twice) and the
  // recursive reach (which re-reads edges per iteration) were re-running
  // the candidate×gram inter join — ~1e9 rows at sf0.1 — several times
  // over, exhausting 200+ GB of spill. Pinning pr (and its feeders) makes
  // the chain evaluate once; the pr relation itself is pair-count-sized.
  private def minhashPairsCtesOver(src: String,
      banding: LshBanding = LshBanding.Default) =
    s"""${shingleCteOver(src)},
       |mh AS MATERIALIZED (SELECT doc_id, ${minSqlColsFor(banding.numHashes)} FROM hs GROUP BY doc_id),
       |bands AS (${bandSqlFor(banding)}),
       |cand AS MATERIALIZED (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b FROM bands x
       |         JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM gr GROUP BY doc_id),
       |inter AS (SELECT id_a, id_b, count(*) AS inter FROM cand
       |          JOIN gr a ON a.doc_id = id_a
       |          JOIN gr b ON b.doc_id = id_b AND a.g = b.g
       |          GROUP BY id_a, id_b),
       |pr AS MATERIALIZED (
       |  SELECT id_a, id_b, inter*1.0/(sa.n + sb.n - inter) AS jaccard
       |  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE inter*1.0/(sa.n + sb.n - inter) >= 0.7)""".stripMargin
  private val minhashPairsCtes = minhashPairsCtesOver("documents")

  // TOKEN-shingle variant of the pair chain (q199): token k-shingles in
  // place of char 3-grams, md5-48 gram hashes (wide ⇒ the mod-P-first
  // minhash family), hash-set Jaccard in the verify. Same banding/
  // candidate skeleton; the degenerate <k-token doc keeps ONE whole-doc
  // shingle via greatest(…, 2) on the range bound, mirroring the Spark
  // side's greatest(size−k+1, 1).
  private def tokenMinhashPairsCtes(banding: LshBanding, k: Int,
                                    src: String = "documents") = {
    val wideMin = (0 until banding.numHashes)
      .map(j => s"min(${minHashJWideSql("h", j)}) AS m$j").mkString(", ")
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM $src),
       |tg AS (SELECT doc_id, array_to_string(ts[i:i+${k - 1}], ' ') AS g
       |       FROM toks, unnest(range(1, greatest(len(ts) - ${k - 2}, 2))) AS r(i)),
       |hs AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |         CAST(${graft.operators.TextAnalysis.md5Hash48Sql("g")} AS BIGINT) AS h
       |  FROM tg),
       |mh AS MATERIALIZED (SELECT doc_id, $wideMin FROM hs GROUP BY doc_id),
       |bands AS (${bandSqlFor(banding)}),
       |cand AS MATERIALIZED (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b FROM bands x
       |         JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM hs GROUP BY doc_id),
       |inter AS (SELECT id_a, id_b, count(*) AS inter FROM cand
       |          JOIN hs a ON a.doc_id = id_a
       |          JOIN hs b ON b.doc_id = id_b AND a.h = b.h
       |          GROUP BY id_a, id_b),
       |pr AS MATERIALIZED (
       |  SELECT id_a, id_b, inter*1.0/(sa.n + sb.n - inter) AS jaccard
       |  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE inter*1.0/(sa.n + sb.n - inter) >= 0.7)""".stripMargin
  }

  // recommendProfile replay as a CTE chain ending in `${p}sel`
  // (profile, na_num, na_den, n, universe, half_seen, est) — the q202
  // oracle's body, with every CTE name prefixed so q203 can compose it
  // with a full pair chain (whose toks/hs/mh/bands/cand names would
  // otherwise collide). One definition, two consumers: q202 gates the
  // probe's DECISION, q203 gates the decision ACTED ON.
  private def probeDecisionCtes(p: String, src: String = "documents") =
    s"""${p}smp AS MATERIALIZED (
       |  SELECT doc_id, text AS t,
       |         (${graft.operators.TextAnalysis.md5Hash48Sql("text")} % 2 = 0) AS half
       |  FROM $src
       |  WHERE text IS NOT NULL AND length(text) > 0
       |  ORDER BY ${graft.operators.TextAnalysis.md5Hash48Sql("text")}, doc_id
       |  LIMIT 2048),
       |${p}na AS (SELECT
       |  CAST(coalesce(sum(length(regexp_replace(t, '[\\x00-\\x7F]', '', 'g'))), 0) AS BIGINT) AS na_num,
       |  CAST(coalesce(sum(length(t)), 0) AS BIGINT) AS na_den,
       |  CAST(count(*) AS BIGINT) AS n
       |  FROM ${p}smp),
       |${p}pos AS (SELECT doc_id, t, half,
       |               unnest(generate_series(1, greatest(length(t)-2, 1))) AS i
       |        FROM ${p}smp),
       |${p}gr AS MATERIALIZED (SELECT DISTINCT doc_id, half, substr(t, i, 3) AS g
       |                    FROM ${p}pos),
       |${p}hs AS MATERIALIZED (SELECT doc_id, half,
       |                           CAST(${gramHashSql("g")} AS BIGINT) AS h
       |                    FROM ${p}gr),
       |${p}uni AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS universe,
       |               CAST(coalesce(count(DISTINCT h) FILTER (WHERE half), 0) AS BIGINT) AS half_seen
       |        FROM ${p}hs),
       |${p}mhc AS (SELECT doc_id, ${minSqlColsFor(LshBanding.Scaled.numHashes)}
       |        FROM ${p}hs GROUP BY doc_id),
       |${p}bndc AS (${bandSqlOver(s"${p}mhc", LshBanding.Scaled)}),
       |${p}estc AS (SELECT CAST(coalesce(sum(cnt*(cnt-1)//2), 0) AS BIGINT) AS e
       |         FROM (SELECT count(*) AS cnt FROM ${p}bndc GROUP BY band, sig)),
       |${p}tts AS (SELECT doc_id, string_split(t, ' ') AS ts FROM ${p}smp),
       |${p}ttg AS (SELECT doc_id, array_to_string(ts[i:i+2], ' ') AS g
       |        FROM ${p}tts, unnest(range(1, greatest(len(ts) - 1, 2))) AS r(i)),
       |${p}ths AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |         CAST(${graft.operators.TextAnalysis.md5Hash48Sql("g")} AS BIGINT) AS h
       |  FROM ${p}ttg),
       |${p}mht AS (SELECT doc_id, ${(0 until LshBanding.Scaled.numHashes)
                  .map(j => s"min(${minHashJWideSql("h", j)}) AS m$j").mkString(", ")}
       |        FROM ${p}ths GROUP BY doc_id),
       |${p}bndt AS (${bandSqlOver(s"${p}mht", LshBanding.Scaled)}),
       |${p}estt AS (SELECT CAST(coalesce(sum(cnt*(cnt-1)//2), 0) AS BIGINT) AS e
       |         FROM (SELECT count(*) AS cnt FROM ${p}bndt GROUP BY band, sig)),
       |${p}chs AS (SELECT doc_id, CAST(${cpGramHashSql("g")} AS BIGINT) AS h FROM ${p}gr),
       |${p}mhcp AS (SELECT doc_id, $cpMinSqlCols FROM ${p}chs GROUP BY doc_id),
       |${p}bndcp AS (${bandSqlOver(s"${p}mhcp", LshBanding.Default)}),
       |${p}estcp AS (SELECT CAST(coalesce(sum(cnt*(cnt-1)//2), 0) AS BIGINT) AS e
       |          FROM (SELECT count(*) AS cnt FROM ${p}bndcp GROUP BY band, sig)),
       |${p}dec AS (SELECT CASE WHEN na.na_num*10 >= na.na_den*3 THEN 'codepoint'
       |                    WHEN uni.universe > 0
       |                         AND (uni.universe - uni.half_seen)*50 < uni.universe THEN 'token'
       |                    ELSE 'char' END AS profile,
       |               na.na_num, na.na_den, na.n, uni.universe, uni.half_seen
       |        FROM ${p}na na, ${p}uni uni),
       |${p}sel AS (SELECT d.*,
       |               CASE d.profile WHEN 'char' THEN (SELECT e FROM ${p}estc)
       |                              WHEN 'token' THEN (SELECT e FROM ${p}estt)
       |                              ELSE (SELECT e FROM ${p}estcp) END AS est
       |        FROM ${p}dec d)""".stripMargin

  // aHash replay shared by the q121/q121b/q125 oracles: BMP fill
  // pattern -> gray sums -> floor grid -> cross-multiplied threshold
  // bits -> two 32-bit hash halves. One definition, three consumers --
  // a stride/formula fix lands everywhere at once.
  private val aHashCtes =
    """imgs AS (
      |  SELECT doc_id, CAST(16 + (doc_id*13) % 48 AS BIGINT) AS w,
      |         CAST(16 + (doc_id*29) % 32 AS BIGINT) AS h
      |  FROM documents WHERE doc_id % 6 = 0),
      |py AS (SELECT doc_id, w, h,
      |              unnest(generate_series(0, h - 1)) AS y FROM imgs),
      |pyx AS (SELECT *, unnest(generate_series(0, w - 1)) AS x FROM py),
      |g AS (SELECT doc_id, w, h,
      |             (y * 8) // h * 8 + (x * 8) // w AS k,
      |             (3*x + 7*y + doc_id) % 251
      |             + (3*x + 1 + 7*y + doc_id) % 251
      |             + (3*x + 2 + 7*y + doc_id) % 251 AS gval
      |      FROM pyx),
      |cells AS (SELECT doc_id, w, h, k, CAST(sum(gval) AS BIGINT) AS cs,
      |                 CAST(count(*) AS BIGINT) AS cn
      |          FROM g GROUP BY doc_id, w, h, k),
      |tot AS (SELECT doc_id, CAST(sum(cs) AS BIGINT) AS ts
      |        FROM cells GROUP BY doc_id),
      |bits AS (SELECT c.doc_id, c.w, c.h, c.k,
      |                CASE WHEN c.cs * c.w * c.h > t.ts * c.cn
      |                     THEN 1 ELSE 0 END AS bit
      |         FROM cells c JOIN tot t ON t.doc_id = c.doc_id),
      |hs AS (SELECT doc_id, w, h,
      |              CAST(sum(CASE WHEN k >= 32
      |                   THEN bit * (1::BIGINT << (k - 32)) ELSE 0 END)
      |                   AS BIGINT) AS hash_hi,
      |              CAST(sum(CASE WHEN k < 32
      |                   THEN bit * (1::BIGINT << k) ELSE 0 END)
      |                   AS BIGINT) AS hash_lo,
      |              CAST(sum(bit) AS INT) AS n_bits
      |       FROM bits GROUP BY doc_id, w, h)""".stripMargin


  // The q154 covariance chain + 12 unrolled power-iteration steps, shared
  // by the q176 (component) and q177 (projection) oracles. MATERIALIZED
  // pins each step to evaluate once — the inlined chain would replay the
  // scan 2^12 times (each x_k references y_k twice).
  private val pcIterChain = {
    // The m = 0 CASE mirrors topPcMicro's degenerate guard (zero y
    // vector → keep the previous iterate): on a constant-embedding
    // corpus both engines now hold x fixed instead of the oracle
    // dividing by zero — once y = A·x is all-zero it stays all-zero, so
    // the guard propagates identically through the remaining steps.
    val iterCtes = (1 to 12).map { k =>
      s"""y$k AS MATERIALIZED (SELECT a.i AS dim, sum(a.a * x${k - 1}.x) AS y
         |        FROM afull a JOIN x${k - 1} ON x${k - 1}.dim = a.j GROUP BY a.i),
         |m$k AS (SELECT max(abs(y)) AS m FROM y$k),
         |x$k AS MATERIALIZED (SELECT y$k.dim,
         |        CASE WHEN m$k.m = 0 THEN xp.x
         |             ELSE CAST(round(CAST(y$k.y AS DOUBLE) * 1000000.0 / CAST(m$k.m AS DOUBLE)) AS BIGINT)
         |        END AS x
         |        FROM y$k, m$k, x${k - 1} xp WHERE xp.dim = y$k.dim)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, embedding,
       |                unnest(generate_series(1, len(embedding))) AS i
       |         FROM embeddings),
       |u AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS i,
       |             CAST(round(CAST(embedding[i] AS DOUBLE)*1000000.0) AS BIGINT) AS v
       |      FROM e),
       |p AS (SELECT a.i AS i, b.i AS j, count(*) AS n,
       |             sum(CAST(a.v AS HUGEINT) * b.v) AS sxy,
       |             sum(CAST(a.v AS HUGEINT)) AS sx,
       |             sum(CAST(b.v AS HUGEINT)) AS sy
       |      FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
       |      GROUP BY a.i, b.i),
       |cov AS MATERIALIZED (SELECT i, j,
       |  round(CAST(CAST(n AS HUGEINT)*sxy - sx*sy AS DOUBLE)
       |        / (CAST(n AS DOUBLE)*n) / 1000000000000.0
       |        * 1000000.0)/1000000.0 + 0.0 AS cov
       |  FROM p),
       |afull AS MATERIALIZED (
       |  SELECT i, j, CAST(round(cov*1000000.0) AS BIGINT) AS a FROM cov
       |  UNION ALL
       |  SELECT j, i, CAST(round(cov*1000000.0) AS BIGINT) FROM cov WHERE i <> j),
       |x0 AS (SELECT DISTINCT i AS dim, CAST(1000000 AS BIGINT) AS x FROM afull),
       |$iterCtes""".stripMargin
  }

  private val clustersOracle =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (SELECT id_a AS u, id_b AS v FROM pr
       |          UNION SELECT id_b, id_a FROM pr),
       |reach(v, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.v)
       |SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS rep_id
       |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Exact dedup. The corpus has no byte-identical texts, so the
    // query plants copies (doc_id+100000) and the operator must find
    // exactly those groups.
    "q42_dedup_exact" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val planted = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 100000L)
      Dedup.exactDuplicates(docs.unionByName(planted), "doc_id", "text")
        .filter(col("n_copies") > 1)
        .select(col("keep_id"), col("n_copies"), col("text_md5"))
        .orderBy(col("keep_id"))
    }),

    // ---- Exact 3-gram Jaccard near-dup pairs (bounded corpus)
    "q43_dedup_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(load(s, dir, "documents"), "doc_id", "text", 0.7)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- MinHash-LSH near-dup pairs (the 100 TB path: signature →
    // banding → bucket join → verify candidates only)
    "q44_dedup_minhash_lsh" -> ((s, dir) => {
      Dedup.nearDupPairs(load(s, dir, "documents"), "doc_id", "text", 0.7).df
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Same pipeline forced down the over-budget fallback: candidates
    // joined to gram sets via two SHUFFLE_HASH joins instead of the
    // broadcast map. This is the plan that runs at 100 TB; the oracle is
    // identical to q44, proving the physical strategy cannot change answers.
    "q44b_dedup_minhash_shuffle" -> ((s, dir) => {
      Dedup.nearDupPairs(load(s, dir, "documents"), "doc_id", "text", 0.7,
          broadcastBudgetBytes = 0L).df
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Cluster formation over the near-dup pair graph: connected
    // components (large-star/small-star) map every doc in the q44 pair
    // graph to its cluster representative — the keep-one-per-cluster step
    // a real dedup pipeline runs after pairing. Oracle: DuckDB recursive
    // CTE computing min reachable id over the same pair set.
    "q66_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.nearDupPairs(load(s, dir, "documents"), "doc_id", "text", 0.7).df
      Dedup.connectedComponents(pairs).orderBy(col("doc_id"))
    }),

    // ---- Same clustering forced down the distributed large-star/small-star
    // path (smallGraphMaxEdges = 0): the plan that runs when the pair graph
    // exceeds the driver budget. Oracle identical to q66 — the budget gate
    // cannot change answers (q44/q44b relationship, for clustering).
    "q66b_dedup_clusters_dist" -> ((s, dir) => {
      val pairs = Dedup.nearDupPairs(load(s, dir, "documents"), "doc_id", "text", 0.7).df
      Dedup.connectedComponents(pairs, smallGraphMaxEdges = 0L).orderBy(col("doc_id"))
    }),

    // ---- SimHash fingerprints + Hamming≤1 pairs
    "q45_dedup_simhash" -> ((s, dir) => {
      Dedup.simHashPairs(
        Dedup.simHashFingerprints(load(s, dir, "documents"), "doc_id", "text"), 1)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Embedding-cosine near-dup pairs, scale path: sign-LSH bucket
    // equi-join with 1-bit multi-probe (6-bit buckets → ~9× candidate
    // reduction at sf0.01), then exact cosine on candidates only. The
    // synthetic embeddings top out near cosine 0.51, so 0.4 marks the
    // "suspiciously similar" tail. Recall vs the exact scan (q46b) is the
    // documented LSH trade.
    "q46_dedup_embed_cosine" -> ((s, dir) => {
      SimilaritySearch.cosineDupPairs(load(s, dir, "embeddings"), 0.4, 6)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Exact all-pairs variant (bounded-corpus demo; q46 is the scale
    // path, same relationship as q43 exact Jaccard vs q44 MinHash-LSH)
    "q46b_dedup_embed_exact" -> ((s, dir) => {
      SimilaritySearch.cosineDupPairsExact(load(s, dir, "embeddings"), 0.4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Brute-force cosine top-5 for 10 query vectors (exact ANN baseline)
    "q47_ann_topk" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      SimilaritySearch.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, 5)
        .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- Sign-LSH bucketed ANN (6-bit bucket → same-bucket candidates)
    "q48_ann_lsh" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      SimilaritySearch.lshTopK(emb.filter(col("vec_id") < 20), emb, 3, 6)
        .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- IVF ANN: deterministic coarse quantizer (sign-bucket centroids),
    // query probes the 4 nearest of 16 inverted lists — the recall fix over
    // q48's exact-bucket-only probing
    "q48b_ann_ivf" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      SimilaritySearch.ivfTopK(emb.filter(col("vec_id") < 20), emb, 3, 4, 4)
        .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- K-means with one Lloyd refinement over the deterministic
    // sign-bucket init (16 clusters). The oracle replays the ENTIRE
    // optimization — init centroids, first assignment, refined means,
    // final assignment — so a divergence anywhere in the iteration
    // breaks the hash. Per-cluster sum of ids + DECIMAL csim sum pins
    // exactly which vectors land where.
    "q84_kmeans_assign" -> ((s, dir) => {
      SimilaritySearch.kmeansAssign(load(s, dir, "embeddings"), 4, 1)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("vec_id")).as("sum_ids"),
          graft.Tables.dsum(col("csim")).as("sum_csim"))
        .orderBy(col("cid"))
    }),

    // ---- SemDeDup: same k-means partition, then pair-local greedy
    // dedup inside each cluster (drop a vector iff a smaller-id cluster
    // member is ≥0.4 rounded cosine). Cluster-bounded all-pairs is the
    // scale story: K bounds candidates the way LSH bands do in q46.
    "q85_semantic_dedup" -> ((s, dir) => {
      SimilaritySearch.semanticDedup(load(s, dir, "embeddings"), 4, 1, 0.4)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_kept"), sum(col("vec_id")).as("sum_ids"))
        .orderBy(col("cid"))
    }),

    // ---- Int8-style scalar-quantized ANN: global per-dim min/max →
    // integer codes 0..254, ranking on integer dot products (exact
    // arithmetic — the oracle matches the ranking bit-for-bit, unlike
    // any float-sum scheme). The 4× memory cut is the corpus-scale
    // story; recall vs exact float cosine is the documented trade.
    "q86_ann_quantized" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      SimilaritySearch.quantizedTopK(emb.filter(col("vec_id") < 20), emb, 3)
        .select(col("query_id"), col("rank"), col("cand_id"), col("qcos"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- Per-source cap (the per-domain guard of web curation):
    // at most 20 docs per source, chosen by crawl-stable content-hash
    // rank. Count + id-sum pins exactly WHICH docs survive.
    "q87_source_cap" -> ((s, dir) => {
      Sampling.capPerStratum(
          load(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
          col("source"), concat(col("text"), col("doc_id")), 20)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("source"))
    }),

    // ---- Token-budget capping: each source keeps its hash-order doc
    // prefix until 800 tokens. Count + id-sum + token-sum pins exactly
    // which docs fill the budget and where the prefix cuts off.
    "q89_token_budget" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      Sampling.capTokensPerStratum(docs, col("source"),
          concat(col("text"), col("doc_id")), col("n_toks"), 800L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"),
          sum(col("n_toks")).as("sum_tokens"))
        .orderBy(col("source"))
    }),

    // ---- Cross-source duplication matrix: distinct shared 3-gram
    // fingerprints per source pair, grams in >5 sources dropped (the
    // skew guard — exercised at this SF: grams reach 7 sources). No
    // gram self-join: one collect_set aggregation + row-local pair
    // expansion bounded by C(5,2).
    "q88_source_overlap" -> ((s, dir) => {
      Decontamination.crossSourceOverlap(
          load(s, dir, "documents"), "source", "text", 3, 5)
        .orderBy(col("src_a"), col("src_b"))
    }),

    // ---- Language-ID heuristic vs the labeled lang column
    "q49_lang_id" -> ((s, dir) => {
      TextAnalysis.langPredicted(load(s, dir, "documents"), "text", Seq("lang"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    }),

    // ---- Quality scoring columns
    "q50_text_quality" -> ((s, dir) => {
      load(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), col("n_chars"), length(col("text")).as("text_len"),
          TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
          TextAnalysis.meanWordLen(col("text")).as("mean_word_len"),
          TextAnalysis.wsTokenCount(col("text")).as("n_tokens"))
        .withColumn("quality",
          TextAnalysis.qualityScore(col("text_len"), col("punct_ratio"), col("mean_word_len")))
        .drop("text_len")
        .orderBy(col("doc_id"))
    }),

    // ---- Token counting: whitespace + BPE-ish regex tokenizer
    "q51_token_count" -> ((s, dir) => {
      load(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
          TextAnalysis.regexTokenCount(col("text")).as("regex_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ---- Content fingerprinting (normalized md5; positional hashes feed
    // MinHash in q44)
    "q52_fingerprint" -> ((s, dir) => {
      load(s, dir, "documents")
        .select(col("source"),
          TextAnalysis.contentFingerprint(col("text")).as("fp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_distinct"))
        .orderBy(col("source"))
    }),

    // ---- Multimodal: binary payload + batched stub decode via typed
    // Dataset mapPartitions (see operators.Multimodal)
    "q53_multimodal_decode" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(s, load(s, dir, "documents"))
      Multimodal.decodeFeatures(media, 32).toDF()
        .select(col("media_id"), col("kind"), col("source"),
          col("byte_len"), col("width"), col("height"), col("frames"))
        .orderBy(col("media_id"))
    }),

    // ---- Deterministic content-keyed split assignment + hash sampling:
    // bucket on the content fingerprint (duplicates land in the SAME
    // split — no train/test contamination via re-crawled copies), 80/10/10
    // split, 1% sample membership. sum_bucket pins the hash values
    // themselves, not just the counts.
    "q67_split_assign" -> ((s, dir) => {
      val bucket = Sampling.splitBucket(TextAnalysis.contentFingerprint(col("text")))
      load(s, dir, "documents")
        .select(col("source"), bucket.as("bucket"))
        .withColumn("split", Sampling.assignSplit(col("bucket")))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("bucket")).as("sum_bucket"),
          count(when(col("bucket") < 100, 1)).as("n_sample1pct"))
        .orderBy(col("source"), col("split"))
    }),

    // ---- Gopher-style repetition filters over whitespace tokens. Both
    // metrics are per-doc, so the WHOLE stage is row-local: dup-token
    // fraction from array arithmetic, top-bigram count from the
    // graft_top_bigram_count kernel — no explode, no groupBy, no join;
    // the only exchange is the output sort (plan-audited). The aggregate
    // formulation lives in TopBigramSpec as the kernel's oracle.
    "q68_repetition" -> ((s, dir) => {
      load(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), size(col("toks")).as("n_tokens"),
          TextAnalysis.dupTokenFraction(col("toks")).as("dup_token_frac"),
          call_function("graft_top_bigram_count", col("toks")).as("top_cnt"))
        .select(col("doc_id"), col("n_tokens"), col("dup_token_frac"),
          TextAnalysis.topBigramFraction(col("top_cnt"), col("n_tokens")).as("top_bigram_frac"))
        .withColumn("repetitive",
          col("dup_token_frac") > 0.5 || col("top_bigram_frac") > 0.2)
        .orderBy(col("doc_id"))
    }),

    // ---- PII scrub: the corpus contains no PII, so the query PLANTS
    // emails/URLs deterministically (same device as q42's planted dups),
    // then counts matches and fingerprints the redacted text — proving
    // detection AND redaction against the oracle's independent regex
    // engine (RE2 vs Java regex: the pattern subset is chosen to agree).
    "q69_pii_scrub" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      load(s, dir, "documents").filter(col("doc_id") < 300)
        .withColumn("text2",
          concat(col("text"),
            when(col("doc_id") % 5 === 0,
              concat(lit(" contact user"), id, lit("@mail.example.com now")))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              concat(lit(" see https://data.example.org/doc/"), id, lit(" today")))
              .otherwise(lit(""))))
        .select(col("doc_id"),
          TextAnalysis.patternCount(col("text2"), TextAnalysis.EmailRe).as("n_emails"),
          TextAnalysis.patternCount(col("text2"), TextAnalysis.UrlRe).as("n_urls"),
          md5(TextAnalysis.redactPii(col("text2"))).as("redacted_fp"))
        .orderBy(col("doc_id"))
    }),

    // ---- Corpus-statistics quality scoring: mean token rarity (N/cnt,
    // the deterministic unigram-surprisal stand-in). Two-pass shape:
    // vocabulary aggregation (one token-keyed shuffle), then the
    // zipf-bounded vocab broadcast back over the corpus — pass 2 is
    // shuffle-free on the corpus side (plan-audited).
    "q70_token_rarity" -> ((s, dir) => {
      TextAnalysis.tokenRarity(load(s, dir, "documents"), "doc_id", "text")
        .filter(col("doc_id") < 200)
        .orderBy(col("doc_id"))
    }),

    // ---- Same scoring forced down the over-budget fallback: vocabulary
    // joined back via SHUFFLE_HASH instead of broadcast — the plan that
    // runs when a web-scale corpus's distinct-token set exceeds the
    // broadcast budget. Oracle identical to q70 (the q44/q44b, q66/q66b
    // pattern): the byte gate cannot change answers.
    "q70b_token_rarity_shuffle" -> ((s, dir) => {
      TextAnalysis.tokenRarity(load(s, dir, "documents"), "doc_id", "text",
          broadcastBudgetBytes = 0L)
        .filter(col("doc_id") < 200)
        .orderBy(col("doc_id"))
    }),

    // ---- Benchmark decontamination: corpus docs sharing ≥1 token 8-gram
    // with a (deterministic) eval slice of the corpus. Leaks are PLANTED
    // (q42's device): every eval doc gets a "leaked" corpus copy at
    // id+200000 with a prefix glued on — prefix tokens shift the window
    // positions, so detection must come from genuine n-gram content, not
    // identical texts. The eval docs themselves are excluded from the
    // corpus (they'd trivially self-match).
    "q72_decontaminate" -> ((s, dir) => {
      val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        .unionByName(evalSet.select((col("doc_id") + 200000L).as("doc_id"),
          concat(lit("leaked copy "), col("text")).as("text")))
      Decontamination.contaminationReport(corpus, evalSet, "doc_id", "text", 8)
        .orderBy(col("doc_id"))
    }),

    // ---- Same report forced down the over-budget fallback (SHUFFLE_HASH
    // on the gram key) — the plan for an eval set too large to broadcast.
    // Oracle identical to q72: the byte gate cannot change answers.
    "q72b_decontaminate_shuffle" -> ((s, dir) => {
      val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        .unionByName(evalSet.select((col("doc_id") + 200000L).as("doc_id"),
          concat(lit("leaked copy "), col("text")).as("text")))
      Decontamination.contaminationReport(corpus, evalSet, "doc_id", "text", 8,
          broadcastBudgetBytes = 0L)
        .orderBy(col("doc_id"))
    }),

    // ---- Same report through the Bloom-prefilter scale path: a ~1%-fpp
    // sketch of the eval grams prunes the corpus gram stream BEFORE any
    // exchange, the exact join on survivors kills false positives. Oracle
    // identical to q72 — the sketch is a prefilter, never the verdict.
    "q72c_decontaminate_bloom" -> ((s, dir) => {
      val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        .unionByName(evalSet.select((col("doc_id") + 200000L).as("doc_id"),
          concat(lit("leaked copy "), col("text")).as("text")))
      Decontamination.contaminationReportBloom(corpus, evalSet, "doc_id", "text", 8)
        .orderBy(col("doc_id"))
    }),

    // ---- Exact stratified sampling: ceil(10% × |source|) docs per source,
    // membership chosen by a content-keyed total order (md5 of text+id —
    // unique, so both engines rank identically). sum_ids pins WHICH docs
    // were picked, not just how many.
    "q73_stratified_sample" -> ((s, dir) => {
      Sampling.stratifiedSample(
          load(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
          col("source"), concat(col("text"), col("doc_id")), 1000)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("source"))
    }),

    // ---- Multimodal with REAL header decode: executors build valid
    // BMP/WAV containers from per-row parameters, and the decode stage
    // re-derives those parameters by actually parsing the bytes — the
    // oracle predicts them arithmetically, so a parsing bug (endianness,
    // offset, padding) breaks the hash match. "video" rows stay on the
    // documented codec stub.
    "q71_multimodal_headers" -> ((s, dir) => {
      val media = Multimodal.mediaWithHeaders(s, load(s, dir, "documents"))
      Multimodal.decodeHeaderFeatures(media, 32).toDF()
        .select(col("media_id"), col("kind"), col("byte_len"),
          col("width"), col("height"), col("frames"))
        .orderBy(col("media_id"))
    }),

    // ---- Training-sequence packing (concat-and-chunk): docs laid
    // end-to-end per source shard in doc_id order; each gets its token
    // offset and 512-token chunk span. The oracle pins every offset and
    // both chunk indexes for every doc — a running-sum or floor bug
    // anywhere breaks the hash.
    "q74_seq_pack" -> ((s, dir) => {
      Packing.assignChunks(
          load(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
          col("source"), col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")), 512)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("start_off"),
          col("chunk_first"), col("chunk_last"))
        .orderBy(col("doc_id"))
    }),

    // ---- √-temperature mixture sampling: per-source keep-rates from
    // the α=0.5 temperature rule (largest source keeps all, a source of
    // n keeps floor(10000·√(n/max)) per 10000), membership by the same
    // content-key bucket as q67/q73. sum_ids pins WHICH docs each
    // source keeps, n_total/rate_per10k pin the rate computation.
    "q75_mixture_sample" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val rates = Sampling.sqrtTemperatureRates(docs, col("source"))
        .withColumnRenamed("stratum", "source")
      docs
        .withColumn("bucket",
          Sampling.splitBucket(concat(col("text"), col("doc_id"))))
        .join(rates, "source")
        .groupBy(col("source"), col("n_total"), col("rate_per10k"))
        .agg(count(when(col("bucket") < col("rate_per10k"), 1)).as("n_sampled"),
          sum(when(col("bucket") < col("rate_per10k"), col("doc_id"))).as("sum_ids"))
        .orderBy(col("source"))
    }),

    // ---- End-to-end curation funnel: the composed pipeline a training
    // run actually executes — language gate, quality gate, exact-dedup
    // keeper, decontamination — with per-stage retention (count + id
    // checksum). Stages are CUMULATIVE (each applies on top of the
    // previous), computed as flag columns in ONE pass over the corpus:
    // c1/c2 row-local, c3 one window on the content fingerprint, c4 a
    // semi-join against the q72 eval-gram set. Contaminated rows are
    // PLANTED exactly as in q72 (leaked eval copies at id+200000), so
    // stage 4 provably drops rows the earlier stages let through.
    "q76_curation_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        .unionByName(evalSet.select((col("doc_id") + 200000L).as("doc_id"),
          concat(lit("leaked copy "), col("text")).as("text")))
      val flagged = TextAnalysis.langPredicted(corpus, "text", Seq("doc_id", "text"))
        .withColumn("quality", TextAnalysis.qualityScore(length(col("text")),
          TextAnalysis.punctRatio(col("text")), TextAnalysis.meanWordLen(col("text"))))
        .withColumn("c1", (col("predicted") === "en").cast("int"))
        .withColumn("c2", (col("c1") === 1 && col("quality") >= 0.5).cast("int"))
      // dedup keeper among stage-2 survivors: smallest id per fingerprint
      val deduped = flagged.withColumn("minid",
          min(when(col("c2") === 1, col("doc_id")))
            .over(Window.partitionBy(TextAnalysis.contentFingerprint(col("text")))))
        .withColumn("c3", (col("c2") === 1 && col("doc_id") === col("minid")).cast("int"))
      val evalGrams = evalSet.select(split(col("text"), " ").as("_ts"))
        .select(explode(
          Decontamination.tokenGramFingerprintsFromTokens(col("_ts"), 8)).as("g"))
        .distinct()
      val contamIds = corpus
        .select(col("doc_id"), split(col("text"), " ").as("_ts"))
        .select(col("doc_id"), explode(
          Decontamination.tokenGramFingerprintsFromTokens(col("_ts"), 8)).as("g"))
        .join(broadcast(evalGrams), "g")
        .select(col("doc_id")).distinct().withColumn("is_contam", lit(1))
      val agg = deduped.join(contamIds, Seq("doc_id"), "left")
        .withColumn("c4", (col("c3") === 1 && col("is_contam").isNull).cast("int"))
        .agg(count(lit(1)).as("n0"), sum(col("doc_id")).as("s0"),
          sum(col("c1")).cast("long").as("n1"), sum(col("c1") * col("doc_id")).as("s1"),
          sum(col("c2")).cast("long").as("n2"), sum(col("c2") * col("doc_id")).as("s2"),
          sum(col("c3")).cast("long").as("n3"), sum(col("c3") * col("doc_id")).as("s3"),
          sum(col("c4")).cast("long").as("n4"), sum(col("c4") * col("doc_id")).as("s4"))
      agg.select(expr(
          "stack(5, '0_all', n0, s0, '1_lang', n1, s1, '2_quality', n2, s2, " +
          "'3_dedup', n3, s3, '4_decontam', n4, s4) AS (stage, n_docs, sum_ids)"))
        .orderBy(col("stage"))
    }),

    // ---- Packed-sequence EMISSION (q74's assignment made physical):
    // each 512-token chunk's exact token stream, hash-pinned. The md5
    // compares the emitted BYTES against DuckDB's independent
    // slice+string_agg reconstruction — any boundary, ordering, or
    // off-by-one slip in the token slicing changes the hash.
    "q77_seq_emit" -> ((s, dir) => {
      Packing.emitChunks(
          load(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
          col("source"), col("doc_id"), col("text"), 512)
        .orderBy(col("shard"), col("chunk"))
    }),

    // ---- Dedup APPLIED: the canonical corpus — one representative (min
    // id) per MinHash-LSH near-dup cluster plus every unclustered doc.
    // q44 emits evidence (pairs), q66 structure (clusters); this emits
    // what a training run actually reads. The oracle recomputes clusters
    // via DuckDB's recursive reachability and must agree on every
    // surviving row.
    "q78_dedup_canonical" -> ((s, dir) => {
      Dedup.canonicalize(
          load(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
          "doc_id", "text", 0.7)
        .select(col("doc_id"), col("source"), md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- Dedup canonicalization, keep-BEST policy: each near-dup
    // cluster keeps its LONGEST member ((n_chars, id) argmax via one
    // map-side-combinable max_by — q132's skew-safe shape, no window on
    // a hot cluster) — the policy most curation pipelines want, beside
    // q78's keep-min-id.
    "q133_dedup_keep_best" -> ((s, dir) => {
      Dedup.canonicalizeKeepBest(
          load(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("text"), col("n_chars")),
          "doc_id", "text", 0.7, score = col("n_chars"))
        .select(col("doc_id"), col("source"), md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- Cross-doc boilerplate removal. The synthetic corpus repeats no
    // sentence, so the query PLANTS two sentinel footers (q42's planting
    // pattern): every 3rd doc gets a newsletter plea, every 5th a rights
    // notice — the latter lands in EXACTLY minDocs=100 docs at sf0.01,
    // pinning the ≥ boundary. Stripping must restore every original text
    // byte-for-byte (md5 + length pinned per doc), and the all-boilerplate
    // edge keeps its row with empty text.
    "q79_boilerplate" -> ((s, dir) => {
      val planted = load(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("text", concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(". subscribe to our newsletter today"))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(". all rights reserved"))
            .otherwise(lit(""))))
      TextAnalysis.stripBoilerplate(planted, "doc_id", "text", 100L)
        .select(col("doc_id"), md5(col("text")).as("clean_md5"),
          length(col("text")).as("clean_len"))
        .orderBy(col("doc_id"))
    }),

    // ---- Epoch-balanced upsampling WITH replacement: small sources are
    // repeated toward the largest one (capped at 4 epochs). The weighted
    // checksum Σ doc_id·copy_idx pins WHICH docs replicate AND their
    // exact copy counts — an off-by-one in the fractional-copy bucket
    // arithmetic shifts the sum.
    "q80_epoch_upsample" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      Sampling.epochUpsample(docs, col("source"), concat(col("text"), col("doc_id")))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_rows"),
          sum(col("doc_id") * col("copy_idx")).as("wsum"))
        .orderBy(col("source"))
    }),

    // ---- INCREMENTAL dedup: docs <400 are the indexed existing corpus,
    // the rest plus planted near-copies (30 exact copies of existing
    // docs at id+300000, q42's planting pattern) arrive as a batch. The
    // operator must find every copy↔original pair and every natural pair
    // touching the batch — WITHOUT generating existing×existing
    // candidates. The oracle runs the full-corpus pair pipeline over
    // documents ∪ planted and keeps pairs whose larger id is in the
    // batch: if the incremental path missed a pair (or invented one),
    // the sets differ.
    "q81_dedup_incremental" -> ((s, dir) => {
      val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
      val existing = docs.filter(col("doc_id") < 400)
      val batch = docs.filter(col("doc_id") >= 400).unionByName(
        docs.filter(col("doc_id") < 30).withColumn("doc_id", col("doc_id") + 300000L))
      Dedup.incrementalPairs(
          Dedup.dedupIndex(existing, "doc_id", "text"), batch, "doc_id", "text", 0.7)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- q81's over-budget prune path, FORCED: candidate-id pruning of
    // the verify sets via the distributed left-semi join instead of the
    // driver-collected isin filter (the path a web-scale batch whose id
    // set blows InPruneMaxIds takes). Same oracle as q81 — the prune
    // strategy cannot change answers.
    "q81b_dedup_incremental_semi" -> ((s, dir) => {
      val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
      val existing = docs.filter(col("doc_id") < 400)
      val batch = docs.filter(col("doc_id") >= 400).unionByName(
        docs.filter(col("doc_id") < 30).withColumn("doc_id", col("doc_id") + 300000L))
      Dedup.incrementalPairs(
          Dedup.dedupIndex(existing, "doc_id", "text"), batch, "doc_id", "text",
          0.7, forceSemiPrune = true)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Quality-percentile gate: top 25% per source by the q50 quality
    // score, as exact ranks (integer-exact cross-engine where a double
    // quantile boundary can flip membership by an ulp). The per-source
    // count + id checksum pins exactly WHICH docs survive — score
    // computation, ordering, tie-break, and the ceil cutoff all have to
    // agree with DuckDB's independent ranking.
    "q82_quality_gate" -> ((s, dir) => {
      val scored = load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .withColumn("quality", TextAnalysis.qualityScore(
          length(col("text")),
          TextAnalysis.punctRatio(col("text")),
          TextAnalysis.meanWordLen(col("text"))))
      Sampling.topFractionByScore(scored, col("source"), col("quality"),
          concat(col("text"), col("doc_id")), 2500)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("source"))
    }),

    // ---- Deterministic training-order shuffle: seeded content-keyed
    // (shard, pos) permutation. The per-shard Σ pos·doc_id checksum pins
    // the ENTIRE permutation — any row in the wrong shard or position
    // shifts the sum.
    "q83_train_order" -> ((s, dir) => {
      Sampling.trainingOrder(
          load(s, dir, "documents").select(col("doc_id"), col("text")),
          concat(col("text"), col("doc_id")), "epoch0", 16)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("pos") * col("doc_id")).as("perm_sum"))
        .orderBy(col("shard"))
    }),

    // ---- BM25 retrieval scoring against a fixed query bag (one rare
    // planted token + two common ones, so idf actually discriminates).
    // Rational idf — see TextAnalysis.bm25Scores for why ln is banned.
    "q92_bm25_score" -> ((s, dir) => {
      TextAnalysis.bm25Scores(
          load(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", Seq("dup", "join", "vector"))
        .orderBy(col("doc_id"))
    }),

    // ---- Exact duplicated substring spans (Lee et al. ExactSubstr
    // signal): runs of 8-gram windows shared with another doc, reported
    // as per-doc covered-window count + longest verbatim token run.
    "q93_dup_spans" -> ((s, dir) => {
      Dedup.duplicatedSpans(
          load(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", 8)
        .orderBy(col("doc_id"))
    }),

    // ---- APPLY side of q93: cut every duplicated run, keeping the one
    // copy owned by the min doc id; clean_md5 pins the rewritten BYTES
    // of every doc (empty-text survivors included — row count stable).
    "q94_span_scrub" -> ((s, dir) => {
      Dedup.removeDuplicatedSpans(
          load(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", 8)
        .orderBy(col("doc_id"))
    }),

    // ---- CDC merge: a change log (two conflicting upserts, deletes,
    // inserts — all derived deterministically from the base) applied to
    // the documents table; per-key latest-seq wins. md5(text) per
    // surviving key pins replace/insert/delete resolution byte-exactly.
    "q95_merge_upsert" -> ((s, dir) => {
      val base = load(s, dir, "documents").select(col("doc_id"), col("text"))
      val up1 = base.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v1")).as("text"),
          lit("upsert").as("op"), lit(1).as("seq"))
      val up2 = base.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
          lit("upsert").as("op"), lit(2).as("seq"))
      val del = base.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id"), lit(null).cast("string").as("text"),
          lit("delete").as("op"), lit(3).as("seq"))
      val ins = base.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          concat(lit("new doc "), col("doc_id").cast("string")).as("text"),
          lit("upsert").as("op"), lit(1).as("seq"))
      Merge.applyChanges(base,
          up1.unionByName(up2).unionByName(del).unionByName(ins),
          "doc_id", "seq", "op")
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- Directed containment (quote detection): planted 60-char
    // verbatim excerpts (id+300000) must surface as containment ≈ 1.0 in
    // their host — pairs resemblance/Jaccard would score ~0.1 and miss.
    "q96_containment" -> ((s, dir) => {
      val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
      val quotes = docs.filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"),
          substring(col("text"), 11, 60).as("text"))
      Dedup.containmentPairs(docs.unionByName(quotes), "doc_id", "text", 0.9)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Corpus report: per-source EXACT token-length percentiles as
    // the element at rank ceil(q·n) — integer ranks, integer values, no
    // interpolation (a double quantile formula is exactly the kind of
    // cross-engine arithmetic the r6 work showed to be fragile). The
    // mix-weighting / packing decisions a pipeline makes per source read
    // off this table.
    "q97_source_stats" -> ((s, dir) => {
      val toks = load(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("nt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("nt"), col("doc_id"))
      toks
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("total_tokens"),
          min(col("nt")).as("min_tokens"),
          // ceil(q·n) in pure integer arithmetic: (q_num·n + q_den − 1) div q_den
          // (Spark `/` on integers is a DOUBLE divide; DIV is integral)
          max(when(col("rn") === expr("(n + 1) div 2"), col("nt"))).as("p50_tokens"),
          max(when(col("rn") === expr("(n * 9 + 9) div 10"), col("nt"))).as("p90_tokens"),
          max(col("nt")).as("max_tokens"))
        .orderBy(col("source"))
    }),

    // ---- Quality-gate tuning curve: docs surviving each 0.1-wide
    // quality cutoff, as a descending cumulative count — how a pipeline
    // picks the q82 threshold before committing to it. Bucket floor is
    // integer; the cumulative sum is a window over ≤11 rows.
    "q98_retention_curve" -> ((s, dir) => {
      val scored = load(s, dir, "documents")
        .select(TextAnalysis.qualityScore(
          length(col("text")),
          TextAnalysis.punctRatio(col("text")),
          TextAnalysis.meanWordLen(col("text"))).as("q"))
        .select(floor(col("q") * 10).cast("int").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("bucket").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      scored
        .withColumn("n_at_or_above", sum(col("n_docs")).over(w))
        .orderBy(col("bucket"))
    }),

    // ---- Sliding-window chunking with OVERLAP (stride < window): the
    // long-context fine-tuning prep q74/q77's disjoint packing is not —
    // every 32-token window advances 24 tokens, so an 8-token overlap
    // carries boundary context. md5 of every emitted window pins the
    // slice arithmetic (start offsets, tail windows, short docs) exactly.
    "q99_chunk_overlap" -> ((s, dir) => {
      Packing.chunkWithOverlap(load(s, dir, "documents"),
          col("doc_id"), col("text"), 32, 24)
        .select(col("id").as("doc_id"), col("chunk_idx"), col("chunk_start"),
          col("n_tokens"), md5(col("chunk_text")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ---- HLL distinct-token report: per-source vocabulary size as a
    // 256-register HyperLogLog estimate next to the exact count. The
    // registers are portable column arithmetic (md5 hex parse + integer
    // shifts), so DuckDB rebuilds the sketch bit-for-bit — the verified
    // analog of approx_count_distinct, whose HLL++ registers no oracle
    // can reproduce. Estimate error vs n_exact is the documented
    // ±1.04/√256 HLL property, visible in the output.
    "q100_hll_distinct" -> ((s, dir) => {
      val toks = load(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      TextAnalysis.hllDistinctTokens(toks, col("source"), col("tok"))
        .select(col("group_key").as("source"), col("n_exact"), col("hll_estimate"))
        .orderBy(col("source"))
    }),

    // ---- KMV bottom-k sketch similarity matrix: every source pair's
    // Jaccard over token-bigram fingerprints, ESTIMATED from two k=64
    // sketches (row-local array math over fixed-size synopses — the scale
    // path q88's exact matrix lacks), next to the exact Jaccard
    // (evidence, the q100 pattern). Bottom-k and the estimate are pure
    // integer arithmetic + one divide, rebuilt bit-for-bit by the oracle.
    "q101_kmv_source_sim" -> ((s, dir) => {
      Sketches.kmvSourceSimilarity(load(s, dir, "documents"), "source", "text",
          n = 2, k = 64)
        .select(col("src_a"), col("src_b"),
          col("k_union").cast("long").as("k_union"),
          col("k_inter").cast("long").as("k_inter"),
          col("jaccard_est"), col("jaccard_exact"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // ---- SCD type-2 history: q95's exact change log replayed as KEPT
    // versions with validity intervals instead of a latest-wins snapshot —
    // the audit/"corpus as of seq s" form. One union + one lead() window,
    // no join at all; md5 per version pins every payload byte-exactly.
    "q102_scd2_history" -> ((s, dir) => {
      val base = load(s, dir, "documents").select(col("doc_id"), col("text"))
      val up1 = base.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v1")).as("text"),
          lit("upsert").as("op"), lit(1).as("seq"))
      val up2 = base.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
          lit("upsert").as("op"), lit(2).as("seq"))
      val del = base.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id"), lit(null).cast("string").as("text"),
          lit("delete").as("op"), lit(3).as("seq"))
      val ins = base.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          concat(lit("new doc "), col("doc_id").cast("string")).as("text"),
          lit("upsert").as("op"), lit(1).as("seq"))
      Merge.scd2History(base,
          up1.unionByName(up2).unionByName(del).unionByName(ins),
          "doc_id", "seq", "op")
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy(col("doc_id"), col("valid_from"))
    }),

    // ---- Inverted PHRASE index: word-bigram terms → sorted doc-id
    // posting lists, df-banded [2, 50] — the band is the skew guard (a
    // stopword phrase's posting list is the unbounded hot key at 100 TB)
    // and bounds every emitted list at maxDf entries by construction.
    "q103_inverted_index" -> ((s, dir) => {
      // split behind a projection barrier: an inline split(text) would be
      // re-evaluated per element inside wordBigrams' interpreted lambda
      // (quadratic per doc — the q142 lesson)
      val docs = load(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
      TextAnalysis.invertedIndexTerms(docs, "doc_id",
          TextAnalysis.wordBigrams(col("ts")), minDf = 2, maxDf = 50)
        .orderBy(col("token"))
    }),

    // ---- Quantized unigram surprisal: per-doc mean of
    // floor(log2 N) − floor(log2 cnt(t)) — the LM code-length filter
    // (CCNet-style) in exact integer arithmetic; the per-doc sum is an
    // integer, so no cross-engine float summation exists at all.
    "q104_lm_surprisal" -> ((s, dir) => {
      TextAnalysis.unigramSurprisal(load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- PMI collocations as rational LIFT (exp of PMI — same ranking,
    // no cross-engine ln): adjacent word bigrams with ≥5 occurrences,
    // scored c_xy·N_uni²/(N_bi·c_x·c_y).
    "q105_pmi_collocations" -> ((s, dir) => {
      TextAnalysis.pmiCollocations(load(s, dir, "documents"), "text", minCount = 5)
        .orderBy(col("tok_x"), col("tok_y"))
    }),

    // ---- Priority sampling (Duffield-Lund-Thorup): k=25 docs weighted
    // by n_chars, with the Horvitz-Thompson estimator weight max(w, τ).
    // Content-keyed u ⇒ the sample is run- and engine-stable; priorities
    // are one exact divide, so the oracle reproduces the top-k cut and τ
    // bit-for-bit.
    "q106_priority_sample" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"))
      Sampling.prioritySample(docs, col("text"), col("n_chars"), 25)
        .select(col("doc_id"), col("n_chars"),
          graft.Tables.r6(col("est_weight")).as("est_weight"))
        .orderBy(col("doc_id"))
    }),

    // ---- Histogram-synopsis percentiles: per-source p50/p90 token
    // counts from a 32-bin equi-width histogram — the bounded-state,
    // map-side-combinable scale path next to q97's exact rank windows
    // (error ≤ one bin width; all-integer arithmetic, q97's ceil-div
    // convention, estimate = lower edge of the first bin reaching the
    // rank). Compare with q97's exact values to see the error.
    "q108_histogram_quantiles" -> ((s, dir) => {
      val toks = load(s, dir, "documents")
        .select(col("source"), TextAnalysis.wsTokenCount(col("text")).as("nt"))
      Sketches.histogramQuantiles(toks, col("source"), col("nt"), 32)
        .select(col("g").as("source"), col("n_rows"), col("bin_width"),
          col("p50_est"), col("p90_est"))
        .orderBy(col("source"))
    }),

    // ---- REAL image resize (factor-2 nearest-neighbor over actual BMP
    // pixel bytes): output dims come from RE-PARSING the resized payload
    // and pixel_sum from walking its pixel array — the oracle recomputes
    // both from (doc_id, w, h) and the deterministic fill pattern, so a
    // padding/stride/offset bug in the writer OR the resizer breaks the
    // hash. PNG (inflate-bound) and video (codec-bound) rows are skipped
    // by the operator's documented boundary.
    "q109_media_resize" -> ((s, dir) => {
      val media = Multimodal.mediaWithHeaders(s, load(s, dir, "documents"))
      Multimodal.resizeImages(media, 2, 32).toDF()
        .orderBy(col("media_id"))
    }),

    // ---- REAL audio frame sampling: every 2nd 64-sample-frame window of
    // each WAV's PCM data, mean |sample| decoded from the little-endian
    // bytes with an integral mean; the oracle replays the sample formula
    // v(j) = ((j·37 + id) mod 2048) − 1024 in SQL.
    "q110_audio_frames" -> ((s, dir) => {
      val media = Multimodal.mediaWithHeaders(s, load(s, dir, "documents"))
      Multimodal.audioFrameMeans(media, 64, 2, 32).toDF()
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // ---- Count-Min heavy hitters: the FREQUENCY synopsis next to
    // q100's cardinality HLL and q108's quantile histogram — a 4×512
    // counter grid whose grouped-count build is map-side combinable
    // (≤2048 rows reach the exchange regardless of corpus size), probed
    // by min-of-cells for the top-20 exact tokens (the evidence branch).
    // The oracle rebuilds all four hash rows from the same md5 slices
    // and every min — an estimate below the exact count anywhere would
    // break both the CMS overestimate guarantee and the hash.
    "q111_cms_heavy_hitters" -> ((s, dir) => {
      val toks = load(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
      Sketches.cmsHeavyHitters(toks, col("tok"), 4, 512, 20)
        .select(col("rank"), col("tok"), col("n_exact"), col("cms_estimate"))
        .orderBy(col("rank"))
    }),

    // ---- REAL JPEG decode: every image payload is a valid baseline
    // JPEG whose SOF offset varies per row (id-dependent COM segment),
    // so dimensions are recoverable ONLY by walking the marker stream —
    // segment-length hops, SOF-vs-DHT/JPG/DAC discrimination, big-endian
    // height-before-width. The oracle recomputes dims and total byte
    // length (122 + comment + entropy bytes) from the id formulas; a
    // wrong hop or a fixed-offset shortcut breaks the hash.
    "q112_media_jpeg" -> ((s, dir) => {
      val media = Multimodal.mediaJpeg(s, load(s, dir, "documents"))
        .filter(col("kind") === "image")
      Multimodal.decodeHeaderFeatures(media, 32).toDF()
        .select(col("media_id"), col("byte_len"), col("width"), col("height"))
        .orderBy(col("media_id"))
    }),

    // ---- REAL perceptual image hashing (aHash): the image-side SimHash
    // — 64-bit fingerprint from an 8×8 block-mean threshold over the
    // actual BMP pixel bytes, all-integer (cross-multiplied mean
    // compares, no division), hash split into two 32-bit halves so both
    // engines stay in exact BIGINT range. The oracle replays the pixel
    // formula, the floor grid mapping, the padding-aware byte walk, and
    // every threshold bit — one wrong stride and 84 hashes change.
    "q121_image_ahash" -> ((s, dir) => {
      val media = Multimodal.mediaWithHeaders(s, load(s, dir, "documents"))
      Multimodal.imageAHashes(media, 32).toDF()
        .orderBy(col("media_id"))
    }),

    // ---- Image NEAR-DUP pairs over those fingerprints: Hamming ≤ 3 via
    // 4×16-bit pigeonhole banding (Dedup.hammingPairs64) — an equi
    // self-join on (band, bits), NEVER an all-pairs compare; the exact
    // popcount check runs on band candidates only. The image-corpus
    // analog of q45's text SimHash dedup, end-to-end from real pixels.
    "q121b_image_neardup" -> ((s, dir) => {
      val media = Multimodal.mediaWithHeaders(s, load(s, dir, "documents"))
      val hashes = Multimodal.imageAHashes(media, 32).toDF()
      graft.operators.Dedup
        .hammingPairs64(hashes, "media_id", "hash_hi", "hash_lo", maxDist = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Dedup-quality audit: the banded pipeline (q44) evaluated
    // against the exact-Jaccard baseline (q43) as a confusion report —
    // the recall/precision evidence a curation team checks before
    // trusting approximate dedup at scale (bounded-corpus audit; at
    // 100 TB you run it on a sampled slice, same query).
    "q138_dedup_eval" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.7)
        .select(col("id_a"), col("id_b")).withColumn("e", lit(1))
      val lsh = Dedup.nearDupPairs(docs, "doc_id", "text", 0.7).df
        .select(col("id_a"), col("id_b")).withColumn("l", lit(1))
      exact.join(lsh, Seq("id_a", "id_b"), "full_outer")
        .agg(
          count(when(col("e").isNotNull && col("l").isNotNull, 1)).as("n_both"),
          count(when(col("e").isNotNull && col("l").isNull, 1)).as("n_missed"),
          count(when(col("e").isNull && col("l").isNotNull, 1)).as("n_spurious"))
    }),

    // ---- Length-bucketed batches: 16-token bands × 4 shards, batches
    // of 8 filled in content-hash order — padding waste bounded by the
    // band width, batch identity reproducible from the data alone.
    "q137_length_batches" -> ((s, dir) => {
      Packing.lengthBatches(load(s, dir, "documents"), "doc_id", "text",
          bandWidth = 16, batchSize = 8, nShards = 4)
        .orderBy(col("did"))
        .withColumnRenamed("did", "doc_id")
    }),

    // ---- Cross-source token-distribution drift: per source pair, the
    // integer-scaled L1 distance over the global top-100 tokens — the
    // corpus-refresh monitor, read-once (one count agg + a bounded
    // dense grid; the corpus itself is never pair-joined).
    "q136_token_drift" -> ((s, dir) => {
      TextAnalysis.tokenDrift(load(s, dir, "documents"), "source", "text", 100)
        .orderBy(col("src_a"), col("src_b"))
    }),

    // ---- Contrastive hard-negative mining: per query, the best
    // same-bucket candidate (positive proxy) AND the best cross-bucket
    // candidate (the hard negative that teaches the margin) — sign-LSH
    // stratified argmax over the exact codegen'd cosine.
    "q135_hard_negatives" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      SimilaritySearch.hardNegatives(
          emb.filter(col("vec_id") < 10), emb, bits = 6)
        .orderBy(col("query_id"))
    }),

    // ---- T5-style span corruption (Raffel et al. 2020), exactly
    // replayable: block-aligned mask decisions from md5₄₈(doc:block)
    // (~35% of 8-token blocks mask a 2-4 token span — no RNG, no
    // sequential sampler), spans replaced by <X_k> sentinels; the
    // rewrite is an EQUI join of positions to spans on (doc, pos div 8).
    "q134_span_corruption" -> ((s, dir) => {
      Packing.spanCorruption(load(s, dir, "documents"), "doc_id", "text", 8)
        .select(col("did").as("doc_id"), col("n_spans"), col("n_masked"),
          md5(col("corrupted")).as("corrupted_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- Sorted-neighborhood linkage (the other classic ER blocking):
    // global sort rank via distributed zipWithIndex (no single-partition
    // window), neighbors via the binned bucket join — candidate volume
    // is n·(window−1) BY CONSTRUCTION, scorer on candidates only.
    "q129_sorted_neighborhood" -> ((s, dir) => {
      val parts = load(s, dir, "part").filter(col("p_partkey") < 500)
      graft.operators.Linkage.sortedNeighborhood(
          parts, "p_partkey", "p_name", window = 6, maxDist = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Rendezvous (highest-random-weight) sharding: shard = row-local
    // argmax of md5₄₈(key:shard) — no shuffle, no table. Assignments at
    // 8 AND 9 shards side by side pin the reshard-stability property:
    // only the keys whose NEW shard wins move (expected 1/9; a mod map
    // would move 8/9).
    "q128_rendezvous_shard" -> ((s, dir) => {
      load(s, dir, "documents")
        .select(col("doc_id"),
          Sampling.rendezvousShard(col("doc_id"), 8).as("shard8"),
          Sampling.rendezvousShard(col("doc_id"), 9).as("shard9"))
        .withColumn("moved", (col("shard8") =!= col("shard9")).cast("int"))
        .orderBy(col("doc_id"))
    }),

    // ---- Opaque-payload byte chunking (the codec-free multimodal
    // operation): ⌈bytes/100⌉ manifest rows per video payload with
    // offset, length, and per-chunk md5 — multipart-upload / integrity
    // plumbing whose bytes never leave the executor. The corpus is
    // ASCII, so the oracle replays chunk md5s with substr arithmetic.
    "q127_byte_chunks" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(s, load(s, dir, "documents"))
        .filter(col("kind") === "video")
      Multimodal.chunkBytes(media, 100, 32).toDF()
        .orderBy(col("media_id"), col("chunk_idx"))
    }),

    // ---- Feature-hashing vectorizer: sparse no-vocab token-count
    // vectors, bucket = md5₄₈ mod 64 — one projection + one map-side-
    // combinable count, nothing broadcast, nothing looked up. Sparse
    // (doc, bucket, cnt) output with the doc's L1 mass alongside.
    "q126_hashing_vectorize" -> ((s, dir) => {
      TextAnalysis.hashingVectorize(
          load(s, dir, "documents").filter(col("doc_id") < 100),
          "doc_id", "text", dims = 64)
        .select(col("pid").as("doc_id"), col("bucket"), col("cnt"))
        .orderBy(col("doc_id"), col("bucket"))
    }),

    // ---- End-to-end IMAGE dedup canonicalization: aHash fingerprints →
    // Hamming-banded pairs → connected components → canonical
    // representative (component min id) — q78's pairs→clusters shape
    // composed over the image modality, pixels to kept-set.
    "q125_image_canonical" -> ((s, dir) => {
      val media = Multimodal.mediaWithHeaders(s, load(s, dir, "documents"))
      val hashes = Multimodal.imageAHashes(media, 32).toDF()
      val pairs = graft.operators.Dedup
        .hammingPairs64(hashes, "media_id", "hash_hi", "hash_lo", maxDist = 3)
      graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("doc_id").as("media_id"), col("rep_id"))
        .orderBy(col("media_id"))
    }),

    // ---- Record linkage by multi-pass blocking (operators.Linkage):
    // candidate pairs ONLY from equi-joins on blocking keys (last token,
    // first token), the edit-distance scorer on candidates only —
    // entity resolution's standard scale shape; all-pairs comparison is
    // structurally impossible in the operator.
    "q122_record_linkage" -> ((s, dir) => {
      val parts = load(s, dir, "part").filter(col("p_partkey") < 200)
      graft.operators.Linkage.blockedLinkage(parts, "p_partkey", "p_name",
          blockers = Seq(
            n => element_at(split(n, " "), -1),
            n => element_at(split(n, " "), 1)),
          maxDist = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Snapshot diff (operators.Merge.snapshotDiff): the change set
    // between two corpus versions — added/removed/changed keys from ONE
    // fingerprint-narrow full-outer join (16-byte md5 per side, never
    // document bodies). v2 is derived in-query by deterministic edits:
    // %17=3 dropped, %13=5 text-revised, %19=7 re-added under a new id.
    "q123_snapshot_diff" -> ((s, dir) => {
      val v1 = load(s, dir, "documents")
      val v2 = v1
        .withColumn("text",
          when(col("doc_id") % 13 === 5, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")))
        .filter(col("doc_id") % 17 =!= 3)
        .unionByName(v1.filter(col("doc_id") % 19 === 7)
          .withColumn("doc_id", col("doc_id") + 100000))
      graft.operators.Merge.snapshotDiff(v1, v2, "doc_id",
          payload = Seq("text", "lang", "source", "n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- Hashing-trick linear quality classifier (the fastText shape):
    // token → weight by hash (no vocab table, no broadcast, no join),
    // margin = row-local integer fold, gate = margin ≥ 0. The whole
    // "model application" is one codegen'd projection — the property
    // that makes this the classifier architecture for a 100 TB corpus
    // pass. Per-doc margins and the per-source keep rates are both
    // pinned (integer-exact in both engines).
    "q113_hashed_classifier" -> ((s, dir) => {
      load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.hashedLinearScore(col("text")).as("score"))
        .withColumn("kept", (col("score") >= 0).cast("int"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"),
          sum(col("score")).as("sum_score"),
          sum(col("doc_id") * col("kept")).as("kept_id_sum"))
        .orderBy(col("source"))
    }),

    // ---- Global paragraph-level keep-first dedup (Dolma §4.1): a planted
    // second copy of doc<30's sentences (appended to doc_id+200000 rows)
    // must vanish — ONLY the first (smallest (doc_id, pos)) occurrence of
    // every sentence survives, corpus-wide. Rewritten text is byte-pinned
    // by md5. Distinct from q79 (df-threshold boilerplate) and q94
    // (8-gram span granularity): here df=2 already removes the later copy.
    "q115_paragraph_dedup" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val planted = docs.filter(col("doc_id") < 30)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(lit("fresh lead for copy "), col("doc_id").cast("string"),
            lit(". "), col("text")).as("text"))
      val corpus = docs.select(col("doc_id"), col("text")).unionByName(planted)
      Dedup.dedupParagraphsKeepFirst(corpus, "doc_id", "text")
        .select(col("doc_id"), md5(col("text")).as("clean_md5"), col("n_kept"))
        .orderBy(col("doc_id"))
    }),

    // ---- Column-level corpus profiler (the ANALYZE/data-quality report):
    // one aggregation pass over documents → per-column null counts, exact
    // cardinalities, native-typed min/max rendered as strings.
    "q116_profile" -> ((s, dir) => {
      Profile.columnProfile(load(s, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy(col("col_name"))
    }),

    // ---- Two-stage retrieval: int8-quantized shortlist (top-10 by q86's
    // coarse scorer) reranked by the EXACT float cosine of q47 — the
    // production ANN shape. Both stages' tie-breaks are pinned, so the
    // oracle re-derives shortlist membership and final ranks exactly.
    "q117_ann_rerank" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      SimilaritySearch.rerankTopK(emb.filter(col("vec_id") < 20), emb, 10, 3)
        .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- CODEPOINT-shingle MinHash near-dup on a CJK corpus (the SURVEY
    // §8.5 scope-note closure): each ASCII token maps to one deterministic
    // CJK codepoint (0x4E00 + tokenHash mod 20000; Spark builds the char
    // from its raw UTF-8 bytes via unhex since chr() is mod-256, DuckDB
    // uses chr() — the fixtures are byte-identical, md5-probed), so the
    // planted one-token near-dup mutations become one-CHAR mutations of
    // unicode text. The base-256 gram hash is non-injective above
    // codepoint 255; the wide base-2^21 polynomial + mod-P-reduced
    // minhash keep hash-set Jaccard EXACTLY gram-set Jaccard here
    // (CjkGramSpec pins a collision the narrow form cannot distinguish).
    "q139_cjk_neardup" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val cjk = docs.select(col("doc_id"),
        array_join(transform(split(col("text"), " "), t => {
          val cp = lit(19968L) + tokenHash(t) % lit(20000L)
          val b = (lit(224L) + shiftright(cp, 12)) * lit(65536L) +
            (lit(128L) + shiftright(cp, 6) % lit(64L)) * lit(256L) +
            (lit(128L) + cp % lit(64L))
          decode(unhex(conv(b, 10, 16)), "UTF-8")
        }), "").as("text"))
      Dedup.nearDupPairs(cjk, "doc_id", "text", 0.7, NearDupProfile.Codepoint).df
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Distributed BPE merge learning (Sennrich 2016): the top-8
    // byte-pair merges of the corpus, most-frequent first, tie-broken
    // (count DESC, pair ASC). The corpus collapses to the Heaps-bounded
    // word vocabulary ONCE; each round is a vocab-sized pair aggregate +
    // a broadcast 1-row argmax + a row-local greedy-leftmost array
    // rewrite. The oracle replays the greedy rule positionally (parity
    // over consecutive match runs — identical selections).
    "q140_bpe_merges" -> ((s, dir) => {
      Bpe.bpeMerges(load(s, dir, "documents"), "text", 8)
        .orderBy(col("round"))
    }),

    // ---- BPE tokenization under the q140 merges: per-doc token/word
    // counts from ONE equi join of the corpus word stream against the
    // already-rewritten vocabulary — no per-document iteration, which is
    // the whole point at 100 TB (the vocabulary is the bounded working
    // set; documents are only ever joined, never re-walked per round).
    "q141_bpe_tokenize" -> ((s, dir) => {
      Bpe.bpeTokenize(load(s, dir, "documents"), "doc_id", "text", 8)
        .orderBy(col("doc_id"))
    }),

    // ---- Bigram CONDITIONAL surprisal: per-doc mean of
    // floor(log2 cnt(prev,*)) − floor(log2 cnt(prev,cur)) — the
    // −log2 P(cur|prev) code length in exact integer arithmetic. The
    // word-order filter unigram LM scoring (q104) cannot see: shuffled
    // text keeps its unigram score but pays here.
    "q142_bigram_surprisal" -> ((s, dir) => {
      TextAnalysis.bigramSurprisal(load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- Generalized SUFFIX ARRAY over the corpus token stream, by
    // prefix doubling (no global window anywhere — dense ranks come from
    // range-partitioned local passes + partition offsets). The oracle
    // sorts materialized suffix lists directly; the Spark side never
    // materializes a suffix — log2(maxDocLen) rounds of integer-keyed
    // joins, which is the form that survives a 100 TB corpus.
    "q143_suffix_ranks" -> ((s, dir) => {
      SuffixIndex.suffixRanks(load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ---- Exact cross-document repeated substrings from adjacent-suffix
    // LCPs (the suffix-array ExactSubstr signal of Lee et al. 2022 — q93's
    // positional 8-grams quantize this to gram multiples; here every
    // length ≥ 3 is exact). LCP via the level-table rank walk; the oracle
    // recomputes each adjacent pair's LCP by direct token comparison.
    "q144_lcp_repeats" -> ((s, dir) => {
      SuffixIndex.crossDocRepeats(load(s, dir, "documents"), "doc_id", "text",
        minLen = 3, topK = 10)
    }),

    // ---- Quantized Stupid Backoff trigram LM scoring (Brants et al.
    // 2007): prune3/prune2 model the SHIPPED pruned LM, so all three
    // backoff paths are real on a self-scored corpus; path bits are
    // integer floor-log2 chains with a 1-bit α penalty per backoff level.
    // Completes the LM ladder q104 (unigram) → q142 (bigram).
    "q145_backoff_trigram" -> ((s, dir) => {
      TextAnalysis.backoffTrigramBits(load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- Corpus-derived stop-phrase scrub: blocklist = top-8 bigrams ∪
    // top-4 trigrams (count DESC, phrase ASC), every covered token
    // removed, rewrite byte-pinned via md5 — the phrase-level boilerplate
    // stage between the line-level q79 and the span-level q94.
    "q146_phrase_scrub" -> ((s, dir) => {
      TextAnalysis.stopPhraseScrub(load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- Product-quantization ANN (Jégou et al. 2011): m=4 subspaces,
    // ≤16 sign-bucket cells each, decimal-mean codebooks, asymmetric
    // (query-full-precision) distance over the coded corpus. Completes
    // the ANN ladder: brute (q47) → sign-LSH (q48) → IVF (q48b) → int8
    // (q86) → rerank (q117) → PQ/ADC.
    "q147_ann_pq" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      SimilaritySearch.pqTopK(emb.filter(col("vec_id") < 10), emb, 4, 4, 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- Production-geometry PQ: m=8 subspaces x 2^8 = 256 cells — the
    // codebook size every billion-vector ANN service ships. Exercises
    // the dense-packed [sub][cid] LUT path (O(m) per pair, not O(m*k));
    // same oracle family as q147 with the k=256 parameters.
    "q147b_ann_pq256" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      SimilaritySearch.pqTopK(emb.filter(col("vec_id") < 10), emb, 8, 8, 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- Crawl-order 8-gram novelty: fraction of a doc's positional
    // grams whose corpus-first occurrence is its own — the marginal-
    // contribution weight a dedup-aware sampler uses (planted duplicates
    // from the q42 construction score ~0 on their later copies).
    "q148_gram_novelty" -> ((s, dir) => {
      val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
      val withDups = docs.unionByName(docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      Dedup.gramNovelty(withDups, "doc_id", "text", 8)
        .orderBy(col("doc_id"))
    }),

    // ---- Sparse TF-IDF doc-pair cosine over df-banded postings. Planted
    // MUTATED copies (first token swapped for a per-doc-unique 'mut<id>',
    // df=1 → outside the band, so the copy's vector is the original's
    // minus one common token) score high-but-under-1.0 — the weighted
    // scoring MinHash's set view cannot produce — while the corpus's
    // organic exact dups pin the 1.0 ceiling. All 50 planted pairs clear
    // the 0.9 threshold (min 0.961 at sf0.01; background mean 0.56).
    "q149_tfidf_pairs" -> ((s, dir) => {
      val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs
        .filter(col("doc_id") < 50 && instr(col("text"), " ") > 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("mut"), col("doc_id").cast("string"),
            expr("substring(text, instr(text, ' '))")).as("text"))
      TextAnalysis.tfidfSimilarPairs(docs.unionByName(planted),
          "doc_id", "text", 2, 500, 0.9)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Interleaved multimodal packing: docs with an image (the q53
    // synthetic-media convention: doc_id % 3 = 0, patches = 1 +
    // byte_len % 8) contribute "[IMG]" patch placeholders ahead of their
    // text; the augmented streams pack through the q74/q77-proven chunk
    // arithmetic. Per-chunk patch counts are the modality-mix stat a
    // multimodal batch scheduler balances on; text md5 byte-pins the
    // emitted sequences.
    "q150_multimodal_pack" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      Multimodal.interleavedPack(docs, col("source"), col("doc_id"),
          col("text"), col("doc_id") % 3 === 0,
          lit(1) + length(col("text")) % 8, 512)
        .orderBy(col("shard"), col("chunk"))
    }),

    // ---- Unicode script-mix profiling: the q139 codepoint-synthesis
    // trick rewrites zh docs into real CJK text and plants Cyrillic
    // (doc_id%13=1) / Greek (%17=2) docs plus one trailing CJK char on
    // every %97=0 doc (the homoglyph-spam shape); scriptMix's row-local
    // histogram must classify every codepoint and flag the mixed rows.
    "q151_script_mix" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val mapped = docs.select(col("doc_id"), col("lang"),
        concat(
          array_join(transform(split(col("text"), " "), t =>
            when(col("lang") === "zh",
                utf8Chr(lit(19968L) + tokenHash(t) % lit(20000L)))
              .when(col("doc_id") % 13 === 1,
                utf8Chr(lit(1072L) + tokenHash(t) % lit(32L)))
              .when(col("doc_id") % 17 === 2,
                utf8Chr(lit(945L) + tokenHash(t) % lit(25L)))
              .otherwise(t)), " "),
          when(col("doc_id") % 97 === 0,
            concat(lit(" "), utf8Chr(lit(19968L) + col("doc_id") % 100)))
            .otherwise(lit(""))).as("text"))
      mapped.select(Seq(col("lang")) ++ TextAnalysis.scriptMix(col("text")): _*)
        .groupBy(col("lang"), col("dominant"))
        .agg(count(lit(1)).as("n_docs"), sum(col("mixed")).as("n_mixed"),
          sum(col("n_latin")).as("latin_chars"),
          sum(col("n_digit")).as("digit_chars"),
          sum(col("n_cjk")).as("cjk_chars"),
          sum(col("n_cyrillic")).as("cyrillic_chars"),
          sum(col("n_greek")).as("greek_chars"),
          sum(col("n_other")).as("other_chars"))
        .orderBy(col("lang"), col("dominant"))
    }),

    // ---- Per-source winsorized score stats: exact p05/p95 clamp of
    // n_chars via the RANK-WALK percentile (spill-safe window sort, no
    // percentile()-style whole-group aggregation cell — the q103 lesson
    // applied to q58's semantics). Oracle is DuckDB's quantile_cont.
    "q152_winsorize" -> ((s, dir) => {
      Profile.winsorizedStats(load(s, dir, "documents"),
          "source", "n_chars", 0.05, 0.95)
        .orderBy(col("source"))
    }),

    // ---- Cohen's kappa agreement between the q113 hashed linear
    // classifier and the cheap token-count rule, per source — integer
    // confusion counts, kappa as ONE rounded rational divide.
    "q153_classifier_kappa" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      Profile.agreementKappa(docs, "source",
          TextAnalysis.hashedLinearScore(col("text")) >= 0,
          TextAnalysis.wsTokenCount(col("text")) >= 15)
        .orderBy(col("source"))
    }),

    // ---- Embedding covariance matrix (upper triangle, 64 dims → 2080
    // cells): row-local nested-HOF pair expansion (NO self-join), one
    // map-side-combinable groupBy over micro-unit DECIMAL partials —
    // the whitening/PCA front half, oracle-exact to the last bit.
    "q154_embed_cov" -> ((s, dir) => {
      SimilaritySearch.embeddingCovariance(
          load(s, dir, "embeddings"), "embedding")
        .orderBy(col("i"), col("j"))
    }),

    // ---- URL-level dedup over four raw variants per canonical target
    // (case, www, default port, trailing slash, tracker params, param
    // order, fragment): the canonicalizer must collapse all four onto
    // the independently-CONSTRUCTED canonical form the oracle writes
    // down — a stronger gate than replaying the same normalization.
    "q155_url_dedup" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val k = (col("doc_id") % 50).cast("string")
      val raw = when(col("doc_id") % 4 === 0,
          concat(lit("HTTPS://WWW.Site"), k,
            lit(".Example.COM:443/a/b?utm_source=feed&id="), k,
            lit("&z=1#frag")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("https://site"), k, lit(".example.com/a/b?z=1&id="), k,
            lit("&utm_campaign=x")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://Site"), k, lit(".Example.com/a/b/?id="), k,
            lit("&z=1")))
        .otherwise(
          concat(lit("https://site"), k,
            lit(".example.com:443/a/b?ref=home&z=1&id="), k))
      UrlOps.urlDupGroups(docs.select(col("doc_id"), raw.as("url")),
          "doc_id", "url")
        .orderBy(col("canon_url"))
    }),

    // ---- Pairwise cosine between label CENTROIDS: the embedding-drift /
    // cluster-similarity monitor. cosine(mean_a, mean_b) ≡
    // cosine(sum_a, sum_b) — no division by n, so every input to the one
    // rounded divide is an order-free DECIMAL sum of integer micro units.
    // The corpus is reduced to |labels|·d cells in ONE map-side-combinable
    // pass; only that fixed-size relation ever pair-joins.
    "q156_centroid_cosine" -> ((s, dir) => {
      SimilaritySearch.labelCentroidCosine(
          load(s, dir, "embeddings"), "label", "embedding")
        .orderBy(col("label_a"), col("label_b"))
    }),

    // ---- Per-source OLS trend slope of doc length over a pseudo crawl
    // day (doc_id mod 37): four integer DECIMAL sums per group, one
    // rounded rational divide — the corpus-refresh drift alarm. Slope is
    // negative-capable, so the oracle carries the drnd +0.0 suffix.
    "q157_trend_slope" -> ((s, dir) => {
      Temporal.trendSlope(load(s, dir, "documents"),
          col("source"), col("doc_id") % 37, col("n_chars"))
        .withColumnRenamed("g", "source")
        .orderBy(col("source"))
    }),

    // ---- Robots-style DISALLOW filtering: candidates from the host
    // equi-join only (never a prefix theta join), startswith residual
    // inside that join, matched ids LEFT-ANTI against the corpus — a URL
    // with no rules on its host never leaves its map task. Rules include
    // a whole-host block ('/'), an exact-page prefix, and a host with
    // no matching traffic.
    "q158_robots_filter" -> ((s, dir) => {
      import s.implicits._
      val docs = load(s, dir, "documents")
      val url = concat(lit("https://site"), (col("doc_id") % 50).cast("string"),
        lit(".example.com/s"), (col("doc_id") % 7).cast("string"),
        lit("/p"), (col("doc_id") % 11).cast("string"))
      val rules = Seq(
        ("site3.example.com", "/s2"),
        ("site3.example.com", "/s4/p1"),
        ("site7.example.com", "/"),
        ("site11.example.com", "/s5")).toDF("host", "prefix")
      UrlOps.robotsFilter(docs.select(col("doc_id"), url.as("url")),
          "doc_id", "url", rules)
        .orderBy(col("doc_id"))
    }),

    // ---- Event-transition Markov matrix: P(to_type | from_type) over
    // each user's time-ordered stream — next-event training data, funnel
    // diagnostics, bot detection. One per-user lead() window (bounded,
    // spillable), pair counts map-side combined, P from a type-count²
    // relation joined back (never a corpus window). (ts, event_id) pins
    // tie order cross-engine.
    "q159_event_transitions" -> ((s, dir) => {
      Temporal.eventTransitions(load(s, dir, "events"),
          col("user_id"), col("ts"), col("event_type"), col("event_id"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // ---- Source-mixture reweighting toward a target token distribution:
    // per source, the factor to multiply its sampling rate by so the
    // sampled mixture lands on the user's target shares. One corpus
    // aggregate + two broadcast joins; the weight is the exact rational
    // target_ppm·total/(10⁶·tokens) — one DECIMAL-product double divide.
    // src3 is deliberately absent from the target (NULL weight).
    "q160_mixture_weights" -> ((s, dir) => {
      import s.implicits._
      val targets = Seq(("src0", 300000L), ("src1", 200000L),
        ("src2", 150000L), ("src5", 100000L), ("src7", 50000L))
        .toDF("stratum", "target_ppm")
      Sampling.mixtureWeights(load(s, dir, "documents"), col("source"),
          TextAnalysis.wsTokenCount(col("text")), targets)
        .orderBy(col("stratum"))
    }),

    // ---- Character collision (Simpson) index: the gibberish gate one
    // alphabet below Gopher's token rules. Native one-pass codepoint
    // kernel (graft_char_stats) — the histogram never leaves the row;
    // the only float op is one divide of exact integer moments.
    "q161_char_collision" -> ((s, dir) => {
      TextAnalysis.charCollisionIndex(load(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- Margin-based top-match mining (the LASER/CCMatrix bitext
    // criterion, absolute-margin form): label-0 vectors aligned against
    // the rest of the corpus; a match is accepted only if best beats
    // second-best by ≥ 0.01 cosine — the per-query noise floor that
    // kills hubness false positives.
    "q162_margin_mining" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      // query side BOUNDED (vec_id < 1000, a no-op at sf0.01): the exact
      // variant's contract is a broadcastable query set scored against a
      // streamed corpus — an unbounded query side grows the pair volume
      // quadratically with the corpus (the brute-pair class the ANN
      // ladder exists to avoid; at scale: shortlist, then this margin)
      SimilaritySearch.marginTopMatch(
          emb.filter(col("label") === 0 && col("vec_id") < 1000),
          emb.filter(col("label") =!= 0), 10000L)
        .orderBy(col("query_id"))
    }),

    // ---- Gate-funnel attrition: per source, survivors of each PREFIX of
    // the length → lang → token-count → ascii-ratio gate chain — the
    // "where did my corpus go" report. One map-side-combinable pass;
    // the ascii gate compares integers (len_ascii·10 ≥ len·9), no float.
    "q163_gate_funnel" -> ((s, dir) => {
      Profile.gateFunnel(load(s, dir, "documents"), col("source"), Seq(
          "len" -> (col("n_chars") >= 200),
          "lang" -> col("lang").isin("en", "de", "fr", "es"),
          "tokens" -> (TextAnalysis.wsTokenCount(col("text")) >= 30),
          "ascii" -> (length(regexp_replace(col("text"), "[^\\x20-\\x7E]", ""))
            * 10 >= length(col("text")) * 9)))
        .orderBy(col("g"))
    }),

    // ---- Ordered step funnel view → click → purchase: first-touch,
    // strictly-after semantics; k−1 user-keyed joins, per-user state is
    // k timestamps, report stacked from one 1-row aggregate.
    "q164_event_funnel" -> ((s, dir) => {
      Temporal.eventFunnel(load(s, dir, "events"), col("user_id"),
          col("ts"), col("event_type"), Seq("view", "click", "purchase"))
        .orderBy(col("step_idx"))
    }),

    // ---- Tokenizer fertility per language under the q140 merges: BPE
    // pieces per whitespace word — the "tokenizer tax" dashboard a
    // multilingual pretraining run watches. Vocabulary join, never a
    // per-doc walk; fertility = exact rational Σnsym/Σwords.
    "q165_bpe_fertility" -> ((s, dir) => {
      Bpe.bpeFertility(load(s, dir, "documents"), "lang", "text", 8)
        .orderBy(col("lang"))
    }),

    // ---- Per-source data card: volume, tokens, mean length, language
    // share, exact-dup fraction, mean char-collision — the released-
    // corpus summary table, composed entirely from audited kernels in
    // one projection + the q42 md5 join + one aggregate.
    "q166_data_card" -> ((s, dir) => {
      Profile.dataCard(load(s, dir, "documents"),
          "source", "lang", "n_chars", "text")
        .orderBy(col("source"))
    }),

    // ---- Reliability curve of the q113 hashed-margin classifier vs the
    // q153 token-count rule: score-decile buckets × positive rate — the
    // calibration diagram behind a quality-gate threshold decision.
    // Corpus rank via the range-partitioned parallel walk (never a
    // single-task global window); (score, doc_id) total order so tied
    // scores bucket deterministically.
    "q167_reliability" -> ((s, dir) => {
      Profile.reliabilityCurve(load(s, dir, "documents"), col("doc_id"),
          TextAnalysis.hashedLinearScore(col("text")),
          TextAnalysis.wsTokenCount(col("text")) >= 15, 10)
        .orderBy(col("bucket"))
    }),

    // ---- k-anonymity with a generalization ladder: release each row at
    // the finest coarsening level whose class reaches k=5 — (lang,
    // 100-char bucket) → (lang, 1000-char bucket) → (lang) — suppress
    // only rows failing all three. The utility-preserving path next to
    // q168's all-or-nothing suppression.
    "q171_k_generalize" -> ((s, dir) => {
      Profile.kAnonymityGeneralize(load(s, dir, "documents"), Seq(
          Seq(col("lang"), expr("n_chars div 100")),
          Seq(col("lang"), expr("n_chars div 1000")),
          Seq(col("lang"))), 5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("qa_level") === 0).cast("long")).as("n_l0"),
          sum((col("qa_level") === 1).cast("long")).as("n_l1"),
          sum((col("qa_level") === 2).cast("long")).as("n_l2"),
          sum(col("suppressed").cast("long")).as("n_suppressed"))
        .orderBy(col("source"))
    }),

    // ---- IVF + PQ/ADC (the FAISS IVFADC layout): coarse sign-bucket
    // cells shortlist nprobe lists per query; PQ codebooks are trained
    // on RESIDUALS r = x − centroid(cell), and the ADC walk scores only
    // probed cells' members through an EQUI join on the cell id — the
    // billion-vector architecture, composed from the audited q48b probe
    // and q147b dense-LUT constructions. The LUT attach is byte-gated;
    // at this |Q| the gate picks broadcast.
    "q170_ann_ivfpq" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      SimilaritySearch.ivfPqTopK(emb.filter(col("vec_id") < 10), emb,
          8, 8, 4, 4, 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- The q170 pipeline with the LUT broadcast budget forced to 0:
    // the SHUFFLE_HASH-on-cid attach — the physical plan that runs at
    // production query counts (10k queries × nprobe 8 ≈ 1.3 GB of LUTs,
    // over any broadcast budget). Shares q170's oracle verbatim: the
    // gate steers strategy, never answers (the q44/q44b doctrine).
    "q170b_ann_ivfpq_shuffle" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      SimilaritySearch.ivfPqTopK(emb.filter(col("vec_id") < 10), emb,
          8, 8, 4, 4, 5, broadcastBudgetBytes = 0L)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- Binomial-mechanism noised release: k-suppression + integer
    // Binomial(64,1/2) noise from a seeded md5 popcount — the
    // replayable DP-style release tier after q168/q171.
    "q172_noised_release" -> ((s, dir) => {
      Profile.noisedRelease(load(s, dir, "documents"),
          concat(col("source"), lit(":"), col("lang")), 5, "r12")
        .orderBy(col("group_key"))
    }),

    // ---- Semantic decontamination: train vectors within cosine tau of
    // any eval vector, sign-LSH bucketed + exact verify — the
    // embedding-space complement of q72's n-gram overlap.
    "q173_semantic_decontam" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      Decontamination.semanticContaminated(
          emb.filter(col("vec_id") >= 25), emb.filter(col("vec_id") < 25),
          6, 0.15)
        .orderBy(col("train_id"))
    }),

    // ---- Leakage-safe split: every doc takes the split of its near-dup
    // CLUSTER representative (q44 pairs → q66 components), so a whole
    // cluster lands in one split by construction — near-dup train/test
    // leakage is impossible, not merely unlikely. sum_bucket pins the
    // rep-keyed hash values; n_linked pins the cluster membership.
    "q174_leakage_safe_split" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", 0.7).df
      Sampling.leakageSafeSplit(docs, "doc_id", pairs)
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(Sampling.splitBucket(col("rep_id").cast("string"))).as("sum_bucket"),
          count(when(col("linked"), 1)).as("n_linked"))
        .orderBy(col("source"), col("split"))
    }),

    // ---- MMR diverse top-10: relevance to query vec 0 balanced against
    // max-similarity to the already-picked set (λ=0.5) over a bounded
    // 199-candidate shortlist — the eval-slice/annotation-batch selector.
    // The query vector is a 1-row bounded collect; mmrSelect's k rounds
    // are each one narrow pass + TakeOrdered(1).
    "q175_mmr_select" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).collect()(0).getSeq[Float](0)
      val cands = emb.filter(col("vec_id").between(1, 199))
        .select(col("vec_id"), col("embedding"),
          graft.Tables.r6(SimilaritySearch.cosine(col("embedding"),
            typedLit(qv))).as("rel"))
      SimilaritySearch.mmrSelect(cands, 10).orderBy(col("rank"))
    }),

    // ---- Top principal component by power iteration over the q154
    // covariance — the PCA back half. Corpus work = the covariance pass;
    // the eigen-solve runs on the driver over the codebook-bounded cell
    // relation in exact fixed-point arithmetic (max-abs normalization,
    // no L2 so no 128-bit→double cast hazard).
    "q176_top_pc" -> ((s, dir) => {
      SimilaritySearch.topPrincipalComponent(
          load(s, dir, "embeddings"), "embedding")
        .orderBy(col("dim"))
    }),

    // ---- PCA projection scores: every vector dotted against the q176
    // component (row-local literal dot, no join) — the 1-d outlier /
    // curriculum sketch of the corpus's dominant axis.
    "q177_pc_projection" -> ((s, dir) => {
      SimilaritySearch.pcProjection(
          load(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy(col("vec_id"))
    }),

    // ---- Water-filling token budget across sources: compute the common
    // level τ from a GLOBAL budget (q89's per-stratum cap assumes the
    // caller knows the cap), allocate min(tokens, τ) per source. Pure
    // integer water-fill over the |sources|-row relation.
    "q178_water_fill" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
        .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      Sampling.waterFillBudget(docs, col("source"), col("n_toks"), 24000L)
        .orderBy(col("stratum"))
    }),

    // ---- Weak-supervision label model: three noisy LFs (a stopword
    // heuristic + two synthetic id-keyed rules that disagree) combined
    // by row-local majority vote with margin; all-abstain rows stay
    // unlabeled (NULL), never defaulted.
    "q179_label_model" -> ((s, dir) => {
      Profile.labelModelVote(load(s, dir, "documents"), col("doc_id"), Seq(
          when(col("text").like("% the %"), "en"),
          when(col("doc_id") % 7 < 3, "en")
            .when(col("doc_id") % 7 === 3, "de"),
          when(col("doc_id") % 11 === 0, "de")))
        .orderBy(col("id"))
    }),

    // ---- Soft dedup: per-doc sampling weight 1/cluster_size over the
    // q44 near-dup graph — every doc kept, a cluster of n copies
    // contributes one doc's worth of mass (the down-weighting
    // alternative to q78's hard canonicalize).
    "q180_cluster_weights" -> ((s, dir) => {
      Dedup.clusterWeights(load(s, dir, "documents"), "doc_id", "text", 0.7)
        .orderBy(col("doc_id"))
    }),

    // ---- Vocabulary growth (empirical Heaps curve) over doc_id-decile
    // ingest order: cumulative types/tokens + per-bucket new types and
    // hapax counts — the corpus-quality curve a review reads first.
    "q181_vocab_growth" -> ((s, dir) => {
      TextAnalysis.vocabularyGrowth(load(s, dir, "documents"),
          least(expr("doc_id div 50"), lit(9L)), "text")
        .orderBy(col("bucket"))
    }),

    // ---- Hamilton apportionment of 137 eval slots across (source,
    // lang) strata: floors + largest remainders, Σ slots = 137 exactly —
    // the fixed-budget eval-mix sizing step. 137 is deliberately coprime
    // to the stratum structure so remainders actually decide slots.
    "q182_apportion_slots" -> ((s, dir) => {
      Sampling.apportionSlots(load(s, dir, "documents"),
          concat(col("source"), lit(":"), col("lang")), 137L)
        .orderBy(col("stratum"))
    }),

    // ---- ANN quality report: recall@3 + MRR of the q48 LSH shortlist
    // against the q47 exact top-1 — the eval an index deployment ships.
    // Micro-rational reciprocal ranks keep the means engine-exact.
    "q183_ann_recall_report" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 20)
      SimilaritySearch.retrievalRecallReport(
        SimilaritySearch.lshTopK(qs, emb, 3, 6),
        SimilaritySearch.bruteForceTopK(qs, emb, 1), 3)
    }),

    // ---- Content-defined chunking (FastCDC family): md5-masked
    // boundaries, per-source chunk dedup ratio — sub-document
    // shared-boilerplate / storage-dedup estimate, shift-resistant
    // where q127's fixed-size chunks are not.
    "q184_cdc_chunks" -> ((s, dir) => {
      Dedup.cdcChunkReport(load(s, dir, "documents"), "doc_id", "text",
          col("source"))
        .orderBy(col("group_key"))
    }),

    // ---- Boolean-AND search, BM25-ranked top 10: docs containing ALL
    // of {dup, join, vector} — posting intersection by counting over
    // the q92 scorer, the retrieval query a search surface runs.
    "q185_conjunctive_search" -> ((s, dir) => {
      TextAnalysis.conjunctiveSearch(
          load(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", Seq("dup", "join", "vector"), 10)
        .orderBy(col("rank"))
    }),

    // ---- Canary audit: plant one deterministic canary per doc_id%37
    // doc (the q42 planting pattern), then the extraction report must
    // find exactly those — the memorization-review audit after
    // training-set assembly. Some docs duplicate a NEIGHBOR's canary
    // (doc_id%74) to exercise the multi-doc rollup.
    "q186_canary_audit" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val canary = concat(lit(" CANARY-"),
        substring(md5(concat(lit("canary:"), (col("doc_id") - col("doc_id") % 74).cast("string"))), 1, 8))
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 37 === 0, concat(col("text"), canary))
          .otherwise(col("text")).as("text"))
      TextAnalysis.patternExtractReport(planted, "doc_id", "text",
          "CANARY-[0-9a-f]{8}")
        .orderBy(col("matched"))
    }),

    // ---- Per-source distinctive terms (log-free c-TF-IDF lift, top 5):
    // the keyword panel a data card shows per source.
    "q187_distinctive_terms" -> ((s, dir) => {
      TextAnalysis.distinctiveTerms(load(s, dir, "documents"),
          col("source"), "text", 5)
        .orderBy(col("group_key"), col("rank"))
    }),

    // ---- Benford first-digit audit over lineitem cent prices — the
    // fabricated-data screen; expectations are r6 literals (no runtime
    // log), digit from the integer's decimal string.
    "q188_benford" -> ((s, dir) => {
      Profile.benfordReport(load(s, dir, "lineitem"),
          round(col("l_extendedprice") * 100))
        .orderBy(col("digit"))
    }),

    // ---- Flesch readability per doc: deterministic word/sentence/
    // vowel-group counts + the literal-constant score — curriculum
    // buckets and the boilerplate-tail screen.
    "q189_readability" -> ((s, dir) => {
      TextAnalysis.readability(load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- Chunk→doc mean pooling: 5 consecutive chunk vectors pool to
    // one doc vector (relational (group, dim, value) output) — the
    // retrieval-prep step before doc-level indexing.
    "q190_mean_pool" -> ((s, dir) => {
      SimilaritySearch.meanPoolVectors(load(s, dir, "embeddings"),
          expr("vec_id div 5"), "embedding")
        .orderBy(col("group_key"), col("dim"))
    }),

    // ---- Materialized eval set: exactly the q182 allocation, rows
    // chosen per stratum by the q73 crawl-stable md5 rank. sum_ids pins
    // WHICH docs, n per stratum pins the allocation itself.
    "q191_apportioned_sample" -> ((s, dir) => {
      Sampling.materializeApportioned(load(s, dir, "documents"),
          concat(col("source"), lit(":"), col("lang")),
          concat(col("text"), col("doc_id")), 137L)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_picked"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("source"), col("lang"))
    }),

    // ---- Data card v2: the round-12 signals joined into one per-source
    // panel — mean Flesch (exact decimal sum of the r6 per-doc scores),
    // CDC chunk dup ratio, and the hapax share of the source's exclusive
    // vocabulary (corpus-freq-1 terms live in exactly one source). Three
    // bounded relations joined on the source key.
    "q192_data_card_v2" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val flesch = TextAnalysis.readability(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          graft.Tables.r6(graft.Tables.dsum(col("flesch")) /
            count(lit(1)).cast("double")).as("mean_flesch"))
      val cdc = Dedup.cdcChunkReport(docs, "doc_id", "text", col("source"))
        .select(col("group_key").as("source"), col("dup_ratio"))
      val terms = docs.select(col("source"),
          explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("term"))
        .agg(countDistinct(col("source")).as("nsrc"), count(lit(1)).as("freq"),
          min(col("source")).as("only_src"))
      val hapax = terms.filter(col("nsrc") === 1)
        .groupBy(col("only_src").as("source"))
        .agg(count(lit(1)).as("n_excl"),
          count(when(col("freq") === 1, 1)).as("n_hapax"))
        .select(col("source"),
          graft.Tables.r6(col("n_hapax").cast("double") /
            col("n_excl").cast("double")).as("hapax_share"))
      flesch.join(cdc, Seq("source")).join(hapax, Seq("source"), "left")
        .orderBy(col("source"))
    }),

    // ---- Dedup-graph transitivity: 3·triangles/wedges over the q44
    // pair relation — the threshold-quality number read before trusting
    // q66's clusters (a true equivalence closes every wedge).
    "q193_dedup_transitivity" -> ((s, dir) => {
      val pairs = Dedup.nearDupPairs(load(s, dir, "documents"),
        "doc_id", "text", 0.7).df
      graft.operators.GraphRank.transitivityAudit(pairs)
    }),

    // ---- MinHash-LSH under the SCALED (6 bands × 5 rows, 30-hash)
    // banding profile — the large-corpus selectivity setting whose
    // candidate volume stays near-linear where the default (4, 4)
    // profile goes quadratic (SCALING.md "Banded dedup at large absolute
    // scale"). Same verify semantics; the oracle replays the scaled
    // banding from the same generator, so the profile is gate-verified
    // bit-for-bit like the default.
    "q194_dedup_minhash_scaled" -> ((s, dir) => {
      Dedup.nearDupPairs(load(s, dir, "documents"),
          "doc_id", "text", 0.7, NearDupProfile.CharScaled).df
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- q173's forced SHUFFLE_HASH twin (1-byte budget): the plan the
    // operator takes when the eval set's embeddings outgrow the
    // broadcast budget. Shares q173's oracle verbatim.
    "q173b_semantic_decontam_shuffle" -> ((s, dir) => {
      val emb = load(s, dir, "embeddings")
      Decontamination.semanticContaminated(
          emb.filter(col("vec_id") >= 25), emb.filter(col("vec_id") < 25),
          6, 0.15, broadcastBudgetBytes = 1L)
        .orderBy(col("train_id"))
    }),

    // ---- Crawl politeness schedule: per-host fetch slots spaced
    // delaySeconds apart, high-priority (longer) pages first — the
    // frontier step between q158's robots filter and the fetchers. One
    // per-HOST window: groups are frontier hosts (millions at scale), so
    // the window parallelism is cardinality-bound — the deliberate
    // opposite of the q152/q167 few-groups rule.
    "q169_crawl_schedule" -> ((s, dir) => {
      val url = concat(lit("https://site"), (col("doc_id") % 50).cast("string"),
        lit(".example.com/s"), (col("doc_id") % 7).cast("string"),
        lit("/p"), (col("doc_id") % 11).cast("string"))
      UrlOps.politenessSchedule(
          load(s, dir, "documents").select(col("doc_id"), url.as("url"),
            col("n_chars")),
          "doc_id", "url", col("n_chars"), 5)
        .orderBy(col("host"), col("slot"))
    }),

    // ---- k-anonymity release gate over (lang, length-bucket) quasi
    // identifiers: rows in equivalence classes smaller than k=5 are
    // flagged; the gate reports the suppressed mass per source — what a
    // release note must disclose. Exact integer length buckets (div).
    "q168_k_anonymity" -> ((s, dir) => {
      Profile.kAnonymityAnnotate(load(s, dir, "documents"),
          Seq(col("lang"), expr("n_chars div 100")), 5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("suppressed").cast("long")).as("n_suppressed"))
        .select(col("source"), col("n_docs"), col("n_suppressed"),
          graft.Tables.r6(col("n_suppressed").cast("double") /
            col("n_docs").cast("double")).as("suppressed_frac"))
        .orderBy(col("source"))
    }),

    // ---- Winnowing fingerprint panel (MOSS, Schleimer et al. 2003):
    // per-doc selected-fingerprint statistics from the row-local
    // window-min selection (k=5 token grams, w=4 windows) — n_fps/sum/
    // min/max pin the selected SET integer-exactly, so the oracle's
    // window-function replay proves the array-transform selection
    // picks byte-identical minima.
    "q195_winnow_fingerprints" -> ((s, dir) => {
      // tokens, gram hashes, and the window-min selection each
      // materialized before the next stage consumes them (winnowSelect
      // scaladoc: the fused form re-evaluates the md5 gram chain per
      // window in the interpreted HOF — measured 240 s vs <1 s here)
      load(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("_ts"))
        .select(col("doc_id"),
          greatest(size(col("_ts")) - 4, lit(0)).cast("long").as("n_grams"),
          TextHashing.gramHashesFromTokens(col("_ts"), 5).as("_gh"))
        .select(col("doc_id"), col("n_grams"),
          TextHashing.winnowSelect(col("_gh"), 4).as("_f"))
        .select(col("doc_id"), col("n_grams"),
          size(col("_f")).cast("long").as("n_fps"),
          // modular sum (mod 2^61): fps are md5-48 values < 2^48, so the
          // accumulator stays < 2^61 + 2^48 — no silent long wrap at ANY
          // per-doc fingerprint count (the unreduced fold would wrap
          // around ~2^15 fps/doc while the oracle's HUGEINT sum errored
          // — an asymmetric failure). Oracle: sum(fp) % 2^61 in HUGEINT,
          // identical by modular-addition associativity.
          aggregate(col("_f"), lit(0L),
            (a, x) => (a + x) % lit(2305843009213693952L)).as("fp_sum"),
          array_min(col("_f")).as("fp_min"),
          array_max(col("_f")).as("fp_max"))
        .orderBy(col("doc_id"))
    }),

    // ---- Winnowing near-dup pairs: docs sharing ≥3 selected
    // fingerprints (df-capped equi-join — a fingerprint in >50 docs is
    // boilerplate, q79's argument). The third pairing family next to
    // MinHash-LSH (q44) and SimHash (q45), and the only one with the
    // LOCAL guarantee: any shared verbatim run of ≥ w+k−1 = 8 tokens
    // yields a shared fingerprint (WinnowSpec pins the guarantee).
    "q196_winnow_neardup" -> ((s, dir) => {
      Dedup.winnowPairs(load(s, dir, "documents"), "doc_id", "text",
          k = 5, w = 4, minShared = 3, dfCap = 50)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- DSIR importance weights + resampling (Xie et al. 2023):
    // rational target-likeness weights over hashed unigram buckets
    // (target = lang-en docs), then the paper's importance RESAMPLING
    // as the q106 priority construction (priority = weight / content-
    // keyed uniform), top-100, doc_id tiebreak (unique — exact-dup
    // texts can't make the cut order ambiguous the way a text tiebreak
    // could). The selected SET is the gate: which docs survive pins
    // both the weights and the priorities.
    "q197_dsir_weights" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val wts = Sampling.dsirWeights(docs, "doc_id", "text",
        col("lang") === "en", buckets = 256)
      val u = (TextAnalysis.md5Hash48(col("text")) + lit(1L)).cast("double") /
        lit((1L << 48).toDouble)
      val pri = wts
        .join(docs.select(col("doc_id").as("pid"), col("source"), col("text")),
          "pid")
        .withColumn("_pri", col("weight") / u)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("_pri").desc, col("pid"))
      pri.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= 100)
        .select(col("pid").as("doc_id"), col("source"),
          col("w_num"), col("w_den"))
        .orderBy(col("doc_id"))
    }),

    // ---- C4 cleaning filter (Raffel et al. 2020 §2.2) over a
    // line-structured corpus derived in-query (8-token sentences + one
    // planted junk line per doc_id%7 family). Families 1 ('{') and 2
    // ('lorem ipsum') pin the PAGE-level rules — the whole doc is
    // dropped, per the paper; families 3/4/5 pin the three LINE rules
    // (javascript / short / no terminal punct) — only the junk line is
    // removed. Docs keeping <3 lines are also dropped; clean_md5
    // byte-pins the rebuilt text of survivors.
    "q198_c4_line_filter" -> ((s, dir) => {
      // split barriered before the sentence transform (HOF doctrine —
      // slice inside the lambda would re-split the text per sentence)
      val toks = col("_ts")
      val real = transform(sequence(lit(1), size(toks), lit(8)),
        p => concat(concat_ws(" ", slice(toks, p, lit(8))), lit(".")))
      val junk = when(col("doc_id") % 7 === 1,
          array(lit("function() { return 0 }")))
        .when(col("doc_id") % 7 === 2,
          array(lit("lorem ipsum dolor sit amet.")))
        .when(col("doc_id") % 7 === 3,
          array(lit("please enable javascript to view this page.")))
        .when(col("doc_id") % 7 === 4, array(lit("short line.")))
        .when(col("doc_id") % 7 === 5,
          array(lit("no terminal punctuation here at all")))
        .otherwise(array().cast("array<string>"))
      // translate guards the fixture: a '\n' inside a source token would
      // silently desynchronize the Spark re-split line count from the
      // oracle's constructed-row count (current corpora contain none;
      // the strip makes a future generator change unable to break the
      // gate silently). The oracle applies the same replace(chr(10)).
      val lined = load(s, dir, "documents")
        .select(col("doc_id"),
          split(translate(col("text"), "\n", " "), " ").as("_ts"))
        .select(col("doc_id"),
          array_join(concat(real, junk), "\n").as("text"))
      TextAnalysis.c4LineFilter(lined, "doc_id", "text",
          minWordsPerLine = 5, minLinesPerDoc = 3)
        .select(col("doc_id"), col("n_lines").cast("long").as("n_lines"),
          col("n_kept").cast("long").as("n_kept"),
          col("kept_doc").cast("int").as("kept_doc"), col("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- MinHash-LSH over TOKEN 3-shingles (scaled banding) — the
    // universe-growing dedup profile for corpora whose char-gram universe
    // saturates (SCALING.md round 13: fixed ~1,580-gram universe ⇒
    // min-concentration ⇒ Ω(n²) candidates under ANY (b, r); the token
    // universe grows with the vocabulary, so hot buckets cannot form
    // structurally). Verified bit-for-bit like q44/q194: the oracle
    // replays token shingling, the wide (mod-P-first) minhash family,
    // banding, and hash-set Jaccard from the same constants.
    "q199_dedup_minhash_tokens" -> ((s, dir) => {
      Dedup.nearDupPairs(load(s, dir, "documents"),
          "doc_id", "text", threshold = 0.7, NearDupProfile.Token).df
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Fill-in-the-middle transform (Bavarian et al. 2022): content-
    // keyed character cuts, 50% FIM rate split evenly PSM/SPM, md5 byte
    // pin of every reassembled doc — which proves prefix/middle/suffix
    // slicing AND sentinel concatenation agree with the oracle to the
    // byte, for all three modes and the degenerate empty-segment cuts.
    "q200_fim_transform" -> ((s, dir) => {
      Packing.fimTransform(load(s, dir, "documents"), "doc_id", "text",
          fimRatePct = 50)
        .orderBy(col("doc_id"))
    }),

    // ---- Inverse Cloze Task pairs (Lee et al. 2019): content-keyed
    // block-as-query extraction with the 10% keep-in-context coin; both
    // sides md5 byte-pinned, so block slicing, removal, and rejoin are
    // proven byte-identical — including last-block truncation and the
    // single-block degenerate (empty context).
    "q201_ict_pairs" -> ((s, dir) => {
      Packing.ictPairs(load(s, dir, "documents"), "doc_id", "text",
          blockSize = 8, keepPct = 10)
        .orderBy(col("doc_id"))
    }),

    // ---- Dedup profile auto-selection (the round-13 saturation
    // discovery as an oracle-GATED operator, not just a spec): the
    // bounded content-keyed probe — non-ASCII char ratio, char-3-gram
    // universe growth under a content-keyed half, Σ C(bucket,2) under
    // the chosen profile's own banding — with every decision an INTEGER
    // comparison, so the oracle replays sample selection, both hash
    // families, the banding histograms, and the decision rules exactly.
    "q202_dedup_profile" -> ((s, dir) => {
      import s.implicits._
      val r = Dedup.recommendProfile(load(s, dir, "documents"),
        "doc_id", "text", sampleDocs = 2048)
      Seq((r.profile, r.maxBucket, r.sampleDocs, r.nonAsciiChars,
          r.totalChars, r.distinctGrams, r.halfSeenGrams, r.estPairs))
        .toDF("profile", "max_bucket", "sample_docs", "non_ascii_chars",
          "total_chars", "distinct_grams", "half_seen_grams", "est_pairs")
    }),

    // ---- THE auto front door itself (r15): nearDupPairsAutoManaged = the q202
    // probe ACTED ON — probe, then dispatch to the recommended profile
    // and cap. The oracle replays the probe decision AND the recommended
    // profile's full pair chain, with the decision as a TRIPWIRE: the
    // final select is gated on (profile='token', cap=0) — the decision
    // the probe provably makes on this corpus (q202's gate at all three
    // SFs) — so if either the probe's decision or the dispatch ever
    // drifts, this gate fails loudly (empty vs non-empty) instead of
    // silently comparing the wrong chain.
    "q203_dedup_auto" -> ((s, dir) => {
      Dedup.nearDupPairsAutoManaged(load(s, dir, "documents"), "doc_id", "text",
          threshold = 0.7).df
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- The auto front door APPLIED (q78's shape through the probe):
    // probe → recommended-profile pairs → clusters → kept corpus, as
    // the one call a curation pipeline makes. Oracle = probe tripwire +
    // token pair chain + recursive reachability + keep-min-id join.
    "q204_dedup_canonical_auto" -> ((s, dir) => {
      Dedup.canonicalizeAuto(
          load(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
          "doc_id", "text", 0.7)
        .select(col("doc_id"), col("source"), md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- The INCREMENTAL path through the auto front door (r15 verdict
    // #4): the index is built by dedupIndexAuto — probe at BUILD time,
    // profile/cap recorded IN the index — and q81's batch arrives against
    // it, dispatching off the recorded profile (token on this corpus; the
    // probe over the <400 slice measures universe 377, half-covered ⇒
    // saturated, at every SF). Oracle = probe tripwire over the indexed
    // slice + the full-corpus TOKEN pair chain filtered to batch-touching
    // pairs (q81's equivalence argument, q199's resemblance).
    "q205_dedup_index_auto" -> ((s, dir) => {
      val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
      val existing = docs.filter(col("doc_id") < 400)
      val batch = docs.filter(col("doc_id") >= 400).unionByName(
        docs.filter(col("doc_id") < 30).withColumn("doc_id", col("doc_id") + 300000L))
      Dedup.incrementalPairs(
          Dedup.dedupIndexAuto(existing, "doc_id", "text"), batch,
          "doc_id", "text", 0.7)
        .orderBy(col("id_a"), col("id_b"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q42_dedup_exact" ->
      """SELECT keep_id, n_copies, text_md5 FROM (
        |  SELECT md5(text) AS text_md5, length(text) AS text_len,
        |         min(doc_id) AS keep_id, count(*) AS n_copies
        |  FROM (SELECT doc_id, text FROM documents
        |        UNION ALL
        |        SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50)
        |  GROUP BY md5(text), length(text))
        |WHERE n_copies > 1 ORDER BY keep_id""".stripMargin,

    "q43_dedup_jaccard" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM gr GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT id_a, id_b, inter*1.0/(sa.n + sb.n - inter) AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         |WHERE inter*1.0/(sa.n + sb.n - inter) >= 0.7
         |ORDER BY id_a, id_b""".stripMargin,

    "q44_dedup_minhash_lsh" ->
      s"""WITH $minhashPairsCtes
         |SELECT id_a, id_b, jaccard FROM pr ORDER BY id_a, id_b""".stripMargin,

    "q44b_dedup_minhash_shuffle" ->
      s"""WITH $minhashPairsCtes
         |SELECT id_a, id_b, jaccard FROM pr ORDER BY id_a, id_b""".stripMargin,

    // The same generator replaying the SCALED profile (30 hashes, 6×5
    // banding) — candidates differ from q44's, the verify threshold is
    // identical.
    "q194_dedup_minhash_scaled" ->
      s"""WITH ${minhashPairsCtesOver("documents", LshBanding.Scaled)}
         |SELECT id_a, id_b, jaccard FROM pr ORDER BY id_a, id_b""".stripMargin,

    // Winnowing selection replayed as a window-function min over the
    // positional gram-hash stream — same hash, same window coverage
    // (pos ≤ max(ng−w+1, 1)), same distinct set; the panel's integer
    // aggregates pin the set exactly. fp_sum reduces mod 2^61 on both
    // engines (exact HUGEINT sum here, overflow-free modular fold on
    // the Spark side — associativity makes them equal).
    "q195_winnow_fingerprints" ->
      s"""WITH $winnowCtes,
         |agg AS (SELECT doc_id, count(*) AS n_fps,
         |               CAST(sum(fp) % 2305843009213693952 AS BIGINT) AS fp_sum,
         |               min(fp) AS fp_min, max(fp) AS fp_max
         |        FROM sel GROUP BY doc_id)
         |SELECT d.doc_id,
         |       CAST(greatest(len(string_split(d.text, ' ')) - 4, 0) AS BIGINT)
         |         AS n_grams,
         |       CAST(coalesce(a.n_fps, 0) AS BIGINT) AS n_fps,
         |       CAST(coalesce(a.fp_sum, 0) AS BIGINT) AS fp_sum,
         |       a.fp_min, a.fp_max
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // Same selected sets, df-capped fingerprint equi-join, pair rollup.
    "q196_winnow_neardup" ->
      s"""WITH $winnowCtes,
         |dfc AS (SELECT fp, count(*) AS nd FROM sel GROUP BY fp),
         |sh AS (SELECT fp FROM dfc WHERE nd BETWEEN 2 AND 50),
         |f2 AS (SELECT s.doc_id, s.fp FROM sel s JOIN sh USING (fp)),
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |              CAST(count(*) AS BIGINT) AS n_shared
         |       FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared FROM pr WHERE n_shared >= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // Rational DSIR replayed: same md5-48 bucket hash, same add-one
    // ratio-of-sums, the same TWO-divide priority composition in the
    // same order (num/den, then ÷ (h+1)/2^48 — each divide exactly
    // rounded, so the doubles and hence the top-100 agree bit-for-bit).
    "q197_dsir_weights" ->
      (s"""WITH t AS (SELECT doc_id, (lang = 'en') AS tgt,
         |                  unnest(string_split(text, ' ')) AS tok
         |           FROM documents),
         |tb AS (SELECT doc_id, tgt,
         |              (${graft.operators.TextAnalysis.md5Hash48Sql("tok")}) % 256 AS b
         |       FROM t WHERE length(tok) > 0),
         |cnt AS (SELECT b, count(*) AS craw,
         |               sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ctgt
         |        FROM tb GROUP BY b),
         |d AS (SELECT tb.doc_id,
         |             CAST(sum(ctgt + 1) AS BIGINT) AS w_num,
         |             CAST(sum(craw + 1) AS BIGINT) AS w_den
         |      FROM tb JOIN cnt USING (b) GROUP BY tb.doc_id),
         |p AS (SELECT d.doc_id, doc.source, d.w_num, d.w_den,
         |             (CAST(d.w_num AS DOUBLE) / CAST(d.w_den AS DOUBLE))
         |             / (CAST(${graft.operators.TextAnalysis.md5Hash48Sql("doc.text")} + 1 AS DOUBLE)
         |                / 281474976710656.0) AS pri
         |      FROM d JOIN documents doc USING (doc_id)),
         |r AS (SELECT *, row_number() OVER (ORDER BY pri DESC, doc_id) AS rn
         |      FROM p)
         |SELECT doc_id, source, w_num, w_den FROM r WHERE rn <= 100
         |ORDER BY doc_id""".stripMargin),

    // The same line construction (8-token sentences over the
    // newline-stripped text, one junk line per doc_id%7 family at
    // ordering key 1e6 = after every real line), the paper's two rule
    // levels — page-level '{'/'lorem ipsum' computed as an any-line
    // bool_or (equivalent to the full-text check: neither pattern can
    // span a chr(10)) — and md5 over the newline-rejoined kept lines.
    "q198_c4_line_filter" ->
      """WITH toks AS (SELECT doc_id,
        |              string_split(replace(text, chr(10), ' '), ' ') AS ts
        |              FROM documents),
        |rl AS (SELECT doc_id, p, array_to_string(ts[p:p+7], ' ') || '.' AS line
        |       FROM toks, unnest(range(1, len(ts) + 1, 8)) AS r(p)),
        |jk AS (SELECT doc_id, 1000000 AS p,
        |              CASE doc_id % 7
        |                WHEN 1 THEN 'function() { return 0 }'
        |                WHEN 2 THEN 'lorem ipsum dolor sit amet.'
        |                WHEN 3 THEN 'please enable javascript to view this page.'
        |                WHEN 4 THEN 'short line.'
        |                WHEN 5 THEN 'no terminal punctuation here at all'
        |              END AS line
        |       FROM documents WHERE doc_id % 7 BETWEEN 1 AND 5),
        |al AS (SELECT * FROM rl UNION ALL SELECT * FROM jk),
        |pg AS (SELECT doc_id,
        |              bool_or(line LIKE '%{%'
        |                      OR lower(line) LIKE '%lorem ipsum%') AS page_bad,
        |              count(*) AS n_lines
        |       FROM al GROUP BY doc_id),
        |kp AS (SELECT doc_id, p, line FROM al
        |       WHERE right(line, 1) IN ('.', '!', '?', '"')
        |         AND len(string_split(line, ' ')) >= 5
        |         AND lower(line) NOT LIKE '%javascript%'),
        |ag AS (SELECT doc_id, count(*) AS n_kept,
        |              md5(string_agg(line, chr(10) ORDER BY p)) AS all_md5
        |       FROM kp GROUP BY doc_id)
        |SELECT n.doc_id, CAST(n.n_lines AS BIGINT) AS n_lines,
        |       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
        |       CASE WHEN NOT n.page_bad AND coalesce(a.n_kept, 0) >= 3
        |            THEN 1 ELSE 0 END AS kept_doc,
        |       CASE WHEN NOT n.page_bad AND coalesce(a.n_kept, 0) >= 3
        |            THEN a.all_md5 END AS clean_md5
        |FROM pg n LEFT JOIN ag a USING (doc_id)
        |ORDER BY n.doc_id""".stripMargin,

    // Token-shingle pair chain replayed under the scaled banding — same
    // minhash constants, wide (mod-P-first) family, hash-set Jaccard.
    "q199_dedup_minhash_tokens" ->
      s"""WITH ${tokenMinhashPairsCtes(LshBanding.Scaled, 3)}
         |SELECT id_a, id_b, jaccard FROM pr ORDER BY id_a, id_b""".stripMargin,

    // FIM replay: same md5-derived cuts/mode coin (// is DuckDB integer
    // division — exact, matching Spark's proven-exact floor(hf/100)),
    // same sentinel concatenation, md5 over the reassembled string.
    "q200_fim_transform" ->
      s"""WITH d AS (SELECT doc_id, text, length(text) AS n,
         |  CAST(${graft.operators.TextAnalysis.md5Hash48Sql("(text || ':c1')")} AS BIGINT) % (length(text) + 1) AS a,
         |  CAST(${graft.operators.TextAnalysis.md5Hash48Sql("(text || ':c2')")} AS BIGINT) % (length(text) + 1) AS b,
         |  CAST(${graft.operators.TextAnalysis.md5Hash48Sql("(text || ':fim')")} AS BIGINT) AS hf
         |  FROM documents),
         |c AS (SELECT doc_id, text, n, hf,
         |             least(a, b) AS lo, greatest(a, b) AS hi FROM d),
         |t AS (SELECT doc_id, lo, hi,
         |  CASE WHEN hf % 100 >= 50 THEN 'ar'
         |       WHEN (hf // 100) % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode,
         |  CASE WHEN hf % 100 >= 50 THEN text
         |       WHEN (hf // 100) % 2 = 0 THEN
         |         '<PRE>' || substr(text, 1, lo) || '<SUF>' ||
         |         substr(text, hi + 1, n - hi) || '<MID>' ||
         |         substr(text, lo + 1, hi - lo)
         |       ELSE
         |         '<SUF>' || substr(text, hi + 1, n - hi) || '<PRE>' ||
         |         substr(text, 1, lo) || '<MID>' ||
         |         substr(text, lo + 1, hi - lo)
         |  END AS out
         |  FROM c)
         |SELECT doc_id, mode, CAST(lo AS BIGINT) AS cut_lo,
         |       CAST(hi AS BIGINT) AS cut_hi, md5(out) AS out_md5,
         |       CAST(length(out) AS BIGINT) AS out_len
         |FROM t ORDER BY doc_id""".stripMargin,

    // ICT replay: same md5 block/keep coins, same 8-token blocks, the
    // removed-block context rebuilt from the two list slices.
    "q201_ict_pairs" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ts
         |           FROM documents),
         |d AS (SELECT doc_id, ts, len(ts) AS n,
         |             CAST((len(ts) + 7) // 8 AS BIGINT) AS nb,
         |             CAST(${graft.operators.TextAnalysis.md5Hash48Sql("(text || ':ict')")} AS BIGINT) AS h,
         |             CAST(${graft.operators.TextAnalysis.md5Hash48Sql("(text || ':keep')")} AS BIGINT) AS hk
         |      FROM t),
         |s AS (SELECT doc_id, ts, n, nb, h % nb AS j,
         |             (hk % 100 < 10) AS kept FROM d),
         |o AS (SELECT doc_id, nb, j, kept,
         |             array_to_string(ts[CAST(j*8+1 AS INT):CAST(j*8+8 AS INT)], ' ') AS q,
         |             CASE WHEN kept THEN array_to_string(ts, ' ')
         |                  ELSE array_to_string(list_concat(
         |                         ts[1:CAST(j*8 AS INT)],
         |                         ts[CAST(j*8+9 AS INT):CAST(n AS INT)]), ' ')
         |             END AS ctx
         |      FROM s)
         |SELECT doc_id, nb AS n_blocks, CAST(j AS BIGINT) AS blk_idx,
         |       CASE WHEN kept THEN 1 ELSE 0 END AS kept,
         |       md5(q) AS query_md5, md5(ctx) AS ctx_md5
         |FROM o ORDER BY doc_id""".stripMargin,

    // Full probe replay: content-keyed top-2048 sample, Σ non-ASCII /
    // Σ chars, char-3 universe + content-keyed-half coverage, then the
    // band-bucket Σ C(size,2) under ALL THREE profiles (char scaled /
    // token scaled-wide / codepoint default-wide) with the integer
    // decision rules CASE-selecting the one the operator measures.
    // Bucket keys here are (band, concat'd minhash string) vs Spark's
    // xxhash64 — equal modulo a ~2⁻⁶⁴ hash collision, same argument as
    // every pair-chain oracle.
    "q202_dedup_profile" ->
      s"""WITH ${probeDecisionCtes("")}
         |SELECT profile,
         |       CAST(CASE WHEN est > 16*n THEN 500 ELSE 0 END AS BIGINT) AS max_bucket,
         |       n AS sample_docs, na_num AS non_ascii_chars,
         |       na_den AS total_chars, universe AS distinct_grams,
         |       half_seen AS half_seen_grams, est AS est_pairs
         |FROM sel""".stripMargin,

    // Probe decision + the recommended chain, with the decision as the
    // tripwire: on this corpus the probe provably recommends
    // (token, uncapped) — q202 at sf0.001/sf0.01/sf0.1 — so the pair
    // relation replayed here is q199's token chain, and the final select
    // is gated on the decision actually being (token, 0). Any drift in
    // the probe rules, the sample, or the dispatch turns this gate
    // loudly red (empty vs non-empty) rather than comparing the wrong
    // chain.
    "q203_dedup_auto" ->
      s"""WITH ${probeDecisionCtes("p_")},
         |${tokenMinhashPairsCtes(LshBanding.Scaled, 3)}
         |SELECT id_a, id_b, jaccard FROM pr, p_sel
         |WHERE p_sel.profile = 'token'
         |  AND CAST(CASE WHEN p_sel.est > 16*p_sel.n THEN 500 ELSE 0 END AS BIGINT) = 0
         |ORDER BY id_a, id_b""".stripMargin,

    // q78's canonical-corpus oracle over the AUTO-dispatched (token)
    // pair chain, with the same probe tripwire as q203.
    "q204_dedup_canonical_auto" ->
      s"""WITH RECURSIVE ${probeDecisionCtes("p_")},
         |${tokenMinhashPairsCtes(LshBanding.Scaled, 3)},
         |edges AS (SELECT id_a AS u, id_b AS v FROM pr
         |          UNION SELECT id_b, id_a FROM pr),
         |reach(v, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.v),
         |cl AS (SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS rep_id
         |       FROM reach GROUP BY v)
         |SELECT d.doc_id, d.source, md5(d.text) AS text_md5
         |FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
         |CROSS JOIN p_sel
         |WHERE (cl.rep_id IS NULL OR cl.rep_id = d.doc_id)
         |  AND p_sel.profile = 'token'
         |  AND CAST(CASE WHEN p_sel.est > 16*p_sel.n THEN 500 ELSE 0 END AS BIGINT) = 0
         |ORDER BY d.doc_id""".stripMargin,

    // Probe replay over the INDEXED slice (existing = doc_id < 400) as
    // the tripwire — (token, cap 0) is the decision the probe provably
    // makes on that slice at every SF — plus the full-corpus token pair
    // chain filtered to batch-touching pairs: existing ids are all <400
    // and batch ids ≥400, so "id_b ≥ 400" ⇔ "at least one endpoint
    // incoming" (q81's equivalence argument under q199's resemblance).
    "q205_dedup_index_auto" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 300000, text FROM documents WHERE doc_id < 30),
         |existing AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
         |${probeDecisionCtes("p_", "existing")},
         |${tokenMinhashPairsCtes(LshBanding.Scaled, 3, "corpus")}
         |SELECT id_a, id_b, jaccard FROM pr, p_sel
         |WHERE id_b >= 400
         |  AND p_sel.profile = 'token'
         |  AND CAST(CASE WHEN p_sel.est > 16*p_sel.n THEN 500 ELSE 0 END AS BIGINT) = 0
         |ORDER BY id_a, id_b""".stripMargin,

    // Connected components as min-reachable-id: u's representative is the
    // smallest id reachable through the symmetrized pair graph. Shared by
    // q66 (budget-gated driver union-find at these SFs) and q66b (forced
    // distributed large-star/small-star) — the physical strategy cannot
    // change answers.
    "q66_dedup_clusters" -> clustersOracle,
    "q66b_dedup_clusters_dist" -> clustersOracle,

    "q45_dedup_simhash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
         |), th AS (
         |  SELECT doc_id, CAST(${tokenHashSql("t")} AS BIGINT) AS h
         |  FROM toks WHERE length(t) > 0
         |), bits AS (
         |  SELECT doc_id, h, unnest(generate_series(0, 31)) AS bit FROM th
         |), bsum AS (
         |  SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM bits GROUP BY doc_id, bit
         |), fp AS (
         |  SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS fingerprint
         |  FROM bsum GROUP BY doc_id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.fingerprint, b.fingerprint)) AS INT) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 1
         |ORDER BY id_a, id_b""".stripMargin,

    "q46_dedup_embed_cosine" ->
      """WITH norms AS (
        |  SELECT vec_id, embedding,
        |         sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS u(x))) AS nrm,
        |         (SELECT CAST(sum(CASE WHEN embedding[j+1] > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
        |          FROM unnest(generate_series(0, 5)) AS t(j)) AS bucket
        |  FROM embeddings),
        |probes AS (
        |  SELECT vec_id, embedding, nrm,
        |         xor(bucket, CASE WHEN j = 0 THEN 0 ELSE CAST(pow(2, j-1) AS BIGINT) END) AS pb
        |  FROM norms, unnest(generate_series(0, 6)) AS t(j)),
        |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding ea, b.embedding eb,
        |                 a.nrm na, b.nrm nb
        |          FROM probes a JOIN norms b ON a.pb = b.bucket AND a.vec_id < b.vec_id),
        |dots AS (SELECT id_a, id_b, sum(CAST(x1 AS DOUBLE)*CAST(x2 AS DOUBLE)) AS dot,
        |                any_value(na) AS na, any_value(nb) AS nb
        |         FROM (SELECT id_a, id_b, unnest(ea) AS x1, unnest(eb) AS x2, na, nb FROM pairs)
        |         GROUP BY id_a, id_b)
        |SELECT id_a, id_b, round(dot/(na*nb), 6) AS cosine FROM dots
        |WHERE round(dot/(na*nb), 6) >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    "q46b_dedup_embed_exact" ->
      """WITH norms AS (
        |  SELECT vec_id, embedding,
        |         sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS u(x))) AS nrm
        |  FROM embeddings),
        |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding ea, b.embedding eb,
        |                 a.nrm na, b.nrm nb
        |          FROM norms a JOIN norms b ON a.vec_id < b.vec_id),
        |dots AS (SELECT id_a, id_b, sum(CAST(x1 AS DOUBLE)*CAST(x2 AS DOUBLE)) AS dot,
        |                any_value(na) AS na, any_value(nb) AS nb
        |         FROM (SELECT id_a, id_b, unnest(ea) AS x1, unnest(eb) AS x2, na, nb FROM pairs)
        |         GROUP BY id_a, id_b)
        |SELECT id_a, id_b, round(dot/(na*nb), 6) AS cosine FROM dots
        |WHERE round(dot/(na*nb), 6) >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    "q47_ann_topk" ->
      """WITH norms AS (
        |  SELECT vec_id, embedding,
        |         sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS u(x))) AS nrm
        |  FROM embeddings),
        |pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.embedding qv, c.embedding cv,
        |                 q.nrm nq, c.nrm nc
        |          FROM norms q JOIN norms c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |dots AS (SELECT query_id, cand_id, sum(CAST(x1 AS DOUBLE)*CAST(x2 AS DOUBLE)) AS dot,
        |                any_value(nq) AS nq, any_value(nc) AS nc
        |         FROM (SELECT query_id, cand_id, unnest(qv) AS x1, unnest(cv) AS x2, nq, nc FROM pairs)
        |         GROUP BY query_id, cand_id),
        |scored AS (SELECT query_id, cand_id, round(dot/(nq*nc), 6) + 0.0 AS cosine FROM dots)
        |SELECT query_id, rank, cand_id, cosine FROM (
        |  SELECT query_id, cand_id, cosine,
        |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q48_ann_lsh" ->
      """WITH norms AS (
        |  SELECT vec_id, embedding,
        |         sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS u(x))) AS nrm,
        |         (SELECT CAST(sum(CASE WHEN embedding[j+1] > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
        |          FROM unnest(generate_series(0, 5)) AS t(j)) AS bucket
        |  FROM embeddings),
        |pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.embedding qv, c.embedding cv,
        |                 q.nrm nq, c.nrm nc
        |          FROM norms q JOIN norms c
        |          ON q.bucket = c.bucket AND q.vec_id < 20 AND q.vec_id <> c.vec_id),
        |dots AS (SELECT query_id, cand_id, sum(CAST(x1 AS DOUBLE)*CAST(x2 AS DOUBLE)) AS dot,
        |                any_value(nq) AS nq, any_value(nc) AS nc
        |         FROM (SELECT query_id, cand_id, unnest(qv) AS x1, unnest(cv) AS x2, nq, nc FROM pairs)
        |         GROUP BY query_id, cand_id),
        |scored AS (SELECT query_id, cand_id, round(dot/(nq*nc), 6) + 0.0 AS cosine FROM dots)
        |SELECT query_id, rank, cand_id, cosine FROM (
        |  SELECT query_id, cand_id, cosine,
        |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // Mirrors ivfTopK exactly: sign-bucket cid, per-dim DECIMAL-mean
    // centroids cast to double (order-independent, so engines agree),
    // top-4 centroids per query by rounded cosine, exact rank within the
    // probed lists.
    "q48b_ann_ivf" ->
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |         sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS u(x))) AS nrm,
        |         (SELECT CAST(sum(CASE WHEN embedding[j+1] > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
        |          FROM unnest(generate_series(0, 3)) AS t(j)) AS cid
        |  FROM embeddings),
        |cent AS (
        |  SELECT cid, j AS pos,
        |         CAST(sum(CAST(CAST(embedding[j+1] AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS c
        |  FROM base, unnest(generate_series(0, 63)) AS t(j)
        |  GROUP BY cid, j),
        |cent_arr AS (
        |  SELECT cid, array_agg(c ORDER BY pos) AS centroid FROM cent GROUP BY cid),
        |cent_n AS (
        |  SELECT cid, centroid,
        |         sqrt((SELECT sum(x*x) FROM unnest(centroid) AS u(x))) AS cnrm
        |  FROM cent_arr),
        |probe_flat AS (
        |  SELECT q.vec_id AS query_id, q.nrm AS nq, ca.cid, ca.cnrm,
        |         unnest(q.embedding) AS x1, unnest(ca.centroid) AS x2
        |  FROM base q, cent_n ca WHERE q.vec_id < 20),
        |probe_score AS (
        |  SELECT query_id, cid,
        |         round(sum(CAST(x1 AS DOUBLE)*x2) / (any_value(nq)*any_value(cnrm)), 6) AS csim
        |  FROM probe_flat GROUP BY query_id, cid),
        |probes AS (
        |  SELECT ps.query_id, b.embedding AS qv, b.nrm AS nq, ps.cid FROM (
        |    SELECT query_id, cid,
        |           row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, cid) AS prank
        |    FROM probe_score) ps
        |  JOIN base b ON b.vec_id = ps.query_id
        |  WHERE ps.prank <= 4),
        |pairs AS (
        |  SELECT p.query_id, c.vec_id AS cand_id, p.qv, c.embedding AS cv, p.nq, c.nrm AS nc
        |  FROM probes p JOIN base c ON p.cid = c.cid AND p.query_id <> c.vec_id),
        |dots AS (
        |  SELECT query_id, cand_id, sum(CAST(x1 AS DOUBLE)*CAST(x2 AS DOUBLE)) AS dot,
        |         any_value(nq) AS nq, any_value(nc) AS nc
        |  FROM (SELECT query_id, cand_id, unnest(qv) AS x1, unnest(cv) AS x2, nq, nc FROM pairs)
        |  GROUP BY query_id, cand_id),
        |scored AS (SELECT query_id, cand_id, round(dot/(nq*nc), 6) + 0.0 AS cosine FROM dots)
        |SELECT query_id, rank, cand_id, cosine FROM (
        |  SELECT query_id, cand_id, cosine,
        |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // Same quantization replay: one global |x| max, half-up symmetric
    // integer codes, exact integer dots — the ranking matches
    // bit-for-bit.
    "q86_ann_quantized" ->
      """WITH stats AS (
        |  SELECT max(abs(CAST(x AS DOUBLE))) AS gmax
        |  FROM (SELECT unnest(embedding) AS x FROM embeddings)),
        |coded AS (
        |  SELECT e.vec_id,
        |         array_agg(CASE WHEN s.gmax > 0
        |                        THEN CAST(floor(CAST(e.embedding[t.j+1] AS DOUBLE)
        |                                        / s.gmax * 127.0 + 0.5) AS BIGINT)
        |                        ELSE 0 END ORDER BY t.j) AS qv
        |  FROM embeddings e, stats s, unnest(generate_series(0, 63)) AS t(j)
        |  GROUP BY e.vec_id),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.qv AS qa, c.qv AS qb
        |  FROM coded q JOIN coded c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
        |dots AS (
        |  SELECT query_id, cand_id,
        |         sum(x1*x2) AS dot, sum(x1*x1) AS na2, sum(x2*x2) AS nb2
        |  FROM (SELECT query_id, cand_id, unnest(qa) AS x1, unnest(qb) AS x2 FROM pairs)
        |  GROUP BY query_id, cand_id),
        |scored AS (
        |  SELECT query_id, cand_id,
        |         CASE WHEN na2 > 0 AND nb2 > 0
        |              THEN round(CAST(dot AS DOUBLE)/(sqrt(CAST(na2 AS DOUBLE))*sqrt(CAST(nb2 AS DOUBLE))), 6) + 0.0
        |              ELSE -1.0 END AS qcos
        |  FROM dots)
        |SELECT query_id, rank, cand_id, qcos FROM (
        |  SELECT query_id, cand_id, qcos,
        |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, cand_id) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // Same hash order, same ROWS-frame running sum, same prefix cutoff.
    "q89_token_budget" ->
      """WITH tc AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_toks,
        |         md5(text || doc_id) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_toks,
        |         sum(n_toks) OVER (PARTITION BY source ORDER BY h
        |                           ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM tc)
        |SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |       CAST(sum(n_toks) AS BIGINT) AS sum_tokens
        |FROM c WHERE cum <= 800 GROUP BY source ORDER BY source""".stripMargin,

    // Join formulation of the same matrix (the answer is formulation-
    // independent; the Spark side uses set-collection + row-local pair
    // expansion instead of this self-join).
    "q88_source_overlap" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT DISTINCT source, md5(array_to_string(toks[i:i+2], ' ')) AS g
        |      FROM t, unnest(generate_series(1, len(toks)-2)) AS u(i)
        |      WHERE len(toks) >= 3),
        |keep AS (SELECT g FROM g GROUP BY g HAVING count(*) BETWEEN 2 AND 5)
        |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
        |FROM keep k
        |JOIN g a ON a.g = k.g
        |JOIN g b ON b.g = k.g AND a.source < b.source
        |GROUP BY a.source, b.source ORDER BY src_a, src_b""".stripMargin,

    // Same crawl-stable hash rank, same cap.
    "q87_source_cap" ->
      """WITH ranked AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source ORDER BY md5(text || doc_id)) AS rk
        |  FROM documents)
        |SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM ranked WHERE rk <= 20
        |GROUP BY source ORDER BY source""".stripMargin,

    // Full replay of the k-means optimization: init sign-bucket
    // centroids, assignment 1, refined DECIMAL means, final assignment.
    "q84_kmeans_assign" ->
      s"""$kmeansCtes
         |SELECT cid, count(*) AS n_members, CAST(sum(vec_id) AS BIGINT) AS sum_ids,
         |       CAST(SUM(CAST(csim AS DECIMAL(18,6))) AS DOUBLE) AS sum_csim
         |FROM a2 GROUP BY cid ORDER BY cid""".stripMargin,

    // Same clustering, then the pair-local greedy survivor rule inside
    // each cluster (drop id_b iff a smaller-id member is ≥0.4 cosine).
    "q85_semantic_dedup" ->
      s"""$kmeansCtes,
         |pairs AS (
         |  SELECT x.vec_id AS id_a, y.vec_id AS id_b, bx.embedding AS ea, bb.embedding AS eb,
         |         bx.nrm AS na, bb.nrm AS nb
         |  FROM a2 x JOIN a2 y ON x.cid = y.cid AND x.vec_id < y.vec_id
         |  JOIN base bx ON bx.vec_id = x.vec_id
         |  JOIN base bb ON bb.vec_id = y.vec_id),
         |pdots AS (
         |  SELECT id_a, id_b, sum(CAST(x1 AS DOUBLE)*CAST(x2 AS DOUBLE)) AS dot,
         |         any_value(na) AS na, any_value(nb) AS nb
         |  FROM (SELECT id_a, id_b, unnest(ea) AS x1, unnest(eb) AS x2, na, nb FROM pairs)
         |  GROUP BY id_a, id_b),
         |dropped AS (
         |  SELECT DISTINCT id_b FROM pdots WHERE round(dot/(na*nb), 6) >= 0.4)
         |SELECT cid, count(*) AS n_kept, CAST(sum(vec_id) AS BIGINT) AS sum_ids
         |FROM a2 WHERE vec_id NOT IN (SELECT id_b FROM dropped)
         |GROUP BY cid ORDER BY cid""".stripMargin,

    "q49_lang_id" -> langIdOracle,

    "q50_text_quality" ->
      """SELECT doc_id, n_chars, punct_ratio, mean_word_len, n_tokens,
        |round(least(length_score, 1.0)*0.4
        |      + (CASE WHEN mean_word_len BETWEEN 3.0 AND 9.0 THEN 1.0 ELSE 0.5 END)*0.3
        |      + greatest(0.0, 1.0 - punct_ratio*5.0)*0.3, 6) AS quality
        |FROM (
        |  SELECT doc_id, n_chars,
        |         CAST(length(text) AS DOUBLE)/400.0 AS length_score,
        |         round(CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
        |               / greatest(length(text), 1), 6) AS punct_ratio,
        |         round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |               / greatest(len(string_split(text, ' ')), 1), 6) AS mean_word_len,
        |         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        |  FROM documents WHERE doc_id < 200)
        |ORDER BY doc_id""".stripMargin,

    "q51_token_count" ->
      """SELECT doc_id,
        |CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        |CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS regex_tokens
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    "q52_fingerprint" ->
      """SELECT source, count(*) AS n_docs,
        |count(DISTINCT md5(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS n_distinct
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q53_multimodal_decode" ->
      """SELECT doc_id AS media_id,
        |CASE WHEN doc_id % 3 = 0 THEN 'image'
        |     WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |source,
        |CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |CAST(64 + octet_length(encode(text)) % 640 AS INT) AS width,
        |CAST(64 + (octet_length(encode(text)) * 7) % 480 AS INT) AS height,
        |CAST(1 + octet_length(encode(text)) % 8 AS INT) AS frames
        |FROM documents ORDER BY media_id""".stripMargin,

    "q67_split_assign" ->
      """WITH b AS (
        |  SELECT source,
        |         ('0x' || substr(md5(coalesce(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), '')), 1, 8))::BIGINT
        |           % 10000 AS bucket
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN bucket < 8000 THEN 'train'
        |       WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  CAST(sum(bucket) AS BIGINT) AS sum_bucket,
        |  count(CASE WHEN bucket < 100 THEN 1 END) AS n_sample1pct
        |FROM b GROUP BY 1, 2 ORDER BY source, split""".stripMargin,

    "q68_repetition" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 200),
        |met AS (
        |  SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
        |         round((len(toks) - len(list_distinct(toks)))*1.0 / greatest(len(toks), 1), 6) AS dup_token_frac
        |  FROM base),
        |bi AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
        |  FROM base, unnest(generate_series(1, len(toks)-1)) AS t(i)
        |  WHERE len(toks) >= 2),
        |cnts AS (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY doc_id, bg),
        |topc AS (SELECT doc_id, max(c) AS top_cnt FROM cnts GROUP BY doc_id)
        |SELECT m.doc_id, m.n_tokens, m.dup_token_frac,
        |  round(least(1.0, coalesce(t.top_cnt*2.0/m.n_tokens, 0)), 6) AS top_bigram_frac,
        |  (m.dup_token_frac > 0.5
        |   OR round(least(1.0, coalesce(t.top_cnt*2.0/m.n_tokens, 0)), 6) > 0.2) AS repetitive
        |FROM met m LEFT JOIN topc t USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q69_pii_scrub" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 5 = 0
        |         THEN ' contact user' || doc_id || '@mail.example.com now' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0
        |         THEN ' see https://data.example.org/doc/' || doc_id || ' today' ELSE '' END AS text2
        |  FROM documents WHERE doc_id < 300)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text2, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text2, 'https?://[a-zA-Z0-9./_-]+')) AS INT) AS n_urls,
        |  md5(regexp_replace(regexp_replace(text2,
        |        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |        'https?://[a-zA-Z0-9./_-]+', '<URL>', 'g')) AS redacted_fp
        |FROM planted ORDER BY doc_id""".stripMargin,

    // Shared by q70 (broadcast path at these SFs) and q70b (forced
    // SHUFFLE_HASH) — the byte gate cannot change answers.
    "q70_token_rarity" -> tokenRarityOracle,
    "q70b_token_rarity_shuffle" -> tokenRarityOracle,

    // Shared by q72 (broadcast path), q72b (forced SHUFFLE_HASH), and
    // q72c (Bloom prefilter + exact verify — the sketch cannot change
    // answers, only shrink the exchange).
    "q72_decontaminate" -> decontaminateOracle,
    "q72b_decontaminate_shuffle" -> decontaminateOracle,
    "q72c_decontaminate_bloom" -> decontaminateOracle,

    "q73_stratified_sample" ->
      """WITH ranked AS (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY md5(coalesce(text || CAST(doc_id AS VARCHAR), ''))) AS r,
        |         count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source, count(*) AS n_sampled, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM ranked WHERE r <= ceil(n * 1000 / 10000.0)
        |GROUP BY source ORDER BY source""".stripMargin,

    // Predicts the container-construction parameters arithmetically; the
    // Spark side must recover them by parsing the bytes it built. Image
    // rows alternate BMP (even ids: 54-byte headers + 4-padded 24bpp
    // rows) and PNG (odd ids: 57 fixed bytes + w*h grayscale IDAT) — the
    // two formats disagree on endianness, so one arithmetic prediction
    // covers both only if both parses are genuinely correct.
    "q71_multimodal_headers" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |    16 + (doc_id*13) % 48 AS w, 16 + (doc_id*29) % 32 AS h,
        |    1 + doc_id % 2 AS ch, 8000 + (doc_id % 5) * 2000 AS rate,
        |    100 + doc_id % 400 AS ns,
        |    octet_length(encode(text)) AS n
        |  FROM documents),
        |sized AS (SELECT *, (w*3+3) - (w*3+3) % 4 AS row_size FROM base)
        |SELECT doc_id AS media_id, kind,
        |  CAST(CASE WHEN kind = 'image' AND doc_id % 2 = 0 THEN 54 + row_size*h
        |            WHEN kind = 'image' THEN 57 + w*h
        |            WHEN kind = 'audio' THEN 44 + ns*ch*2 ELSE n END AS INT) AS byte_len,
        |  CAST(CASE kind WHEN 'image' THEN w
        |                 WHEN 'audio' THEN ch ELSE 64 + n % 640 END AS INT) AS width,
        |  CAST(CASE kind WHEN 'image' THEN h
        |                 WHEN 'audio' THEN rate ELSE 64 + (n*7) % 480 END AS INT) AS height,
        |  CAST(CASE kind WHEN 'image' THEN 1
        |                 WHEN 'audio' THEN ns ELSE 1 + n % 8 END AS INT) AS frames
        |FROM sized ORDER BY media_id""".stripMargin,

    // Every per-doc offset and chunk index is pinned — a running-sum
    // bug, an off-by-one in the straddle arithmetic, or a wrong
    // partition/order key breaks the hash.
    "q74_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS start_off
        |  FROM t)
        |SELECT doc_id, source, n_tokens, start_off,
        |  CAST(floor(start_off / 512.0) AS BIGINT) AS chunk_first,
        |  CAST(floor((start_off + n_tokens - 1) / 512.0) AS BIGINT) AS chunk_last
        |FROM c ORDER BY doc_id""".stripMargin,

    // √-temperature rates: IEEE sqrt and division are correctly rounded
    // in both engines, so floor() lands on the same integer; membership
    // reuses the q67/q73 md5-bucket contract.
    "q75_mixture_sample" ->
      """WITH c AS (SELECT source, count(*) AS n_total FROM documents GROUP BY source),
        |m AS (SELECT max(n_total) AS mx FROM c),
        |r AS (SELECT source, CAST(n_total AS BIGINT) AS n_total,
        |        CAST(floor(10000.0 * sqrt(CAST(n_total AS DOUBLE) / mx)) AS BIGINT) AS rate_per10k
        |      FROM c, m),
        |b AS (SELECT doc_id, source,
        |        ('0x' || substr(md5(coalesce(text || doc_id, '')), 1, 8))::BIGINT % 10000 AS bucket
        |      FROM documents)
        |SELECT b.source, r.n_total, r.rate_per10k,
        |  count(CASE WHEN bucket < rate_per10k THEN 1 END) AS n_sampled,
        |  CAST(sum(CASE WHEN bucket < rate_per10k THEN doc_id END) AS BIGINT) AS sum_ids
        |FROM b JOIN r ON b.source = r.source
        |GROUP BY b.source, r.n_total, r.rate_per10k
        |ORDER BY b.source""".stripMargin,

    "q76_curation_funnel" -> curationFunnelOracle,

    // Independent reconstruction of every chunk's token stream: DuckDB
    // slices each doc's token list per chunk and string_aggs the pieces
    // in offset order; md5 of the result must equal Spark's byte-exact.
    "q77_seq_emit" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        |a AS (
        |  SELECT doc_id, source, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(sum(len(toks)) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - len(toks) AS start_off
        |  FROM t),
        |e AS (
        |  SELECT source, start_off, n_tokens, toks,
        |    unnest(generate_series(CAST(floor(start_off / 512.0) AS BIGINT),
        |                           CAST(floor((start_off + n_tokens - 1) / 512.0) AS BIGINT))) AS chunk
        |  FROM a),
        |p AS (
        |  SELECT source, chunk, start_off,
        |    greatest(chunk*512 - start_off, 0) AS ls,
        |    least((chunk+1)*512 - start_off, n_tokens) AS le,
        |    toks
        |  FROM e),
        |s AS (SELECT source, chunk, start_off, le - ls AS np,
        |        array_to_string(toks[ls+1:le], ' ') AS piece FROM p)
        |SELECT source AS shard, chunk, count(*) AS n_docs,
        |  CAST(sum(np) AS BIGINT) AS n_tokens,
        |  md5(string_agg(piece, ' ' ORDER BY start_off)) AS text_md5
        |FROM s GROUP BY source, chunk ORDER BY shard, chunk""".stripMargin,

    // Clusters re-derived by recursive reachability (the q66 oracle),
    // then the corpus restricted to reps + unclustered — an independent
    // reconstruction of the surviving set.
    "q78_dedup_canonical" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT id_a AS u, id_b AS v FROM pr
         |          UNION SELECT id_b, id_a FROM pr),
         |reach(v, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.v),
         |cl AS (SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS rep_id
         |       FROM reach GROUP BY v)
         |SELECT d.doc_id, d.source, md5(d.text) AS text_md5
         |FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
         |WHERE cl.rep_id IS NULL OR cl.rep_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // Clusters re-derived by recursive reachability, then the keep-best
    // winner per cluster via an explicit (n_chars DESC, id DESC) window
    // — argmax with a total tie order, the q128 doctrine.
    "q133_dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT id_a AS u, id_b AS v FROM pr
         |          UNION SELECT id_b, id_a FROM pr),
         |reach(v, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.v),
         |cl AS (SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS rep_id
         |       FROM reach GROUP BY v),
         |best AS (SELECT doc_id FROM (
         |  SELECT cl.doc_id,
         |         row_number() OVER (PARTITION BY cl.rep_id
         |                ORDER BY d.n_chars DESC, cl.doc_id DESC) AS rn
         |  FROM cl JOIN documents d ON d.doc_id = cl.doc_id) WHERE rn = 1)
         |SELECT d.doc_id, d.source, md5(d.text) AS text_md5
         |FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
         |LEFT JOIN best ON best.doc_id = d.doc_id
         |WHERE cl.rep_id IS NULL OR best.doc_id IS NOT NULL
         |ORDER BY d.doc_id""".stripMargin,

    // Same planting, then an independent split→count-distinct→filter→
    // reassemble pass; string_agg ORDER BY position mirrors Spark's
    // array_sort-by-position reassembly.
    "q79_boilerplate" ->
      """WITH d2 AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 3 = 0 THEN '. subscribe to our newsletter today' ELSE '' END
        |         || CASE WHEN doc_id % 5 = 0 THEN '. all rights reserved' ELSE '' END AS text
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS pos
        |  FROM (SELECT doc_id, string_split(text, '. ') AS arr FROM d2)),
        |s AS (SELECT doc_id, pos, arr[pos] AS sent FROM p WHERE length(arr[pos]) > 0),
        |b AS (SELECT sent FROM s GROUP BY sent HAVING count(DISTINCT doc_id) >= 100),
        |k AS (SELECT doc_id, string_agg(sent, '. ' ORDER BY pos) AS clean
        |      FROM s WHERE sent NOT IN (SELECT sent FROM b) GROUP BY doc_id)
        |SELECT d2.doc_id, md5(coalesce(k.clean, '')) AS clean_md5,
        |       CAST(length(coalesce(k.clean, '')) AS INT) AS clean_len
        |FROM d2 LEFT JOIN k ON d2.doc_id = k.doc_id
        |ORDER BY d2.doc_id""".stripMargin,

    // Rates, buckets, and copy explosion re-derived from scratch; the
    // weighted checksum must land on the same integer.
    "q80_epoch_upsample" ->
      """WITH c AS (SELECT source, count(*) AS n_total FROM documents GROUP BY source),
        |m AS (SELECT max(n_total) AS mx FROM c),
        |r AS (SELECT source,
        |        least(40000, CAST(floor(10000.0 * mx / n_total) AS BIGINT)) AS rate
        |      FROM c, m),
        |b AS (SELECT doc_id, source,
        |        ('0x' || substr(md5(coalesce(text || doc_id, '')), 1, 8))::BIGINT % 10000 AS bucket
        |      FROM documents),
        |n AS (SELECT b.doc_id, b.source,
        |        rate // 10000 + CASE WHEN bucket < rate % 10000 THEN 1 ELSE 0 END AS n_copies
        |      FROM b JOIN r ON b.source = r.source),
        |e AS (SELECT source, doc_id,
        |        unnest(generate_series(1, CAST(n_copies AS BIGINT))) AS copy_idx
        |      FROM n)
        |SELECT source, count(*) AS n_rows,
        |       CAST(sum(doc_id * copy_idx) AS BIGINT) AS wsum
        |FROM e GROUP BY source ORDER BY source""".stripMargin,

    // Full-corpus pair pipeline over documents ∪ planted copies, filtered
    // to pairs touching the batch. Existing ids are all <400 and batch
    // ids ≥400, so "larger id ≥ 400" ⇔ "at least one endpoint incoming".
    "q81_dedup_incremental" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 300000, text FROM documents WHERE doc_id < 30),
         |${minhashPairsCtesOver("corpus")}
         |SELECT id_a, id_b, jaccard FROM pr WHERE id_b >= 400
         |ORDER BY id_a, id_b""".stripMargin,

    // Forced semi-join prune — identical answer by construction.
    "q81b_dedup_incremental_semi" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 300000, text FROM documents WHERE doc_id < 30),
         |${minhashPairsCtesOver("corpus")}
         |SELECT id_a, id_b, jaccard FROM pr WHERE id_b >= 400
         |ORDER BY id_a, id_b""".stripMargin,

    // Independent ranking: same q50 score formula, DESC + md5 tie-break,
    // exact ceil cutoff per source.
    "q82_quality_gate" ->
      """WITH scored AS (
        |  SELECT doc_id, source, text,
        |    round(least(CAST(length(text) AS DOUBLE)/400.0, 1.0)*0.4
        |      + (CASE WHEN round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |                     / greatest(len(string_split(text, ' ')), 1), 6) BETWEEN 3.0 AND 9.0
        |         THEN 1.0 ELSE 0.5 END)*0.3
        |      + greatest(0.0, 1.0 - round(CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
        |                                  / greatest(length(text), 1), 6)*5.0)*0.3, 6) AS quality
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY quality DESC, md5(text || doc_id)) AS rk,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM scored)
        |SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM ranked WHERE rk <= ceil(n * 2500 / 10000.0)
        |GROUP BY source ORDER BY source""".stripMargin,

    // Same seeded hash, same shard arithmetic, same within-shard rank.
    "q83_train_order" ->
      """WITH h AS (
        |  SELECT doc_id, md5('epoch0' || coalesce(text || doc_id, '')) AS hx
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, ('0x' || substr(hx, 1, 8))::BIGINT % 16 AS shard, hx FROM h),
        |rk AS (
        |  SELECT doc_id, shard,
        |    row_number() OVER (PARTITION BY shard ORDER BY hx) AS pos
        |  FROM sp)
        |SELECT shard, count(*) AS n_rows,
        |       CAST(sum(pos * doc_id) AS BIGINT) AS perm_sum
        |FROM rk GROUP BY shard ORDER BY shard""".stripMargin,

    // Rational-idf BM25, parenthesized exactly like the Spark expression
    // tree (every op is exactly-rounded IEEE; avgdl is one exact-long-sum
    // division — bit-identical cross-engine, no ln anywhere).
    "q92_bm25_score" ->
      """WITH stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avgdl
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl FROM (
        |    SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |           unnest(string_split(text, ' ')) AS t
        |    FROM documents)
        |  WHERE t IN ('dup', 'join', 'vector') GROUP BY doc_id, t),
        |dft AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY t)
        |SELECT doc_id, count(*) AS n_terms_hit,
        |       CAST(sum(CAST(round(
        |         ((n_docs - df + 0.5) / (df + 0.5)) *
        |         ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))),
        |         6) AS DECIMAL(28,6))) AS DOUBLE) AS bm25
        |FROM tf JOIN dft USING (t) CROSS JOIN stats
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Positional 8-gram duplicated runs; DuckDB positions are 1-based vs
    // Spark's 0-based posexplode — pos − row_number() cancels the offset.
    "q93_dup_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(ts[i:i+7], ' ')) AS g
        |  FROM toks, unnest(range(1, len(ts) - 6)) AS r(i)),
        |dup AS (
        |  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd FROM g GROUP BY g)
        |  WHERE nd >= 2),
        |marked AS (SELECT doc_id, pos FROM g JOIN dup USING (g)),
        |runs AS (
        |  SELECT doc_id, isl, count(*) AS run FROM (
        |    SELECT doc_id,
        |           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |    FROM marked)
        |  GROUP BY doc_id, isl)
        |SELECT doc_id, CAST(sum(run) AS BIGINT) AS n_dup_positions,
        |       CAST(max(run) + 7 AS BIGINT) AS max_span_tokens
        |FROM runs GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Keep-one-copy span removal; 1-based window i covers tokens
    // i..i+7 (range() end-exclusive) = Spark's 0-based pos+1..pos+8.
    "q94_span_scrub" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |tok AS (
        |  SELECT doc_id, i AS tp, ts[i] AS t
        |  FROM toks, unnest(range(1, len(ts) + 1)) AS r(i)),
        |gr AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(ts[i:i+7], ' ')) AS g
        |  FROM toks, unnest(range(1, len(ts) - 6)) AS r(i)),
        |ga AS (
        |  SELECT g, count(DISTINCT doc_id) AS nd, min(doc_id) AS owner
        |  FROM gr GROUP BY g),
        |mk AS (
        |  SELECT gr.doc_id, gr.pos FROM gr JOIN ga USING (g)
        |  WHERE ga.nd >= 2 AND gr.doc_id <> ga.owner),
        |cov AS (
        |  SELECT DISTINCT doc_id, tp FROM
        |    (SELECT doc_id, unnest(range(pos, pos + 8)) AS tp FROM mk)),
        |kept AS (
        |  SELECT t.doc_id, t.tp, t.t FROM tok t LEFT JOIN cov c
        |  ON t.doc_id = c.doc_id AND t.tp = c.tp WHERE c.tp IS NULL),
        |re AS (
        |  SELECT doc_id, count(*) AS n_after,
        |         string_agg(t, ' ' ORDER BY tp) AS clean
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS INT) AS n_before,
        |       coalesce(r.n_after, CAST(0 AS BIGINT)) AS n_after,
        |       md5(coalesce(r.clean, '')) AS clean_md5
        |FROM documents d LEFT JOIN re r USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // Latest-seq-wins merge resolution, replayed independently.
    "q95_merge_upsert" ->
      """WITH changes AS (
        |  SELECT doc_id, text || ' v1' AS text, 'upsert' AS op, 1 AS seq
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id, text || ' v2', 'upsert', 2
        |  FROM documents WHERE doc_id % 20 = 0
        |  UNION ALL SELECT doc_id, NULL, 'delete', 3
        |  FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL SELECT doc_id + 500000, 'new doc ' || doc_id, 'upsert', 1
        |  FROM documents WHERE doc_id % 25 = 0),
        |latest AS (
        |  SELECT doc_id, text, op FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
        |    FROM changes) WHERE rn = 1),
        |merged AS (
        |  SELECT coalesce(l.doc_id, b.doc_id) AS doc_id,
        |         CASE WHEN l.op IS NOT NULL THEN l.text ELSE b.text END AS text,
        |         l.op AS op
        |  FROM documents b FULL OUTER JOIN latest l ON b.doc_id = l.doc_id)
        |SELECT doc_id, md5(text) AS text_md5 FROM merged
        |WHERE op IS NULL OR op <> 'delete' ORDER BY doc_id""".stripMargin,

    // Integer-rank percentiles: value at rank ceil(q·n), no interpolation.
    "q97_source_stats" ->
      """WITH toks AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS nt FROM documents),
        |ranked AS (
        |  SELECT source, nt,
        |         row_number() OVER (PARTITION BY source ORDER BY nt, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY source) AS n
        |  FROM toks)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(nt) AS BIGINT) AS total_tokens,
        |       CAST(min(nt) AS INT) AS min_tokens,
        |       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN nt END) AS INT) AS p50_tokens,
        |       CAST(max(CASE WHEN rn = (n * 9 + 9) // 10 THEN nt END) AS INT) AS p90_tokens,
        |       CAST(max(nt) AS INT) AS max_tokens
        |FROM ranked GROUP BY source ORDER BY source""".stripMargin,

    // Descending cumulative survivors per 0.1-wide quality bucket; the
    // quality chain is q50's, replayed over the full table.
    "q98_retention_curve" ->
      """WITH scored AS (
        |  SELECT round(least(CAST(length(text) AS DOUBLE)/400.0, 1.0)*0.4
        |        + (CASE WHEN mwl BETWEEN 3.0 AND 9.0 THEN 1.0 ELSE 0.5 END)*0.3
        |        + greatest(0.0, 1.0 - pr*5.0)*0.3, 6) AS q
        |  FROM (
        |    SELECT text,
        |           round(CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
        |                 / greatest(length(text), 1), 6) AS pr,
        |           round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |                 / greatest(len(string_split(text, ' ')), 1), 6) AS mwl
        |    FROM documents)),
        |buckets AS (
        |  SELECT CAST(floor(q * 10) AS INT) AS bucket, count(*) AS n_docs
        |  FROM scored GROUP BY 1)
        |SELECT bucket, n_docs,
        |       CAST(sum(n_docs) OVER (ORDER BY bucket DESC
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS BIGINT) AS n_at_or_above
        |FROM buckets ORDER BY bucket""".stripMargin,

    // Directed containment over documents ∪ planted excerpts; identical
    // shingle chain as q43, asymmetric denominator.
    "q96_containment" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 300000, substr(text, 11, 60) FROM documents
         |  WHERE doc_id % 37 = 0),
         |${shingleCteOver("corpus")},
         |sizes AS (SELECT doc_id, count(*) AS n FROM gr GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id <> b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT id_a, id_b, inter*1.0/sa.n AS containment
         |FROM inter JOIN sizes sa ON sa.doc_id = id_a
         |WHERE inter*1.0/sa.n >= 0.9 ORDER BY id_a, id_b""".stripMargin,

    // Same window arithmetic as Packing.chunkWithOverlap(32, 24): integer
    // ceil-div for the last window index (negative numerators clamp to 0
    // on both engines, floor-vs-trunc notwithstanding), 1-based inclusive
    // list slice = Spark's slice(toks, start+1, 32).
    "q99_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |tn AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |c AS (SELECT doc_id, toks, n,
        |             unnest(generate_series(0, greatest(0, (n - 32 + 24 - 1) // 24))) AS k
        |      FROM tn)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
        |       CAST(k * 24 AS BIGINT) AS chunk_start,
        |       CAST(least(32, n - k * 24) AS BIGINT) AS n_tokens,
        |       md5(array_to_string(toks[k*24+1 : k*24+32], ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // The identical HLL sketch: md5-hex-parse hash, 256 buckets, exact
    // integer register sum (S = Σ 2^(41-M) with absent buckets at 2^41),
    // one shared float constant and one final multiply-divide — see
    // TextAnalysis.hllDistinctTokens.
    "q100_hll_distinct" ->
      (s"""WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT source, CAST(${TextAnalysis.md5Hash48Sql("tok")} AS BIGINT) AS h
        |      FROM toks),
        |regs AS (SELECT source, h % 256 AS bucket,
        |                max(${TextAnalysis.hllRhoSql("(h // 256)")}) AS m
        |         FROM h GROUP BY source, h % 256),
        |s AS (SELECT source,
        |             CAST(sum(CAST(1 AS BIGINT) << (41 - m)) +
        |                  (256 - count(*)) * (CAST(1 AS BIGINT) << 41) AS DOUBLE) AS sd
        |      FROM regs GROUP BY source),
        |ex AS (SELECT source, count(DISTINCT h) AS n_exact FROM h GROUP BY source)
        |SELECT s.source, ex.n_exact,
        |       round(${TextAnalysis.HllNumeratorSql} / sd * 1000000.0)
        |         / 1000000.0 AS hll_estimate
        |FROM s JOIN ex ON s.source = ex.source
        |ORDER BY s.source""".stripMargin),

    // The identical KMV pipeline: token-bigram md5 fingerprints, hex-48
    // parse, bottom-64 per source by row_number, union/intersection over
    // the sketches relationally, exact Jaccard from the full hash sets.
    "q101_kmv_source_sim" ->
      (s"""WITH ct AS (SELECT source AS src, string_split(text, ' ') AS toks FROM documents),
         |g AS (SELECT DISTINCT src, md5(array_to_string(toks[i:i+1], ' ')) AS fp
         |      FROM ct, unnest(generate_series(1, len(toks)-1)) AS u(i)),
         |h AS (SELECT DISTINCT src, CAST(${TextAnalysis.hex48Sql("fp")} AS BIGINT) AS h FROM g),
         |sk AS (SELECT src, h, row_number() OVER (PARTITION BY src ORDER BY h) AS rn FROM h),
         |skk AS (SELECT src, h FROM sk WHERE rn <= 64),
         |srcs AS (SELECT DISTINCT src FROM h),
         |pairs AS (SELECT a.src AS sa, b.src AS sb FROM srcs a JOIN srcs b ON a.src < b.src),
         |uh AS (SELECT p.sa, p.sb, s.h FROM pairs p JOIN skk s ON s.src = p.sa
         |       UNION SELECT p.sa, p.sb, s.h FROM pairs p JOIN skk s ON s.src = p.sb),
         |un AS (SELECT sa, sb, h, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn FROM uh),
         |unk AS (SELECT sa, sb, h FROM un WHERE rn <= 64),
         |ku AS (SELECT sa, sb, count(*) AS k_union FROM unk GROUP BY sa, sb),
         |ki AS (SELECT u.sa, u.sb, count(*) AS k_inter FROM unk u
         |       JOIN skk x ON x.src = u.sa AND x.h = u.h
         |       JOIN skk y ON y.src = u.sb AND y.h = u.h
         |       GROUP BY u.sa, u.sb),
         |sizes AS (SELECT src, count(*) AS n FROM h GROUP BY src),
         |iex AS (SELECT a.src AS sa, b.src AS sb, count(*) AS ni
         |        FROM h a JOIN h b ON a.h = b.h AND a.src < b.src
         |        GROUP BY a.src, b.src)
         |SELECT ku.sa AS src_a, ku.sb AS src_b, ku.k_union,
         |       COALESCE(ki.k_inter, 0) AS k_inter,
         |       round(CAST(COALESCE(ki.k_inter, 0) AS DOUBLE) / CAST(ku.k_union AS DOUBLE)
         |             * 1000000.0) / 1000000.0 AS jaccard_est,
         |       round(CAST(COALESCE(iex.ni, 0) AS DOUBLE)
         |             / CAST(sa.n + sb.n - COALESCE(iex.ni, 0) AS DOUBLE)
         |             * 1000000.0) / 1000000.0 AS jaccard_exact
         |FROM ku
         |LEFT JOIN ki ON ki.sa = ku.sa AND ki.sb = ku.sb
         |LEFT JOIN iex ON iex.sa = ku.sa AND iex.sb = ku.sb
         |JOIN sizes sa ON sa.src = ku.sa
         |JOIN sizes sb ON sb.src = ku.sb
         |ORDER BY src_a, src_b""".stripMargin),

    // q95's change log, kept as type-2 versions: base at seq 0, lead()
    // closes each version, deletes close without emitting.
    "q102_scd2_history" ->
      """WITH changes AS (
        |  SELECT doc_id, text || ' v1' AS text, 'upsert' AS op, 1 AS seq
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id, text || ' v2', 'upsert', 2
        |  FROM documents WHERE doc_id % 20 = 0
        |  UNION ALL SELECT doc_id, NULL, 'delete', 3
        |  FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL SELECT doc_id + 500000, 'new doc ' || doc_id, 'upsert', 1
        |  FROM documents WHERE doc_id % 25 = 0),
        |evs AS (
        |  SELECT doc_id, text, CAST(0 AS BIGINT) AS s, FALSE AS del FROM documents
        |  UNION ALL
        |  SELECT doc_id, text, CAST(seq AS BIGINT), op = 'delete' FROM changes),
        |v AS (SELECT doc_id, text, s, del,
        |             lead(s) OVER (PARTITION BY doc_id ORDER BY s) AS t
        |      FROM evs)
        |SELECT doc_id, md5(text) AS text_md5, s AS valid_from, t AS valid_to,
        |       t IS NULL AS is_current
        |FROM v WHERE NOT del ORDER BY doc_id, valid_from""".stripMargin,

    // Phrase posting lists: distinct (doc, bigram), df band [2, 50],
    // doc-ids ascending comma-joined.
    "q103_inverted_index" ->
      """WITH x AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] AS term
        |       FROM x, unnest(generate_series(1, len(toks)-1)) AS u(i)),
        |t AS (SELECT doc_id, term FROM bg WHERE length(term) > 0),
        |a AS (SELECT term AS token, count(*) AS df,
        |             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |      FROM t GROUP BY term)
        |SELECT token, df, postings FROM a
        |WHERE df BETWEEN 2 AND 50 ORDER BY token""".stripMargin,

    // The identical integer floor-log2 chains over corpus total and
    // per-token counts; the per-doc sum is integer, the mean is the one
    // float op.
    "q104_lm_surprisal" ->
      (s"""WITH x AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |toks AS (SELECT doc_id, t FROM x WHERE length(t) > 0),
         |vocab AS (SELECT t, count(*) AS cnt FROM toks GROUP BY t),
         |tot0 AS (SELECT count(*) AS n FROM toks),
         |tot AS (SELECT ${TextAnalysis.floorLog2Sql("n")} AS nbits FROM tot0),
         |sc AS (SELECT doc_id, nbits - ${TextAnalysis.floorLog2Sql("cnt")} AS bits
         |       FROM toks JOIN vocab USING (t), tot)
         |SELECT doc_id, count(*) AS n_tokens,
         |       round(CAST(sum(bits) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |             * 1000000.0) / 1000000.0 AS mean_surprisal_bits
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Rational lift with the identical integer products and single divide.
    "q105_pmi_collocations" ->
      """WITH x AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |uni AS (SELECT t FROM (SELECT unnest(toks) AS t FROM x) WHERE length(t) > 0),
        |ucnt AS (SELECT t, count(*) AS c FROM uni GROUP BY t),
        |nu AS (SELECT count(*) AS n_uni FROM uni),
        |bg AS (SELECT toks[i] || ' ' || toks[i+1] AS bg
        |       FROM x, unnest(generate_series(1, len(toks)-1)) AS u(i)),
        |nb AS (SELECT count(*) AS n_bi FROM bg),
        |bcnt AS (SELECT bg, count(*) AS c_xy FROM bg GROUP BY bg HAVING count(*) >= 5),
        |sp AS (SELECT string_split(bg, ' ')[1] AS tok_x, string_split(bg, ' ')[2] AS tok_y,
        |              c_xy FROM bcnt)
        |SELECT tok_x, tok_y, c_xy, cx.c AS c_x, cy.c AS c_y,
        |       round(CAST(c_xy * n_uni * n_uni AS DOUBLE)
        |             / CAST(n_bi * cx.c * cy.c AS DOUBLE)
        |             * 1000000.0) / 1000000.0 AS lift
        |FROM sp JOIN ucnt cx ON cx.t = sp.tok_x
        |        JOIN ucnt cy ON cy.t = sp.tok_y, nu, nb
        |ORDER BY tok_x, tok_y""".stripMargin,

    // The identical priorities (exact hash→(0,1] divide by 2^48, one w/u
    // divide), top-25 cut, and τ = the 26th priority (0 if none).
    "q106_priority_sample" ->
      (s"""WITH d AS (SELECT doc_id, text, n_chars,
         |           CAST(${TextAnalysis.md5Hash48Sql("text")} AS BIGINT) AS h
         |      FROM documents),
         |q AS (SELECT doc_id, text, n_chars,
         |             CAST(n_chars AS DOUBLE) /
         |             (CAST(h + 1 AS DOUBLE) / 281474976710656.0) AS pq
         |      FROM d),
         |r AS (SELECT doc_id, text, n_chars, pq,
         |             row_number() OVER (ORDER BY pq DESC, text) AS rn
         |      FROM q),
         |tau AS (SELECT COALESCE(max(CASE WHEN rn = 26 THEN pq END), 0.0) AS tau
         |        FROM r WHERE rn <= 26)
         |SELECT doc_id, n_chars,
         |       round(greatest(CAST(n_chars AS DOUBLE), tau) * 1000000.0)
         |         / 1000000.0 AS est_weight
         |FROM r, tau WHERE rn <= 25 ORDER BY doc_id""".stripMargin),

    // The identical integer histogram: width = (max−min) div 32 + 1, bin
    // = (v−min) div width, estimate = lower edge of the first bin whose
    // cumulative count reaches the q97 ceil-div rank.
    "q108_histogram_quantiles" ->
      """WITH vals AS (
        |  SELECT source AS g, CAST(len(string_split(text, ' ')) AS BIGINT) AS v
        |  FROM documents),
        |st AS (SELECT g, min(v) AS mn, max(v) AS mx, count(*) AS n
        |       FROM vals GROUP BY g),
        |stw AS (SELECT g, mn, mx, n, (mx - mn) // 32 + 1 AS width FROM st),
        |h AS (SELECT v.g, (v.v - s.mn) // s.width AS bin, count(*) AS c
        |      FROM vals v JOIN stw s ON v.g = s.g
        |      GROUP BY v.g, (v.v - s.mn) // s.width),
        |cum AS (SELECT g, bin, c,
        |               sum(c) OVER (PARTITION BY g ORDER BY bin
        |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |        FROM h)
        |SELECT s.g AS source, s.n AS n_rows, s.width AS bin_width,
        |       s.mn + s.width * min(CASE WHEN cum >= (s.n + 1) // 2 THEN bin END) AS p50_est,
        |       s.mn + s.width * min(CASE WHEN cum >= (s.n * 9 + 9) // 10 THEN bin END) AS p90_est
        |FROM cum JOIN stw s USING (g)
        |GROUP BY s.g, s.n, s.width, s.mn ORDER BY source""".stripMargin,

    // Resized-BMP expectation from the generation rule: even-id image
    // docs (doc_id % 6 = 0), dims 16+(13id)%48 × 16+(29id)%32, factor-2
    // ceil-div downsample; pixel (nx,ny) channel c carries
    // (6nx + c + 14ny + id) mod 251, summed over the new pixel array.
    "q109_media_resize" ->
      """WITH imgs AS (
        |  SELECT doc_id, CAST(16 + (doc_id*13) % 48 AS INT) AS w,
        |         CAST(16 + (doc_id*29) % 32 AS INT) AS h
        |  FROM documents WHERE doc_id % 6 = 0),
        |dims AS (SELECT doc_id, w, h,
        |                (w + 1) // 2 AS nw, (h + 1) // 2 AS nh FROM imgs),
        |py AS (SELECT doc_id, w, h, nw, nh,
        |              unnest(generate_series(0, nh - 1)) AS ny FROM dims),
        |pyx AS (SELECT *, unnest(generate_series(0, nw - 1)) AS nx FROM py),
        |pyxc AS (SELECT *, unnest(generate_series(0, 2)) AS c FROM pyx),
        |ps AS (SELECT doc_id,
        |              CAST(sum((6*nx + c + 14*ny + doc_id) % 251) AS BIGINT) AS pixel_sum
        |       FROM pyxc GROUP BY doc_id)
        |SELECT d.doc_id AS media_id, d.w AS orig_w, d.h AS orig_h,
        |       CAST(d.nw AS INT) AS new_w, CAST(d.nh AS INT) AS new_h,
        |       CAST(54 + ((d.nw*3 + 3) - (d.nw*3 + 3) % 4) * d.nh AS INT) AS out_bytes,
        |       ps.pixel_sum
        |FROM dims d JOIN ps ON ps.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // WAV frame means from the sample formula: audio docs (doc_id % 3 =
    // 1), ch = 1 + id % 2, ns = 100 + id % 400, full 64-sample-frame
    // windows only, every 2nd frame; slot j carries
    // ((37j + id) mod 2048) − 1024.
    "q110_audio_frames" ->
      """WITH a AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS BIGINT) AS ch,
        |         CAST(100 + doc_id % 400 AS BIGINT) AS ns
        |  FROM documents WHERE doc_id % 3 = 1),
        |fr AS (SELECT doc_id, ch,
        |              unnest(generate_series(0, ns // 64 - 1)) AS k FROM a),
        |sel AS (SELECT doc_id, ch, k FROM fr WHERE k % 2 = 0),
        |slots AS (SELECT doc_id, ch, k,
        |                 unnest(generate_series(k*64*ch, (k+1)*64*ch - 1)) AS j
        |          FROM sel)
        |SELECT doc_id AS media_id, CAST(k AS INT) AS frame_idx,
        |       CAST(64 * ch AS INT) AS n_slots,
        |       CAST(sum(abs((j*37 + doc_id) % 2048 - 1024)) // (64 * ch) AS BIGINT)
        |         AS mean_abs
        |FROM slots GROUP BY doc_id, k, ch
        |ORDER BY media_id, frame_idx""".stripMargin,

    // CMS rebuilt counter-for-counter: the same four md5 slices hash
    // every token occurrence into the same 4×512 grid, candidates are
    // the same exact top-20, and the estimate is the same min-of-cells.
    "q111_cms_heavy_hitters" ->
      (s"""WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT tok, md5(tok) AS hx FROM toks),
        |cells AS (
        |  SELECT tok, j,
        |         (${TextAnalysis.hexParseSql("substr(hx, 1 + 8*j, 8)", 1, 8)}) % 512 AS cell
        |  FROM h, unnest(generate_series(0, 3)) AS t(j)),
        |sketch AS (SELECT j, cell, count(*) AS c FROM cells GROUP BY j, cell),
        |exact AS (SELECT tok, count(*) AS n_exact FROM toks GROUP BY tok),
        |cand AS (SELECT * FROM (
        |    SELECT tok, n_exact,
        |           row_number() OVER (ORDER BY n_exact DESC, tok) AS rank
        |    FROM exact) WHERE rank <= 20),
        |cc AS (
        |  SELECT tok, n_exact, rank, j,
        |         (${TextAnalysis.hexParseSql("substr(md5(tok), 1 + 8*j, 8)", 1, 8)}) % 512 AS cell
        |  FROM cand, unnest(generate_series(0, 3)) AS t(j))
        |SELECT CAST(rank AS INT) AS rank, cc.tok, any_value(cc.n_exact) AS n_exact,
        |       min(s.c) AS cms_estimate
        |FROM cc JOIN sketch s ON s.j = cc.j AND s.cell = cc.cell
        |GROUP BY cc.tok, rank ORDER BY rank""".stripMargin),

    // JPEG byte-length arithmetic: 2 SOI + (4 + comment) COM + 69 DQT +
    // 13 SOF0 + 22 DHT + 10 SOS + (16 + (w·h) % 64) entropy + 2 EOI =
    // 122 + comment + entropy; dims are the q71 image formulas.
    "q112_media_jpeg" ->
      """WITH im AS (
        |  SELECT doc_id, 16 + (doc_id*13) % 48 AS w, 16 + (doc_id*29) % 32 AS h
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id AS media_id,
        |       CAST(122 + (doc_id % 23) + 16 + (w*h) % 64 AS INT) AS byte_len,
        |       CAST(w AS INT) AS width, CAST(h AS INT) AS height
        |FROM im ORDER BY media_id""".stripMargin,

    // aHash replayed bit-for-bit from the BMP fill pattern: pixel
    // (x,y,c) carries (3x+c+7y+id) mod 251, gray = channel sum, cell =
    // floor grid mapping, bit = cellSum·(w·h) > totalSum·cellCount, hash
    // assembled as two 32-bit halves.
    "q121_image_ahash" ->
      (s"""WITH $aHashCtes
        |SELECT doc_id AS media_id, CAST(w AS INT) AS w, CAST(h AS INT) AS h,
        |       hash_hi, hash_lo, n_bits
        |FROM hs ORDER BY media_id""".stripMargin),

    // Near-dup pairs from the oracle-side hashes: all-pairs xor+popcount
    // is fine at oracle scale; the Spark side must reach the same set
    // through banding (a complete cover at maxDist 3 — pigeonhole).
    "q121b_image_neardup" ->
      (s"""WITH $aHashCtes
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(bit_count(xor(a.hash_hi, b.hash_hi))
        |            + bit_count(xor(a.hash_lo, b.hash_lo)) AS INT) AS hamming
        |FROM hs a JOIN hs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hash_hi, b.hash_hi))
        |      + bit_count(xor(a.hash_lo, b.hash_lo)) <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    // Exact pairs re-derived over the SAME gram relation the banded
    // CTEs build, full-outer'd against pr — an independent restatement
    // of both sides of the confusion matrix.
    "q138_dedup_eval" ->
      s"""WITH $minhashPairsCtes,
         |exact2 AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i2
         |  FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |ex AS (SELECT id_a, id_b FROM exact2
         |       JOIN sizes sa ON sa.doc_id = id_a
         |       JOIN sizes sb ON sb.doc_id = id_b
         |       WHERE i2*1.0/(sa.n + sb.n - i2) >= 0.7),
         |j AS (SELECT e.id_a IS NOT NULL AS in_exact,
         |             p.id_a IS NOT NULL AS in_lsh
         |      FROM ex e FULL OUTER JOIN (SELECT id_a, id_b FROM pr) p
         |        ON e.id_a = p.id_a AND e.id_b = p.id_b)
         |SELECT count(CASE WHEN in_exact AND in_lsh THEN 1 END) AS n_both,
         |       count(CASE WHEN in_exact AND NOT in_lsh THEN 1 END) AS n_missed,
         |       count(CASE WHEN NOT in_exact AND in_lsh THEN 1 END) AS n_spurious
         |FROM j""".stripMargin,

    // The same bands, shards, hash order, and batch arithmetic replayed.
    "q137_length_batches" ->
      (s"""WITH d AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |         len(string_split(text, ' ')) // 16 AS bucket,
        |         (${TextAnalysis.md5Hash48Sql("CAST(doc_id AS VARCHAR)")}) % 4 AS shard,
        |         (${TextAnalysis.md5Hash48Sql("doc_id || ':b'")}) AS h
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens, bucket, shard,
        |             row_number() OVER (PARTITION BY bucket, shard
        |                                ORDER BY h, doc_id) - 1 AS rn
        |      FROM d)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
        |       CAST(bucket AS BIGINT) AS bucket, CAST(shard AS BIGINT) AS shard,
        |       CAST(rn // 8 AS BIGINT) AS batch_idx,
        |       CAST(rn % 8 AS BIGINT) AS pos_in_batch
        |FROM r ORDER BY doc_id""".stripMargin),

    // The same densified grid and the same integer |n_a·N_b − n_b·N_a|
    // sum; the divisor is the LONG product cast once to double, both
    // engines identically.
    "q136_token_drift" ->
      """WITH toks AS (SELECT source AS src, unnest(string_split(text, ' ')) AS t
        |              FROM documents),
        |tc AS (SELECT src, t, count(*) AS n FROM toks
        |       WHERE length(t) > 0 GROUP BY src, t),
        |top AS (SELECT t FROM (
        |  SELECT t, sum(n) AS nt FROM tc GROUP BY t
        |  ORDER BY nt DESC, t LIMIT 100)),
        |tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS nn FROM tc GROUP BY src),
        |cells AS (SELECT top.t, tot.src,
        |                 CAST(coalesce(tc.n, 0) AS BIGINT) AS n, tot.nn
        |          FROM top CROSS JOIN tot
        |          LEFT JOIN tc ON tc.t = top.t AND tc.src = tot.src)
        |SELECT a.src AS src_a, b.src AS src_b,
        |       CAST(sum(abs(a.n*b.nn - b.n*a.nn)) AS BIGINT) AS l1_scaled,
        |       round(CAST(sum(abs(a.n*b.nn - b.n*a.nn)) AS DOUBLE)
        |             / CAST(max(a.nn) * max(b.nn) AS DOUBLE)
        |             * 1000000.0) / 1000000.0 AS drift
        |FROM cells a JOIN cells b ON a.t = b.t AND a.src < b.src
        |GROUP BY a.src, b.src ORDER BY src_a, src_b""".stripMargin,

    // The q47 scoring replayed with the bucket stratification: per
    // (query, same-bucket?) the rn=1 winner under (cosine DESC, id).
    "q135_hard_negatives" ->
      """WITH norms AS (
        |  SELECT vec_id, embedding,
        |         sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS u(x))) AS nrm,
        |         (SELECT CAST(sum(CASE WHEN embedding[j+1] > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
        |          FROM unnest(generate_series(0, 5)) AS t(j)) AS bucket
        |  FROM embeddings),
        |pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |                 q.embedding qv, c.embedding cv, q.nrm nq, c.nrm nc,
        |                 q.bucket = c.bucket AS same
        |          FROM norms q JOIN norms c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |dots AS (SELECT query_id, cand_id, sum(CAST(x1 AS DOUBLE)*CAST(x2 AS DOUBLE)) AS dot,
        |                any_value(nq) AS nq, any_value(nc) AS nc, any_value(same) AS same
        |         FROM (SELECT query_id, cand_id, unnest(qv) AS x1, unnest(cv) AS x2, nq, nc, same FROM pairs)
        |         GROUP BY query_id, cand_id),
        |scored AS (SELECT query_id, cand_id, same,
        |                  round(dot/(nq*nc) * 1000000.0) / 1000000.0 + 0.0 AS cosine
        |           FROM dots),
        |top AS (SELECT query_id, cand_id, same, cosine FROM (
        |  SELECT query_id, cand_id, same, cosine,
        |         row_number() OVER (PARTITION BY query_id, same
        |                            ORDER BY cosine DESC, cand_id) AS rn
        |  FROM scored) WHERE rn = 1)
        |SELECT query_id,
        |       max(CASE WHEN same THEN cand_id END) AS pos_id,
        |       max(CASE WHEN same THEN cosine END) AS pos_cosine,
        |       max(CASE WHEN NOT same THEN cand_id END) AS neg_id,
        |       max(CASE WHEN NOT same THEN cosine END) AS neg_cosine
        |FROM top GROUP BY query_id ORDER BY query_id""".stripMargin,

    // Every mask decision, offset, length, sentinel ordinal, and the
    // corrupted byte stream replayed from the same md5 arithmetic.
    "q134_span_corruption" ->
      (s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |blk AS (SELECT doc_id, unnest(generate_series(0, len(ts) // 8 - 1)) AS b
        |        FROM t WHERE len(ts) >= 8),
        |hh AS (SELECT doc_id, b,
        |              (${TextAnalysis.md5Hash48Sql("doc_id || ':' || b")}) AS hv
        |       FROM blk),
        |sp AS (SELECT doc_id, b, b*8 + (hv // 20) % 5 AS st,
        |              2 + (hv // 100) % 3 AS ln
        |       FROM hh WHERE hv % 20 < 7),
        |spk AS (SELECT doc_id, b, st, ln,
        |               row_number() OVER (PARTITION BY doc_id ORDER BY st) - 1 AS k
        |        FROM sp),
        |pos AS (SELECT doc_id, i - 1 AS p, ts[i] AS tok
        |        FROM t, unnest(range(1, len(ts) + 1)) AS r(i)),
        |outp AS (
        |  SELECT pos.doc_id, pos.p,
        |         CASE WHEN s.st IS NULL OR pos.p < s.st OR pos.p >= s.st + s.ln
        |              THEN pos.tok
        |              WHEN pos.p = s.st THEN '<X_' || s.k || '>' END AS o
        |  FROM pos LEFT JOIN spk s
        |    ON s.doc_id = pos.doc_id AND s.b = pos.p // 8),
        |re AS (SELECT doc_id, string_agg(o, ' ' ORDER BY p) AS corrupted
        |       FROM outp WHERE o IS NOT NULL GROUP BY doc_id),
        |st2 AS (SELECT doc_id, count(*) AS n_spans, CAST(sum(ln) AS BIGINT) AS n_masked
        |        FROM sp GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(st2.n_spans, 0) AS n_spans,
        |       coalesce(st2.n_masked, 0) AS n_masked,
        |       md5(re.corrupted) AS corrupted_md5
        |FROM t LEFT JOIN st2 ON st2.doc_id = t.doc_id
        |LEFT JOIN re ON re.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    // The same total order (name, id), the same in-window pair set via
    // a rank self-join, the same scorer.
    "q129_sorted_neighborhood" ->
      """WITH p AS (SELECT p_partkey AS rid, p_name AS rname
        |           FROM part WHERE p_partkey < 500),
        |r AS (SELECT rid, rname,
        |             row_number() OVER (ORDER BY rname, rid) - 1 AS rnk
        |      FROM p)
        |SELECT a.rid AS id_a, b.rid AS id_b,
        |       a.rname AS name_a, b.rname AS name_b,
        |       CAST(levenshtein(a.rname, b.rname) AS INT) AS dist
        |FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk - a.rnk < 6
        |WHERE levenshtein(a.rname, b.rname) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // Argmax replayed per shard count with the explicit (weight DESC,
    // shard DESC) window — arg_max's tie rule is unspecified, the
    // window's is total.
    "q128_rendezvous_shard" ->
      (s"""WITH sh AS (
        |  SELECT doc_id, unnest(generate_series(0, 8)) AS s FROM documents),
        |w AS (SELECT doc_id, s,
        |             (${TextAnalysis.md5Hash48Sql("doc_id || ':' || s")}) AS wt
        |      FROM sh),
        |r8 AS (SELECT doc_id, s FROM (
        |         SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
        |                ORDER BY wt DESC, s DESC) AS rn
        |         FROM w WHERE s < 8) WHERE rn = 1),
        |r9 AS (SELECT doc_id, s FROM (
        |         SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
        |                ORDER BY wt DESC, s DESC) AS rn
        |         FROM w) WHERE rn = 1)
        |SELECT r8.doc_id AS doc_id, CAST(r8.s AS INT) AS shard8,
        |       CAST(r9.s AS INT) AS shard9,
        |       CAST(CASE WHEN r8.s <> r9.s THEN 1 ELSE 0 END AS INT) AS moved
        |FROM r8 JOIN r9 ON r8.doc_id = r9.doc_id
        |ORDER BY r8.doc_id""".stripMargin),

    // Chunk manifests replayed with substr arithmetic (ASCII corpus:
    // char offsets == byte offsets; DuckDB md5 hashes the UTF-8 bytes).
    "q127_byte_chunks" ->
      """WITH v AS (
        |  SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT doc_id AS media_id, CAST(i AS INT) AS chunk_idx,
        |       CAST(i * 100 AS INT) AS off,
        |       CAST(least(100, n - i * 100) AS INT) AS len,
        |       md5(substr(text, i * 100 + 1, 100)) AS chunk_md5
        |FROM (SELECT doc_id, text, n,
        |             unnest(generate_series(0, (n + 99) // 100 - 1)) AS i
        |      FROM v)
        |ORDER BY media_id, chunk_idx""".stripMargin,

    // Bucket counts replayed from the same md5-48 mod-64 hash.
    "q126_hashing_vectorize" ->
      (s"""WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id, (${TextAnalysis.md5Hash48Sql("tok")}) % 64 AS bucket,
        |       count(*) AS cnt
        |FROM t WHERE length(tok) > 0
        |GROUP BY doc_id, bucket ORDER BY doc_id, bucket""".stripMargin),

    // The q121b pair derivation + the q66 recursive-reach components:
    // every image in a Hamming≤3 pair, labeled with its component min.
    "q125_image_canonical" ->
      (s"""WITH RECURSIVE $aHashCtes,
        |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |       FROM hs a JOIN hs b ON a.doc_id < b.doc_id
        |       WHERE bit_count(xor(a.hash_hi, b.hash_hi))
        |             + bit_count(xor(a.hash_lo, b.hash_lo)) <= 3),
        |edges AS (SELECT id_a AS u, id_b AS v FROM pr
        |          UNION SELECT id_b, id_a FROM pr),
        |reach(v, r) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        |  UNION
        |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.v)
        |SELECT v AS media_id, CAST(min(r) AS BIGINT) AS rep_id
        |FROM reach GROUP BY v ORDER BY media_id""".stripMargin),

    // Same blocks (noun / adjective passes), same levenshtein, same
    // dedup-before-score: the oracle's OR-of-blocks join restates the
    // union of blocking passes.
    "q122_record_linkage" ->
      """WITH p AS (SELECT p_partkey, p_name,
        |                  string_split(p_name, ' ')[-1] AS noun,
        |                  string_split(p_name, ' ')[1] AS adj
        |           FROM part WHERE p_partkey < 200),
        |cand AS (
        |  SELECT DISTINCT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |         a.p_name AS name_a, b.p_name AS name_b
        |  FROM p a JOIN p b ON a.p_partkey < b.p_partkey
        |   AND (a.noun = b.noun OR a.adj = b.adj))
        |SELECT id_a, id_b, name_a, name_b,
        |       CAST(levenshtein(name_a, name_b) AS INT) AS dist
        |FROM cand WHERE levenshtein(name_a, name_b) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // Same v2 construction, payloads compared directly (the operator's
    // md5 fingerprints are collision-free here by construction).
    "q123_snapshot_diff" ->
      """WITH v2 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 13 = 5 THEN text || ' [rev2]'
        |              ELSE text END AS text,
        |         lang, source, n_chars
        |  FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 100000, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 19 = 7)
        |SELECT doc_id, status FROM (
        |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |         CASE WHEN a.doc_id IS NULL THEN 'added'
        |              WHEN b.doc_id IS NULL THEN 'removed'
        |              WHEN a.text <> b.text OR a.lang <> b.lang
        |                   OR a.source <> b.source OR a.n_chars <> b.n_chars
        |                   THEN 'changed' END AS status
        |  FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        |WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin,

    // The classifier replayed weight-for-weight: same md5-48 hash, same
    // % 17 − 8 surrogate weights, same integer margins and ≥0 gate; the
    // per-source kept_id_sum pins WHICH docs pass, not just how many.
    "q113_hashed_classifier" ->
      (s"""WITH t AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |w AS (SELECT doc_id, source,
        |             (${TextAnalysis.md5Hash48Sql("tok")}) % 17 - 8 AS wgt FROM t),
        |d AS (SELECT doc_id, source, CAST(sum(wgt) AS BIGINT) AS score,
        |             CASE WHEN sum(wgt) >= 0 THEN 1 ELSE 0 END AS kept
        |      FROM w GROUP BY doc_id, source)
        |SELECT source, count(*) AS n_docs, CAST(sum(kept) AS BIGINT) AS n_kept,
        |       CAST(sum(score) AS BIGINT) AS sum_score,
        |       CAST(sum(doc_id * kept) AS BIGINT) AS kept_id_sum
        |FROM d GROUP BY source ORDER BY source""".stripMargin),

    // Keep-first selection re-derived with an encoded (doc,pos) argmin:
    // min(doc*1e6 + pos) orders identically to the struct min (positions
    // are 1-based here vs 0-based in Spark — a within-doc shift that
    // cannot reorder (doc, pos) tuples). Reassembly byte-pinned via md5.
    "q115_paragraph_dedup" ->
      """WITH d2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000,
        |         'fresh lead for copy ' || doc_id || '. ' || text
        |  FROM documents WHERE doc_id < 30),
        |p AS (
        |  SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS pos
        |  FROM (SELECT doc_id, string_split(text, '. ') AS arr FROM d2)),
        |s AS (SELECT doc_id, pos, arr[pos] AS sent FROM p WHERE length(arr[pos]) > 0),
        |f AS (SELECT sent, min(doc_id * 1000000 + pos) AS fkey FROM s GROUP BY sent),
        |kept AS (
        |  SELECT s.doc_id, s.pos, s.sent
        |  FROM s JOIN f ON s.sent = f.sent AND s.doc_id * 1000000 + s.pos = f.fkey),
        |k AS (SELECT doc_id, string_agg(sent, '. ' ORDER BY pos) AS clean,
        |             count(*) AS n_kept
        |      FROM kept GROUP BY doc_id)
        |SELECT d2.doc_id, md5(coalesce(k.clean, '')) AS clean_md5,
        |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
        |FROM d2 LEFT JOIN k ON d2.doc_id = k.doc_id
        |ORDER BY d2.doc_id""".stripMargin,

    "q116_profile" ->
      """SELECT * FROM (
        |  SELECT 'doc_id' AS col_name, count(*) AS n_rows,
        |         count(*) - count(doc_id) AS n_null,
        |         count(DISTINCT doc_id) AS n_distinct,
        |         CAST(min(doc_id) AS VARCHAR) AS min_str,
        |         CAST(max(doc_id) AS VARCHAR) AS max_str FROM documents
        |  UNION ALL
        |  SELECT 'text', count(*), count(*) - count(text), count(DISTINCT text),
        |         CAST(min(text) AS VARCHAR), CAST(max(text) AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'lang', count(*), count(*) - count(lang), count(DISTINCT lang),
        |         CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'source', count(*), count(*) - count(source), count(DISTINCT source),
        |         CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', count(*), count(*) - count(n_chars), count(DISTINCT n_chars),
        |         CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM documents)
        |ORDER BY col_name""".stripMargin,

    // Stage 1 is q86's quantized chain cut at rank ≤ 10; stage 2 is q47's
    // exact-cosine chain over the shortlist survivors only.
    "q117_ann_rerank" ->
      """WITH stats AS (
        |  SELECT max(abs(CAST(x AS DOUBLE))) AS gmax
        |  FROM (SELECT unnest(embedding) AS x FROM embeddings)),
        |coded AS (
        |  SELECT e.vec_id,
        |         array_agg(CASE WHEN s.gmax > 0
        |                        THEN CAST(floor(CAST(e.embedding[t.j+1] AS DOUBLE)
        |                                        / s.gmax * 127.0 + 0.5) AS BIGINT)
        |                        ELSE 0 END ORDER BY t.j) AS qv
        |  FROM embeddings e, stats s, unnest(generate_series(0, 63)) AS t(j)
        |  GROUP BY e.vec_id),
        |qpairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.qv AS qa, c.qv AS qb
        |  FROM coded q JOIN coded c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
        |qdots AS (
        |  SELECT query_id, cand_id,
        |         sum(x1*x2) AS dot, sum(x1*x1) AS na2, sum(x2*x2) AS nb2
        |  FROM (SELECT query_id, cand_id, unnest(qa) AS x1, unnest(qb) AS x2 FROM qpairs)
        |  GROUP BY query_id, cand_id),
        |qscored AS (
        |  SELECT query_id, cand_id,
        |         CASE WHEN na2 > 0 AND nb2 > 0
        |              THEN round(CAST(dot AS DOUBLE)/(sqrt(CAST(na2 AS DOUBLE))*sqrt(CAST(nb2 AS DOUBLE))), 6) + 0.0
        |              ELSE -1.0 END AS qcos
        |  FROM qdots),
        |short AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT query_id, cand_id,
        |           row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, cand_id) AS srank
        |    FROM qscored)
        |  WHERE srank <= 10),
        |norms AS (
        |  SELECT vec_id, embedding,
        |         sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS u(x))) AS nrm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT s.query_id, s.cand_id, q.embedding qv, c.embedding cv, q.nrm nq, c.nrm nc
        |  FROM short s
        |  JOIN norms q ON q.vec_id = s.query_id
        |  JOIN norms c ON c.vec_id = s.cand_id),
        |dots AS (
        |  SELECT query_id, cand_id, sum(CAST(x1 AS DOUBLE)*CAST(x2 AS DOUBLE)) AS dot,
        |         any_value(nq) AS nq, any_value(nc) AS nc
        |  FROM (SELECT query_id, cand_id, unnest(qv) AS x1, unnest(cv) AS x2, nq, nc FROM pairs)
        |  GROUP BY query_id, cand_id),
        |scored AS (SELECT query_id, cand_id, round(dot/(nq*nc), 6) + 0.0 AS cosine FROM dots)
        |SELECT query_id, rank, cand_id, cosine FROM (
        |  SELECT query_id, cand_id, cosine,
        |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // The identical CJK fixture (chr over the same token-hash codepoints),
    // codepoint 3-gram shingles hashed with the wide base-2^21 polynomial,
    // minhash with the mod-P pre-reduction, then the standard band/verify
    // chain. Pairs and jaccards must match the Spark pipeline exactly.
    "q139_cjk_neardup" ->
      s"""WITH x AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
         |tk AS (SELECT doc_id, i, ts[i] AS t
         |       FROM x, unnest(generate_series(1, len(ts))) AS u(i)),
         |cjk AS (SELECT doc_id,
         |               string_agg(chr(CAST(19968 + (${tokenHashSql("t")} % 20000)
         |                 AS INTEGER)), '' ORDER BY i) AS text
         |        FROM tk GROUP BY doc_id),
         |pos AS (SELECT doc_id, text,
         |               unnest(generate_series(1, greatest(length(text)-2,1))) AS i
         |        FROM cjk),
         |gr AS (SELECT DISTINCT doc_id, substr(text, i, 3) AS g FROM pos),
         |hs AS (SELECT doc_id, CAST(${cpGramHashSql("g")} AS BIGINT) AS h FROM gr),
         |mh AS (SELECT doc_id, $cpMinSqlCols FROM hs GROUP BY doc_id),
         |bands AS ($bandSql),
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b FROM bands x
         |         JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n FROM gr GROUP BY doc_id),
         |inter AS (SELECT id_a, id_b, count(*) AS inter FROM cand
         |          JOIN gr a ON a.doc_id = id_a
         |          JOIN gr b ON b.doc_id = id_b AND a.g = b.g
         |          GROUP BY id_a, id_b),
         |pr AS (
         |  SELECT id_a, id_b, inter*1.0/(sa.n + sb.n - inter) AS jaccard
         |  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE inter*1.0/(sa.n + sb.n - inter) >= 0.7)
         |SELECT id_a, id_b, jaccard FROM pr ORDER BY id_a, id_b""".stripMargin,

    "q140_bpe_merges" -> bpeOracle(8,
      (1 to 8).map(r =>
          s"SELECT $r AS round, sa AS sym_a, sb AS sym_b, n AS pair_count FROM best$r")
        .mkString("", "\nUNION ALL ", "\nORDER BY round")),

    // Identical integer floor-log2 chain over bigram-head and bigram
    // counts; the per-doc sum is integer, the mean is the one float op.
    "q142_bigram_surprisal" ->
      s"""WITH x AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |bi AS (SELECT doc_id, ts[i] AS pv, ts[i] || ' ' || ts[i+1] AS bg
         |       FROM x, unnest(generate_series(1, len(ts)-1)) AS u(i)),
         |bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS cb FROM bi GROUP BY bg),
         |hc AS (SELECT pv, CAST(count(*) AS BIGINT) AS cp FROM bi GROUP BY pv),
         |sc AS (SELECT doc_id,
         |              ${TextAnalysis.floorLog2Sql("cp")} -
         |              ${TextAnalysis.floorLog2Sql("cb")} AS bits
         |       FROM bi JOIN bc USING (bg) JOIN hc USING (pv))
         |SELECT doc_id, count(*) AS n_bigrams,
         |       round(CAST(sum(bits) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |             * 1000000.0) / 1000000.0 AS mean_cond_bits
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // The oracle materializes every suffix as a list and sorts (DuckDB
    // list comparison is lexicographic with shorter-prefix-first — the
    // same order the 0-padded doubling produces); dense_rank ties are
    // genuinely equal suffixes, which the doubling also ties.
    "q143_suffix_ranks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |p AS (SELECT doc_id, i, list_slice(ts, i, len(ts)) AS suf
        |      FROM t, unnest(generate_series(1, len(ts))) AS u(i))
        |SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |       CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT) AS srank
        |FROM p ORDER BY doc_id, pos""".stripMargin,

    // Adjacent-pair LCPs recomputed by DIRECT token comparison (first
    // mismatch position over the shorter suffix) — fully independent of
    // the level-table rank walk it verifies.
    "q144_lcp_repeats" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |p AS (SELECT doc_id AS d, i AS p, len(ts) - i + 1 AS rem,
        |             list_slice(ts, i, len(ts)) AS suf
        |      FROM t, unnest(generate_series(1, len(ts))) AS u(i)),
        |sa AS (SELECT d, p, rem, suf,
        |              row_number() OVER (ORDER BY suf, d, p) AS srow FROM p),
        |adj AS (SELECT a.d AS da, CAST(a.p AS BIGINT) AS pa,
        |               b.d AS db, CAST(b.p AS BIGINT) AS pb,
        |               coalesce(nullif(list_position(list_transform(
        |                          range(1, least(a.rem, b.rem) + 1),
        |                          k -> a.suf[k] = b.suf[k]), false), 0) - 1,
        |                        least(a.rem, b.rem)) AS lcp,
        |               a.suf AS sufa
        |        FROM sa a JOIN sa b ON b.srow = a.srow + 1 AND a.d <> b.d)
        |SELECT da, pa, db, pb, CAST(lcp AS BIGINT) AS lcp,
        |       array_to_string(list_slice(sufa, 1, lcp), ' ') AS repeat_text
        |FROM adj WHERE lcp >= 3
        |ORDER BY lcp DESC, da, pa, db, pb LIMIT 10""".stripMargin,

    // Identical pruned-backoff cascade: trigram / backoff-bigram /
    // unigram scored vocabularies (head-count denominators), coalesce on
    // the trigram stream, integer bit sums, one float mean.
    "q145_backoff_trigram" ->
      s"""WITH x AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |tri AS (SELECT doc_id,
         |               ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS tg,
         |               ts[i] || ' ' || ts[i+1] AS h2,
         |               ts[i+1] || ' ' || ts[i+2] AS b2, ts[i+2] AS w3
         |        FROM x, unnest(generate_series(1, len(ts)-2)) AS u(i)),
         |bi AS (SELECT ts[i] AS hw, ts[i] || ' ' || ts[i+1] AS bg
         |       FROM x, unnest(generate_series(1, len(ts)-1)) AS u(i)),
         |uni AS (SELECT unnest(ts) AS w FROM x),
         |c3 AS (SELECT tg, h2, CAST(count(*) AS BIGINT) AS n3 FROM tri GROUP BY tg, h2),
         |h2c AS (SELECT h2, CAST(sum(n3) AS BIGINT) AS n2h FROM c3 GROUP BY h2),
         |c2 AS (SELECT bg, hw, CAST(count(*) AS BIGINT) AS nb FROM bi GROUP BY bg, hw),
         |h1c AS (SELECT hw, CAST(sum(nb) AS BIGINT) AS n1h FROM c2 GROUP BY hw),
         |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS nu FROM uni GROUP BY w),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM uni),
         |tsc AS (SELECT tg, ${TextAnalysis.floorLog2Sql("n2h")} -
         |                   ${TextAnalysis.floorLog2Sql("n3")} AS bits3
         |        FROM c3 JOIN h2c USING (h2) WHERE n3 >= 3),
         |bsc AS (SELECT bg, ${TextAnalysis.floorLog2Sql("n1h")} -
         |                   ${TextAnalysis.floorLog2Sql("nb")} + 1 AS bits2
         |        FROM c2 JOIN h1c USING (hw) WHERE nb >= 2),
         |usc AS (SELECT w, ${TextAnalysis.floorLog2Sql("nt")} -
         |                  ${TextAnalysis.floorLog2Sql("nu")} + 2 AS bits1
         |        FROM c1, nn),
         |sc AS (SELECT doc_id, coalesce(t.bits3, b.bits2, u2.bits1) AS bits,
         |              CASE WHEN t.bits3 IS NOT NULL THEN 1 ELSE 0 END AS is3,
         |              CASE WHEN t.bits3 IS NULL AND b.bits2 IS NOT NULL
         |                   THEN 1 ELSE 0 END AS is2
         |       FROM tri LEFT JOIN tsc t USING (tg)
         |                LEFT JOIN bsc b ON tri.b2 = b.bg
         |                LEFT JOIN usc u2 ON tri.w3 = u2.w)
         |SELECT doc_id, count(*) AS n_trigrams,
         |       CAST(sum(is3) AS BIGINT) AS n_tri_hits,
         |       CAST(sum(is2) AS BIGINT) AS n_bi_hits,
         |       CAST(count(*) - sum(is3) - sum(is2) AS BIGINT) AS n_uni_hits,
         |       CAST(sum(bits) AS BIGINT) AS sum_bits,
         |       round(CAST(sum(bits) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |             * 1000000.0) / 1000000.0 AS mean_backoff_bits
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Identical blocklist derivation (count DESC, phrase ASC top-k),
    // per-length positional gram joins, distinct coverage, ordered
    // string_agg rebuild — empty-doc md5 pinned through the left join.
    "q146_phrase_scrub" ->
      """WITH x AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |bl AS (
        |  (SELECT ts[i] || ' ' || ts[i+1] AS g, 2 AS plen
        |   FROM x, unnest(generate_series(1, len(ts)-1)) AS u(i)
        |   GROUP BY g ORDER BY count(*) DESC, g LIMIT 8)
        |  UNION ALL
        |  (SELECT ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g, 3 AS plen
        |   FROM x, unnest(generate_series(1, len(ts)-2)) AS u(i)
        |   GROUP BY g ORDER BY count(*) DESC, g LIMIT 4)),
        |toks AS (SELECT doc_id, i AS tp, ts[i] AS t
        |         FROM x, unnest(generate_series(1, len(ts))) AS u(i)),
        |m2 AS (SELECT doc_id, i AS mp, 2 AS plen
        |       FROM x, unnest(generate_series(1, len(ts)-1)) AS u(i)
        |       WHERE ts[i] || ' ' || ts[i+1] IN (SELECT g FROM bl WHERE plen = 2)),
        |m3 AS (SELECT doc_id, i AS mp, 3 AS plen
        |       FROM x, unnest(generate_series(1, len(ts)-2)) AS u(i)
        |       WHERE ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
        |             IN (SELECT g FROM bl WHERE plen = 3)),
        |cov AS (SELECT DISTINCT doc_id, mp + o AS tp
        |        FROM (SELECT * FROM m2 UNION ALL SELECT * FROM m3) m,
        |             unnest(generate_series(0, m.plen - 1)) AS v(o)),
        |kept AS (SELECT t.* FROM toks t LEFT JOIN cov c
        |         ON t.doc_id = c.doc_id AND t.tp = c.tp WHERE c.tp IS NULL),
        |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_after,
        |               string_agg(t, ' ' ORDER BY tp) AS clean
        |        FROM kept GROUP BY doc_id)
        |SELECT x.doc_id, CAST(len(x.ts) AS BIGINT) AS n_before,
        |       coalesce(reb.n_after, 0) AS n_after,
        |       md5(coalesce(reb.clean, '')) AS clean_md5
        |FROM x LEFT JOIN reb ON x.doc_id = reb.doc_id
        |ORDER BY x.doc_id""".stripMargin,

    // Identical codebook construction (sign buckets per subspace, decimal
    // means), r6 sub-distances with smaller-cid argmin ties, ADC as the
    // (sub, cid)-keyed LUT join, rank by (adist ASC, cand_id).
    "q147_ann_pq" -> pqOracle(m = 4, w = 16, signBits = 4, topK = 5),

    // Same chain at production geometry (m=8, 2^8-cell codebooks) — on
    // the oracle side the dense vs sparse LUT distinction doesn't exist
    // (the LUT is a join either way), which is the point: the Spark
    // dense-packed path must land on the same relation.
    "q147b_ann_pq256" -> pqOracle(m = 8, w = 8, signBits = 8, topK = 5),

    // Identical gram construction (md5 of space-joined token 8-gram),
    // lexicographic struct-min ownership, per-doc novel share. The
    // planted later copies (doc_id+100000 of the q42 slice) must score 0.
    "q148_gram_novelty" ->
      """WITH src AS (SELECT doc_id, text FROM documents
        |             UNION ALL
        |             SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50),
        |x AS (SELECT doc_id, string_split(text, ' ') AS ts FROM src),
        |gr AS (SELECT doc_id AS d, i AS p,
        |              md5(array_to_string(list_slice(ts, i, i + 7), ' ')) AS g
        |       FROM x, unnest(generate_series(1, len(ts) - 7)) AS u(i)),
        |own AS (SELECT g, min(struct_pack(d := d, p := p)) AS o FROM gr GROUP BY g)
        |SELECT d AS doc_id, count(*) AS n_grams,
        |       CAST(sum(CASE WHEN gr.d = (o).d AND gr.p = (o).p
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       round(CAST(sum(CASE WHEN gr.d = (o).d AND gr.p = (o).p
        |                      THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |             * 1000000.0) / 1000000.0 AS novelty
        |FROM gr JOIN own USING (g)
        |GROUP BY d ORDER BY doc_id""".stripMargin,

    // Identical band-then-join chain: df band, smoothed rational idf,
    // r6-per-term products, order-free DECIMAL sums, one final divide.
    "q149_tfidf_pairs" ->
      """WITH src AS (SELECT doc_id, text FROM documents
        |             UNION ALL
        |             SELECT doc_id + 100000,
        |                    'mut' || doc_id || substr(text, strpos(text, ' '))
        |             FROM documents WHERE doc_id < 50 AND strpos(text, ' ') > 0),
        |toks AS (SELECT doc_id AS d, unnest(string_split(text, ' ')) AS t FROM src),
        |tf AS (SELECT d, t, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY d, t),
        |dfb AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t
        |        HAVING count(*) BETWEEN 2 AND 500),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM src),
        |wtf AS (SELECT d, tf.t, tf.tf * ((nn.n - df + 0.5) / (df + 0.5)) AS w
        |        FROM tf JOIN dfb USING (t), nn),
        |nrm AS (SELECT d, sqrt(CAST(sum(CAST(round(w*w*1000000.0)/1000000.0
        |                       AS DECIMAL(28,6))) AS DOUBLE)) AS nrm
        |        FROM wtf GROUP BY d),
        |pr AS (SELECT a.d AS id_a, b.d AS id_b, count(*) AS shared_terms,
        |              CAST(sum(CAST(round(a.w*b.w*1000000.0)/1000000.0
        |                   AS DECIMAL(28,6))) AS DOUBLE) AS dot
        |       FROM wtf a JOIN wtf b ON a.t = b.t AND a.d < b.d
        |       GROUP BY a.d, b.d)
        |SELECT id_a, id_b, shared_terms,
        |       round(dot/(na.nrm*nb.nrm)*1000000.0)/1000000.0 AS cosine
        |FROM pr JOIN nrm na ON na.d = id_a JOIN nrm nb ON nb.d = id_b
        |WHERE round(dot/(na.nrm*nb.nrm)*1000000.0)/1000000.0 >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    // q77's chunk chain over the patch-augmented token streams, plus the
    // per-chunk [IMG] count.
    "q150_multimodal_pack" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         string_split(CASE WHEN doc_id % 3 = 0
        |           THEN rtrim(repeat('[IMG] ',
        |                  CAST(1 + length(text) % 8 AS INT))) || ' ' || text
        |           ELSE text END, ' ') AS toks
        |  FROM documents),
        |a AS (
        |  SELECT doc_id, source, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(sum(len(toks)) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - len(toks) AS start_off
        |  FROM t),
        |e AS (
        |  SELECT source, start_off, n_tokens, toks,
        |    unnest(generate_series(CAST(floor(start_off / 512.0) AS BIGINT),
        |                           CAST(floor((start_off + n_tokens - 1) / 512.0) AS BIGINT))) AS chunk
        |  FROM a),
        |p AS (
        |  SELECT source, chunk, start_off,
        |    greatest(chunk*512 - start_off, 0) AS ls,
        |    least((chunk+1)*512 - start_off, n_tokens) AS le,
        |    toks
        |  FROM e),
        |s AS (SELECT source, chunk, start_off, le - ls AS np,
        |        CAST(len(list_filter(toks[ls+1:le], x -> x = '[IMG]')) AS BIGINT) AS n_patch,
        |        array_to_string(toks[ls+1:le], ' ') AS piece FROM p)
        |SELECT source AS shard, chunk, count(*) AS n_docs,
        |  CAST(sum(np) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_patch) AS BIGINT) AS n_patches,
        |  md5(string_agg(piece, ' ' ORDER BY start_off)) AS text_md5
        |FROM s GROUP BY source, chunk ORDER BY shard, chunk""".stripMargin,

    // same learned chain, consumed through the vocabulary join
    "q141_bpe_tokenize" -> bpeOracle(8,
      """SELECT doc_id,
        |       CAST(sum(vn.nsym) AS BIGINT) AS n_bpe_tokens,
        |       count(*) AS n_words
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) dtk
        |JOIN (SELECT w, count(*) AS nsym FROM s8 GROUP BY w) vn USING (w)
        |WHERE length(dtk.w) > 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Same codepoint synthesis (chr ≡ the Spark utf8Chr construction),
    // same length-difference class counts, same fixed-priority argmax.
    "q151_script_mix" -> scriptMixOracle,

    // quantile_cont IS the (1-g)·lo + g·hi rule the rank walk implements.
    // Means are DECIMAL-image (davgSql): avg(double) is run-order
    // dependent in the last bits — stable at sf0.01 group sizes but a
    // latent flake at larger ones, the exact-sum doctrine's whole point.
    "q152_winsorize" ->
      s"""WITH t AS (SELECT source, CAST(n_chars AS DOUBLE) AS v FROM documents),
        |q AS (SELECT source,
        |             round(quantile_cont(v, 0.05)*1000000.0)/1000000.0 AS t_lo,
        |             round(quantile_cont(v, 0.95)*1000000.0)/1000000.0 AS t_hi
        |      FROM t GROUP BY source)
        |SELECT t.source, count(*) AS n,
        |  CAST(sum(CASE WHEN v < t_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        |  CAST(sum(CASE WHEN v > t_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
        |  round(max(t_lo)*10000.0)/10000.0 AS p_lo,
        |  round(max(t_hi)*10000.0)/10000.0 AS p_hi,
        |  round((${graft.Tables.davgSql("v")})*1000000.0)/1000000.0 AS mean_raw,
        |  round((${graft.Tables.davgSql("least(greatest(v, t_lo), t_hi)")})*1000000.0)/1000000.0 AS mean_wins
        |FROM t JOIN q ON t.source = q.source
        |GROUP BY t.source ORDER BY t.source""".stripMargin,

    // q113's hashed-margin chain for classifier A; token-count rule for
    // B; kappa as the integer rational with one rounded divide.
    "q153_classifier_kappa" ->
      (s"""WITH t AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |w AS (SELECT doc_id, source,
        |             (${TextAnalysis.md5Hash48Sql("tok")}) % 17 - 8 AS wgt FROM t),
        |d AS (SELECT doc_id, source,
        |        CASE WHEN sum(wgt) >= 0 THEN 1 ELSE 0 END AS a,
        |        CASE WHEN count(*) >= 15 THEN 1 ELSE 0 END AS b
        |      FROM w GROUP BY doc_id, source),
        |c AS (SELECT source,
        |        CAST(sum(CASE WHEN a=0 AND b=0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
        |        CAST(sum(CASE WHEN a=0 AND b=1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |        CAST(sum(CASE WHEN a=1 AND b=0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |        CAST(sum(CASE WHEN a=1 AND b=1 THEN 1 ELSE 0 END) AS BIGINT) AS n11
        |      FROM d GROUP BY source)
        |SELECT source, n00, n01, n10, n11,
        |  CASE WHEN (n00+n01+n10+n11)*(n00+n01+n10+n11)
        |            - ((n00+n01)*(n00+n10) + (n10+n11)*(n01+n11)) = 0 THEN 1.0
        |       ELSE round(
        |         CAST((n00+n01+n10+n11)*(n00+n11)
        |              - ((n00+n01)*(n00+n10) + (n10+n11)*(n01+n11)) AS DOUBLE)
        |         / CAST((n00+n01+n10+n11)*(n00+n01+n10+n11)
        |              - ((n00+n01)*(n00+n10) + (n10+n11)*(n01+n11)) AS DOUBLE)
        |         * 1000000.0)/1000000.0 + 0.0 END AS kappa
        |FROM c ORDER BY source""".stripMargin),

    // Micro-unit integer quantization, DECIMAL(38,0) order-free sums,
    // one final rounded divide — identical to embeddingCovariance.
    // CAST(embedding[i] AS DOUBLE) is load-bearing: DuckDB types a bare
    // FLOAT × decimal-literal product as FLOAT, so round() would see the
    // float-rounded product (…668.5f) where Spark's cast-to-double sees
    // …668.4936 — 109 of 640 (label,pos) micro-sums at sf0.01 differ by
    // one unit without the cast. q154's covariance is insensitive to
    // one-unit v shifts (Δcov ≈ 2e-9 ≪ the 5e-7 rounding grain) but
    // q156's cancellation-heavy cosine is not; both oracles carry the
    // cast so the quantization contract is exact, not luck.
    // `+ 0.0` is the signed-zero normalization of the drnd doctrine
    // (Tables.drnd): a covariance that rounds to zero FROM BELOW leaves
    // DuckDB's C round as -0.0 while Spark's BigDecimal round has no
    // negative zero; IEEE -0.0 + 0.0 = +0.0 makes both engines emit the
    // same bits (the r9 q154 hash failure — one cell of 2080).
    "q154_embed_cov" ->
      """WITH e AS (SELECT vec_id, embedding,
        |                  unnest(generate_series(1, len(embedding))) AS i
        |           FROM embeddings),
        |u AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS i,
        |             CAST(round(CAST(embedding[i] AS DOUBLE)*1000000.0) AS BIGINT) AS v
        |      FROM e),
        |p AS (SELECT a.i AS i, b.i AS j, count(*) AS n,
        |             sum(CAST(a.v AS HUGEINT) * b.v) AS sxy,
        |             sum(CAST(a.v AS HUGEINT)) AS sx,
        |             sum(CAST(b.v AS HUGEINT)) AS sy
        |      FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
        |      GROUP BY a.i, b.i)
        |SELECT i, j,
        |  round(CAST(CAST(n AS HUGEINT)*sxy - sx*sy AS DOUBLE)
        |        / (CAST(n AS DOUBLE)*n) / 1000000000000.0
        |        * 1000000.0)/1000000.0 + 0.0 AS cov
        |FROM p ORDER BY i, j""".stripMargin,

    // The INDEPENDENTLY-constructed canonical form: the Spark side must
    // normalize four raw variants (case/www/port/slash/params/fragment)
    // onto exactly this string — not a replay of the same normalizer.
    "q155_url_dedup" ->
      """WITH f AS (SELECT doc_id,
        |  'https://site' || (doc_id%50) || '.example.com/a/b?id=' || (doc_id%50)
        |    || '&z=1' AS canon_url,
        |  CASE WHEN doc_id%4=0 THEN 'HTTPS://WWW.Site' || (doc_id%50)
        |         || '.Example.COM:443/a/b?utm_source=feed&id=' || (doc_id%50)
        |         || '&z=1#frag'
        |       WHEN doc_id%4=1 THEN 'https://site' || (doc_id%50)
        |         || '.example.com/a/b?z=1&id=' || (doc_id%50) || '&utm_campaign=x'
        |       WHEN doc_id%4=2 THEN 'https://Site' || (doc_id%50)
        |         || '.Example.com/a/b/?id=' || (doc_id%50) || '&z=1'
        |       ELSE 'https://site' || (doc_id%50)
        |         || '.example.com:443/a/b?ref=home&z=1&id=' || (doc_id%50)
        |  END AS raw
        |  FROM documents)
        |SELECT canon_url, count(*) AS n_rows,
        |       count(DISTINCT raw) AS n_variants, min(doc_id) AS keep_id
        |FROM f GROUP BY canon_url HAVING count(*) > 1
        |ORDER BY canon_url""".stripMargin,

    // Same micro-unit quantization as q154 (round half away from zero on
    // the identical binary double), HUGEINT sums, one rounded divide.
    // `+ 0.0` = the drnd signed-zero normalization (a cross-label cosine
    // can round to zero from below).
    "q156_centroid_cosine" ->
      """WITH e AS (SELECT label, embedding,
        |                  unnest(generate_series(1, len(embedding))) AS i
        |           FROM embeddings),
        |u AS (SELECT label, CAST(i AS INTEGER) AS pos,
        |             CAST(round(CAST(embedding[i] AS DOUBLE)*1000000.0) AS BIGINT) AS v
        |      FROM e),
        |s AS (SELECT label, pos, sum(CAST(v AS HUGEINT)) AS s FROM u
        |      GROUP BY label, pos),
        |n AS (SELECT label, sum(s*s) AS s2 FROM s GROUP BY label),
        |d AS (SELECT a.label AS label_a, b.label AS label_b,
        |             sum(a.s*b.s) AS dot
        |      FROM s a JOIN s b ON a.pos = b.pos AND a.label < b.label
        |      GROUP BY 1, 2)
        |SELECT label_a, label_b,
        |  round(CAST(dot AS DOUBLE)
        |        / (sqrt(CAST(na.s2 AS DOUBLE)) * sqrt(CAST(nb.s2 AS DOUBLE)))
        |        * 1000000.0)/1000000.0 + 0.0 AS cosine
        |FROM d JOIN n na ON na.label = d.label_a
        |       JOIN n nb ON nb.label = d.label_b
        |ORDER BY label_a, label_b""".stripMargin,

    // HUGEINT sums ≡ the Spark DECIMAL(38,0) images (both exact, both
    // order-free); one rounded rational divide, NULL on a degenerate
    // (x never varies) denominator; `+ 0.0` for the negative-capable
    // slope (NULL-transparent).
    "q157_trend_slope" ->
      """WITH t AS (SELECT source, doc_id % 37 AS x, n_chars AS y FROM documents),
        |a AS (SELECT source, count(*) AS n,
        |             sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |             sum(CAST(x AS HUGEINT)*y) AS sxy,
        |             sum(CAST(x AS HUGEINT)*x) AS sxx
        |      FROM t GROUP BY source)
        |SELECT source, n,
        |  CASE WHEN CAST(n AS HUGEINT)*sxx - sx*sx = 0 THEN NULL
        |       ELSE round(CAST(CAST(n AS HUGEINT)*sxy - sx*sy AS DOUBLE)
        |            / CAST(CAST(n AS HUGEINT)*sxx - sx*sx AS DOUBLE)
        |            * 1000000.0)/1000000.0 + 0.0 END AS slope
        |FROM a ORDER BY source""".stripMargin,

    // NOT EXISTS over the same host+prefix rule table the Spark side
    // joins — the survivors must agree row-for-row.
    "q158_robots_filter" ->
      """WITH d AS (SELECT doc_id,
        |  'https://site' || (doc_id%50) || '.example.com/s' || (doc_id%7)
        |    || '/p' || (doc_id%11) AS url
        |  FROM documents),
        |r AS (SELECT * FROM (VALUES
        |  ('site3.example.com', '/s2'), ('site3.example.com', '/s4/p1'),
        |  ('site7.example.com', '/'), ('site11.example.com', '/s5'))
        |  AS v(host, prefix))
        |SELECT doc_id, url FROM d
        |WHERE NOT EXISTS (SELECT 1 FROM r
        |  WHERE r.host = 'site' || (d.doc_id%50) || '.example.com'
        |    AND starts_with('/s' || (d.doc_id%7) || '/p' || (d.doc_id%11),
        |                    r.prefix))
        |ORDER BY doc_id""".stripMargin,

    // Same lead() walk with the same (ts, event_id) tie order; counts
    // re-cast BIGINT (DuckDB sums to HUGEINT); p is a nonnegative ratio,
    // no signed-zero exposure.
    "q159_event_transitions" ->
      """WITH e AS (SELECT user_id, event_type,
        |             lead(event_type) OVER (PARTITION BY user_id
        |                                    ORDER BY ts, event_id) AS nxt
        |           FROM events),
        |pr AS (SELECT event_type AS from_type, nxt AS to_type,
        |              count(*) AS n
        |       FROM e WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |f AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
        |      FROM pr GROUP BY from_type)
        |SELECT pr.from_type, pr.to_type, pr.n, f.n_from,
        |  round(CAST(pr.n AS DOUBLE)/CAST(f.n_from AS DOUBLE)
        |        *1000000.0)/1000000.0 AS p
        |FROM pr JOIN f USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    // Same token counting (len of space-split), HUGEINT products for the
    // exact weight rational, LEFT join so untargeted sources carry NULL.
    // All outputs nonnegative — no signed-zero suffix needed.
    "q160_mixture_weights" ->
      """WITH a AS (SELECT source AS stratum, count(*) AS n_docs,
        |                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM a),
        |tg AS (SELECT * FROM (VALUES ('src0', 300000), ('src1', 200000),
        |         ('src2', 150000), ('src5', 100000), ('src7', 50000))
        |       AS v(stratum, ppm))
        |SELECT a.stratum, a.n_docs, a.n_tokens,
        |       CAST(tg.ppm AS BIGINT) AS target_ppm,
        |       round(CAST(a.n_tokens AS DOUBLE)/CAST(t.total AS DOUBLE)
        |             *1000000.0)/1000000.0 AS actual_share,
        |       round(CAST(CAST(tg.ppm AS HUGEINT)*t.total AS DOUBLE)
        |             / CAST(CAST(a.n_tokens AS HUGEINT)*1000000 AS DOUBLE)
        |             *1000000.0)/1000000.0 AS weight
        |FROM a CROSS JOIN t LEFT JOIN tg USING (stratum)
        |ORDER BY stratum""".stripMargin,

    // Codepoint histogram per doc (string_split '' = codepoints, the
    // scriptMix parity rule); collision = Σcnt²/n² from exact integers.
    "q161_char_collision" ->
      """WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |           FROM documents WHERE length(text) > 0),
        |g AS (SELECT doc_id, ch, count(*) AS cnt FROM c GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars,
        |             count(*) AS n_distinct_chars,
        |             CAST(sum(CAST(cnt AS HUGEINT)*cnt) AS BIGINT) AS ss
        |      FROM g GROUP BY doc_id)
        |SELECT doc_id, n_chars, n_distinct_chars,
        |  round(CAST(ss AS DOUBLE)
        |        / CAST(CAST(n_chars AS HUGEINT)*n_chars AS DOUBLE)
        |        *1000000.0)/1000000.0 AS collision
        |FROM a ORDER BY doc_id""".stripMargin,

    // The q47 cosine chain with label partitioning + the top-2 margin
    // pivot. Cosines carry the signed-zero suffix; the margin is a
    // difference of identical-on-both-engines nonnegative-ordered
    // doubles (best ≥ second by ranking), so it needs none.
    "q162_margin_mining" ->
      """WITH norms AS (
        |  SELECT vec_id, embedding, label,
        |         sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS u(x))) AS nrm
        |  FROM embeddings),
        |pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.embedding qv, c.embedding cv,
        |                 q.nrm nq, c.nrm nc
        |          FROM norms q JOIN norms c
        |            ON q.label = 0 AND q.vec_id < 1000
        |               AND c.label <> 0 AND q.vec_id <> c.vec_id),
        |dots AS (SELECT query_id, cand_id, sum(CAST(x1 AS DOUBLE)*CAST(x2 AS DOUBLE)) AS dot,
        |                any_value(nq) AS nq, any_value(nc) AS nc
        |         FROM (SELECT query_id, cand_id, unnest(qv) AS x1, unnest(cv) AS x2, nq, nc FROM pairs)
        |         GROUP BY query_id, cand_id),
        |scored AS (SELECT query_id, cand_id, round(dot/(nq*nc), 6) + 0.0 AS cosine FROM dots),
        |top2 AS (SELECT query_id, cand_id, cosine,
        |                row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY cosine DESC, cand_id) AS rk
        |         FROM scored),
        |piv AS (SELECT query_id,
        |               max(CASE WHEN rk = 1 THEN cand_id END) AS best_id,
        |               max(CASE WHEN rk = 1 THEN cosine END) AS best_cos,
        |               max(CASE WHEN rk = 2 THEN cosine END) AS second_cos
        |        FROM top2 WHERE rk <= 2 GROUP BY query_id)
        |SELECT query_id, best_id, best_cos, second_cos,
        |       round((best_cos - second_cos)*1000000.0)/1000000.0 AS margin,
        |       CASE WHEN second_cos IS NOT NULL
        |                  AND round((best_cos - second_cos)*1000000.0)/1000000.0
        |                      >= 10000/1000000.0
        |            THEN 1 ELSE 0 END AS accepted
        |FROM piv ORDER BY query_id""".stripMargin,

    // Cumulative conjunction sums, one pass; the ascii gate is the
    // integer cross-multiply (no float threshold). RE2/Java agree on the
    // printable-ASCII class; 'g' flag for replace-all.
    "q163_gate_funnel" ->
      """SELECT source AS g, count(*) AS n_total,
        |  CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_len,
        |  CAST(sum(CASE WHEN n_chars >= 200
        |                 AND lang IN ('en','de','fr','es') THEN 1 ELSE 0 END) AS BIGINT) AS n_after_lang,
        |  CAST(sum(CASE WHEN n_chars >= 200
        |                 AND lang IN ('en','de','fr','es')
        |                 AND len(string_split(text, ' ')) >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_tokens,
        |  CAST(sum(CASE WHEN n_chars >= 200
        |                 AND lang IN ('en','de','fr','es')
        |                 AND len(string_split(text, ' ')) >= 30
        |                 AND length(regexp_replace(text, '[^\x20-\x7E]', '', 'g')) * 10
        |                     >= length(text) * 9 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_ascii
        |FROM documents GROUP BY source ORDER BY g""".stripMargin,

    // The same strictly-after first-touch chain: each step is a LEFT
    // join on (user, type, ts > prev) + a per-user min. Rates are exact
    // long rationals, nonnegative.
    "q164_event_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT s1.user_id, any_value(s1.t1) AS t1, min(e.ts) AS t2
        |       FROM s1 LEFT JOIN events e
        |         ON e.user_id = s1.user_id AND e.event_type = 'click'
        |            AND e.ts > s1.t1
        |       GROUP BY s1.user_id),
        |s3 AS (SELECT s2.user_id, min(e.ts) AS t3
        |       FROM s2 LEFT JOIN events e
        |         ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |            AND e.ts > s2.t2
        |       GROUP BY s2.user_id),
        |agg AS (SELECT count(s1.t1) AS n1, count(s2.t2) AS n2, count(s3.t3) AS n3
        |        FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id))
        |SELECT 1 AS step_idx, 'view' AS step, n1 AS n_users,
        |       CAST(NULL AS DOUBLE) AS conv_rate FROM agg
        |UNION ALL
        |SELECT 2, 'click', n2,
        |       CASE WHEN n1 = 0 THEN NULL
        |            ELSE round(CAST(n2 AS DOUBLE)/CAST(n1 AS DOUBLE)*1000000.0)/1000000.0 END
        |FROM agg
        |UNION ALL
        |SELECT 3, 'purchase', n3,
        |       CASE WHEN n2 = 0 THEN NULL
        |            ELSE round(CAST(n3 AS DOUBLE)/CAST(n2 AS DOUBLE)*1000000.0)/1000000.0 END
        |FROM agg
        |ORDER BY step_idx""".stripMargin,

    // Same learned chain as q140/q141, consumed per-language: the
    // fertility rational from the same two sums.
    "q165_bpe_fertility" -> bpeOracle(8,
      """SELECT lang,
        |       CAST(sum(vn.nsym) AS BIGINT) AS n_bpe_tokens,
        |       count(*) AS n_words,
        |       round(CAST(sum(vn.nsym) AS DOUBLE)/CAST(count(*) AS DOUBLE)
        |             *1000000.0)/1000000.0 AS fertility
        |FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents) dtk
        |JOIN (SELECT w, count(*) AS nsym FROM s8 GROUP BY w) vn USING (w)
        |WHERE length(dtk.w) > 0
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // Every signal rebuilt independently: codepoint moments via
    // string_split(''), md5 dup groups, micro-unit collision mean
    // (Σmicro/(n·10⁶) — exact integer sums, one divide). All outputs
    // nonnegative — no signed-zero suffix.
    "q166_data_card" ->
      """WITH h AS (SELECT md5(text) AS h, count(*) AS hc
        |           FROM documents GROUP BY 1),
        |cc AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
        |              CAST(sum(CAST(cnt AS HUGEINT)*cnt) AS BIGINT) AS ss
        |       FROM (SELECT doc_id, ch, count(*) AS cnt FROM
        |             (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |              FROM documents) GROUP BY 1, 2)
        |       GROUP BY doc_id),
        |d AS (SELECT d0.source AS g, d0.lang AS l, d0.n_chars AS nc,
        |             len(string_split(d0.text, ' ')) AS tok,
        |             md5(d0.text) AS hm,
        |             CASE WHEN cc.n > 0 THEN CAST(round(CAST(cc.ss AS DOUBLE)
        |               / CAST(CAST(cc.n AS HUGEINT)*cc.n AS DOUBLE)
        |               * 1000000.0) AS BIGINT) END AS cmicro
        |      FROM documents d0 LEFT JOIN cc USING (doc_id))
        |SELECT g AS source, count(*) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(nc) AS DOUBLE)/CAST(count(*) AS DOUBLE)
        |        *1000000.0)/1000000.0 AS mean_chars,
        |  round(CAST(sum(CASE WHEN l = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
        |        / CAST(count(*) AS DOUBLE)*1000000.0)/1000000.0 AS pct_en,
        |  round(CAST(sum(CASE WHEN hh.hc > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / CAST(count(*) AS DOUBLE)*1000000.0)/1000000.0 AS dup_frac,
        |  round(CAST(sum(cmicro) AS DOUBLE)
        |        / CAST(count(*)*1000000 AS DOUBLE)*1000000.0)/1000000.0 AS mean_collision
        |FROM d JOIN h hh ON hh.h = d.hm
        |GROUP BY g ORDER BY source""".stripMargin,

    // The q113 integer score chain + a (score, doc_id)-ordered global
    // row_number; bucket = exact integer division. mean_score is
    // negative-capable (hashed margins span [-8,8] per token) → the
    // signed-zero suffix; pos_rate is a nonnegative rational.
    "q167_reliability" ->
      (s"""WITH t AS (
        |  SELECT doc_id, text, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |w AS (SELECT doc_id, (${TextAnalysis.md5Hash48Sql("tok")}) % 17 - 8 AS wgt
        |      FROM t),
        |d AS (SELECT doc_id, CAST(sum(wgt) AS BIGINT) AS s FROM w GROUP BY doc_id),
        |lbl AS (SELECT doc_id,
        |               CASE WHEN len(string_split(text, ' ')) >= 15 THEN 1 ELSE 0 END AS y
        |        FROM documents),
        |r AS (SELECT d.doc_id, d.s, lbl.y,
        |             row_number() OVER (ORDER BY d.s, d.doc_id) AS rn,
        |             count(*) OVER () AS n
        |      FROM d JOIN lbl USING (doc_id)),
        |b AS (SELECT ((rn - 1) * 10) // n AS bucket, s, y FROM r)
        |SELECT bucket, count(*) AS n_docs,
        |  CAST(sum(s) AS BIGINT) AS sum_score,
        |  CAST(sum(y) AS BIGINT) AS n_pos,
        |  round(CAST(sum(s) AS DOUBLE)/CAST(count(*) AS DOUBLE)
        |        *1000000.0)/1000000.0 + 0.0 AS mean_score,
        |  round(CAST(sum(y) AS DOUBLE)/CAST(count(*) AS DOUBLE)
        |        *1000000.0)/1000000.0 AS pos_rate
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),

    // The q147 PQ chain + the q48b coarse-probe chain, ADC restricted to
    // probed cells — the composition IS the oracle.
    "q170_ann_ivfpq" -> ivfPqOracle(m = 8, w = 8, signBits = 8, topK = 5,
      coarseBits = 4, nprobe = 4),

    // q170's forced-shuffle twin shares the oracle VERBATIM — the byte
    // gate picks a physical strategy, never an answer.
    "q170b_ann_ivfpq_shuffle" -> ivfPqOracle(m = 8, w = 8, signBits = 8,
      topK = 5, coarseBits = 4, nprobe = 4),

    // md5 hex parity (the q42 doctrine) + translate popcount nibbles:
    // the whole binomial draw is string/integer ops, no float, no ln.
    "q172_noised_release" -> {
      val popSum = (1 to 16)
        .map(i => s"CAST(substr(pops, $i, 1) AS INT)").mkString(" + ")
      s"""WITH g AS (SELECT source || ':' || lang AS group_key, count(*) AS n
         |           FROM documents GROUP BY 1),
         |h AS (SELECT group_key, n,
         |        translate(substr(md5(group_key || ':r12'), 1, 16),
         |                  '0123456789abcdef', '0112122312232334') AS pops
         |      FROM g),
         |z AS (SELECT group_key, n, ($popSum) - 32 AS noise FROM h)
         |SELECT group_key,
         |  CASE WHEN n < 5 THEN NULL
         |       ELSE greatest(n + noise, 0) END AS released,
         |  CAST(n < 5 AS INT) AS suppressed
         |FROM z ORDER BY group_key""".stripMargin
    },

    // The q48 bucket+cosine chain with a train/eval split, threshold on
    // the ROUNDED cosine (both engines filter the same value), best
    // eval match per train vector (cosine DESC, eval_id tiebreak).
    // q173b is the forced-shuffle twin — strategy, never answers.
    "q173_semantic_decontam" -> semanticDecontamOracle,
    "q173b_semantic_decontam_shuffle" -> semanticDecontamOracle,

    // The q154 covariance chain, then 12 UNROLLED power-iteration steps:
    // exact BIGINT matrix-vector products, max-abs normalization (exact
    // integer max), one double multiply+divide+round per element on
    // exactly-representable inputs — the driver-side Scala loop lands on
    // identical doubles. MATERIALIZED pins each step to evaluate once
    // (the inlined chain would replay the scan 2^12 times).
    "q176_top_pc" ->
      s"""WITH $pcIterChain
         |SELECT dim, x/1000000.0 AS weight FROM x12 ORDER BY dim""".stripMargin,

    // The q176 chain plus one projection join: per-row exact BIGINT dot
    // of the micro units against the converged micro component, one
    // double divide + r6 at the end — mirrors pcProjection's row-local
    // zip_with/aggregate exactly.
    "q177_pc_projection" ->
      s"""WITH $pcIterChain,
         |proj AS (SELECT u.vec_id, sum(u.v * x12.x) AS s
         |         FROM u JOIN x12 ON x12.dim = u.i GROUP BY u.vec_id)
         |SELECT vec_id,
         |  round(CAST(s AS DOUBLE)/1000000000000.0*1000000.0)/1000000.0 + 0.0 AS pc_score
         |FROM proj ORDER BY vec_id""".stripMargin,

    // Greedy MMR replayed as a recursive CTE: the selected-id LIST rides
    // the recursion; each step's argmax is a struct-valued scalar
    // subquery over r6-rounded rel/sims — with λ=0.5 the score is exact
    // halving + IEEE subtraction, so both engines order identical
    // doubles (ties → smaller vec_id, both engines).
    "q175_mmr_select" ->
      """WITH RECURSIVE
        |qn AS (SELECT embedding AS q,
        |              sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS u(x))) AS nq
        |       FROM embeddings WHERE vec_id = 0),
        |norms AS (SELECT vec_id, embedding,
        |              sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS u(x))) AS nrm
        |          FROM embeddings WHERE vec_id BETWEEN 1 AND 199),
        |reld AS (SELECT vec_id, sum(CAST(x1 AS DOUBLE)*CAST(x2 AS DOUBLE)) AS dot,
        |                any_value(nrm) AS nrm, any_value(nq) AS nq
        |         FROM (SELECT n.vec_id, unnest(n.embedding) AS x1, unnest(qn.q) AS x2, n.nrm, qn.nq
        |               FROM norms n, qn)
        |         GROUP BY vec_id),
        |cand AS (SELECT vec_id, round(dot/(nrm*nq), 6) + 0.0 AS rel FROM reld),
        |pd AS (SELECT ia, ib, sum(CAST(x1 AS DOUBLE)*CAST(x2 AS DOUBLE)) AS dot,
        |              any_value(na) AS na, any_value(nb) AS nb
        |       FROM (SELECT a.vec_id AS ia, b.vec_id AS ib, unnest(a.embedding) AS x1,
        |                    unnest(b.embedding) AS x2, a.nrm AS na, b.nrm AS nb
        |             FROM norms a JOIN norms b ON a.vec_id < b.vec_id)
        |       GROUP BY ia, ib),
        |sims AS (SELECT ia, ib, round(dot/(na*nb), 6) + 0.0 AS sim FROM pd
        |         UNION ALL
        |         SELECT ib, ia, round(dot/(na*nb), 6) + 0.0 FROM pd),
        |sel(rank, vec_id, score, ids) AS (
        |  SELECT 1, vec_id, rel, [vec_id] FROM (SELECT vec_id, rel FROM cand ORDER BY rel DESC, vec_id LIMIT 1)
        |  UNION ALL
        |  SELECT rank + 1, nxt.id, nxt.sc, list_append(ids, nxt.id)
        |  FROM (
        |    SELECT rank, ids,
        |      (SELECT struct_pack(id := c.vec_id,
        |              sc := 0.5*c.rel - 0.5*(SELECT max(s.sim) FROM sims s
        |                    WHERE s.ia = c.vec_id AND list_contains(ids, s.ib)))
        |       FROM cand c WHERE NOT list_contains(ids, c.vec_id)
        |       ORDER BY 0.5*c.rel - 0.5*(SELECT max(s.sim) FROM sims s
        |                WHERE s.ia = c.vec_id AND list_contains(ids, s.ib)) DESC, c.vec_id
        |       LIMIT 1) AS nxt
        |    FROM sel WHERE rank < 10)
        |  WHERE nxt IS NOT NULL)
        |SELECT rank, vec_id, round(score, 6) + 0.0 AS score FROM sel ORDER BY rank""".stripMargin,

    // The q44 pair CTE as an undirected graph: wedges Σ C(d,2),
    // triangles via ordered 3-join, transitivity 3T/W (NULL if W=0).
    "q193_dedup_transitivity" ->
      s"""WITH $minhashPairsCtes,
         |und AS (SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
         |        FROM pr WHERE id_a <> id_b),
         |ec AS (SELECT count(*) AS n_edges FROM und),
         |wc AS (SELECT coalesce(CAST(sum((d * (d - 1)) // 2) AS BIGINT), 0) AS n_wedges
         |       FROM (SELECT x, count(*) AS d FROM (
         |               SELECT u AS x FROM und UNION ALL SELECT v FROM und)
         |             GROUP BY x)),
         |tc AS (SELECT count(*) AS n_triangles
         |       FROM und e1 JOIN und e2 ON e2.u = e1.u AND e2.v > e1.v
         |            JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v)
         |SELECT ec.n_edges, wc.n_wedges, CAST(tc.n_triangles AS BIGINT) AS n_triangles,
         |  CASE WHEN wc.n_wedges > 0
         |       THEN round(CAST(tc.n_triangles * 3 AS DOUBLE) / CAST(wc.n_wedges AS DOUBLE)
         |                  * 1000000.0)/1000000.0 + 0.0 END AS transitivity
         |FROM ec, wc, tc""".stripMargin,

    // The q189 counts re-aggregated per source (decimal-exact mean), the
    // q184 chain's ratio, and exclusive-vocabulary hapax shares.
    "q192_data_card_v2" ->
      """WITH m AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_words,
        |    greatest(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
        |                             s -> trim(s) <> '')), 1) AS n_sentences,
        |    len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS n_syllables
        |  FROM documents),
        |fl AS (SELECT source, count(*) AS n_docs,
        |         round(CAST(sum(CAST(round((206.835
        |              - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |              - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
        |             * 1000000.0)/1000000.0 + 0.0 AS DECIMAL(18,6))) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE) * 1000000.0)/1000000.0 + 0.0 AS mean_flesch
        |       FROM m WHERE n_words > 0 GROUP BY source),
        |d AS (SELECT doc_id, source, text, length(text) AS n FROM documents),
        |pos AS (SELECT doc_id, source, text, n,
        |               unnest(generate_series(16, n)) AS p
        |        FROM d WHERE n >= 16),
        |b AS (SELECT doc_id, source, text, n, p FROM pos
        |      WHERE substr(md5(substr(text, p - 15, 16)), 1, 1) = '0'),
        |ends AS (SELECT doc_id, source, text, p AS e FROM b
        |         UNION
        |         SELECT doc_id, source, text, n FROM d WHERE n >= 1),
        |spans AS (SELECT doc_id, source, text, e,
        |                 coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1 AS s
        |          FROM ends),
        |ch AS (SELECT source, md5(substr(text, s, e - s + 1)) AS h FROM spans),
        |cdc AS (SELECT source,
        |          round((1.0 - CAST(count(DISTINCT h) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |                * 1000000.0)/1000000.0 + 0.0 AS dup_ratio
        |        FROM ch GROUP BY source),
        |toks AS (SELECT source, t.term
        |         FROM documents, unnest(string_split(text, ' ')) AS t(term)
        |         WHERE t.term <> ''),
        |tt AS (SELECT term, count(DISTINCT source) AS nsrc, count(*) AS freq,
        |              min(source) AS only_src
        |       FROM toks GROUP BY term),
        |hap AS (SELECT only_src AS source,
        |          round(CAST(count(CASE WHEN freq = 1 THEN 1 END) AS DOUBLE)
        |                / CAST(count(*) AS DOUBLE) * 1000000.0)/1000000.0 + 0.0 AS hapax_share
        |        FROM tt WHERE nsrc = 1 GROUP BY only_src)
        |SELECT fl.source, fl.n_docs, fl.mean_flesch, cdc.dup_ratio, hap.hapax_share
        |FROM fl JOIN cdc USING (source) LEFT JOIN hap USING (source)
        |ORDER BY fl.source""".stripMargin,

    // The q182 allocation CTE + the q73 md5 rank, rolled up per stratum.
    "q191_apportioned_sample" ->
      """WITH c AS (SELECT source || ':' || lang AS stratum, count(*) AS n_rows
        |           FROM documents GROUP BY 1),
        |t AS (SELECT stratum, n_rows,
        |             (137 * n_rows) // sum(n_rows) OVER () AS base,
        |             (137 * n_rows) % sum(n_rows) OVER () AS rem
        |      FROM c),
        |r AS (SELECT stratum, base, rem,
        |             137 - sum(base) OVER () AS leftover,
        |             row_number() OVER (ORDER BY rem DESC, stratum) AS rk
        |      FROM t),
        |alloc AS (SELECT stratum,
        |                 base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS slots
        |          FROM r),
        |ranked AS (SELECT doc_id, source, lang,
        |                  source || ':' || lang AS stratum,
        |                  row_number() OVER (PARTITION BY source || ':' || lang
        |                    ORDER BY md5(coalesce(text || CAST(doc_id AS VARCHAR), ''))) AS rk
        |           FROM documents),
        |kept AS (SELECT ranked.* FROM ranked JOIN alloc USING (stratum)
        |         WHERE rk <= slots)
        |SELECT source, lang, count(*) AS n_picked,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM kept GROUP BY source, lang ORDER BY source, lang""".stripMargin,

    // Micro-unit long sums per (group, dim) — order-free and exact —
    // then one double divide, r6. Positions 0-based to match posexplode.
    "q190_mean_pool" ->
      """WITH u AS (
        |  SELECT vec_id // 5 AS group_key, CAST(i - 1 AS INTEGER) AS dim,
        |         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS v
        |  FROM (SELECT vec_id, embedding,
        |               unnest(generate_series(1, len(embedding))) AS i
        |        FROM embeddings))
        |SELECT group_key, dim,
        |       round((CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 1000000.0
        |             * 1000000.0)/1000000.0 + 0.0 AS value
        |FROM u GROUP BY group_key, dim ORDER BY group_key, dim""".stripMargin,

    // Same counts (non-empty tokens, non-blank [.!?]+ segments min 1,
    // vowel groups), same literal constants, r6.
    "q189_readability" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_words,
        |    greatest(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
        |                             s -> trim(s) <> '')), 1) AS n_sentences,
        |    len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, CAST(n_words AS INT) AS n_words,
        |       CAST(n_sentences AS INT) AS n_sentences,
        |       CAST(n_syllables AS INT) AS n_syllables,
        |       round((206.835
        |              - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |              - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
        |             * 1000000.0)/1000000.0 + 0.0 AS flesch
        |FROM m WHERE n_words > 0 ORDER BY doc_id""".stripMargin,

    // Digit from the cent-integer's decimal string; the nine Benford
    // expectations as shared r6 literals; shares r6.
    "q188_benford" ->
      """WITH v AS (SELECT abs(CAST(round(l_extendedprice * 100) AS BIGINT)) AS v
        |           FROM lineitem),
        |d AS (SELECT CAST(regexp_extract(CAST(v AS VARCHAR), '[1-9]') AS INT) AS digit
        |      FROM v WHERE v > 0),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |t AS (SELECT c.digit, c.n, sum(c.n) OVER () AS total FROM c),
        |e(digit, expected) AS (VALUES (1, 0.301030), (2, 0.176091),
        |  (3, 0.124939), (4, 0.096910), (5, 0.079181), (6, 0.066947),
        |  (7, 0.057992), (8, 0.051153), (9, 0.045757))
        |SELECT t.digit, t.n,
        |  round(CAST(t.n AS DOUBLE) / CAST(t.total AS DOUBLE) * 1000000.0)/1000000.0 + 0.0 AS observed,
        |  e.expected,
        |  round(abs(round(CAST(t.n AS DOUBLE) / CAST(t.total AS DOUBLE) * 1000000.0)/1000000.0
        |            - e.expected) * 1000000.0)/1000000.0 + 0.0 AS deviation
        |FROM t JOIN e USING (digit) ORDER BY digit""".stripMargin,

    // (tf_g, tf, tokens_g, total) exact counts; lift = IEEE products of
    // exact longs, r6; rank (lift DESC, term) per group, tfg >= 5.
    "q187_distinctive_terms" ->
      """WITH toks AS (SELECT source AS g, t.term
        |              FROM documents, unnest(string_split(text, ' ')) AS t(term)
        |              WHERE t.term <> ''),
        |gt AS (SELECT g, term, count(*) AS tfg FROM toks GROUP BY g, term),
        |t AS (SELECT term, count(*) AS tf FROM toks GROUP BY term),
        |gsz AS (SELECT g, count(*) AS tokg FROM toks GROUP BY g),
        |total AS (SELECT CAST(count(*) AS DOUBLE) AS tot FROM toks),
        |scored AS (
        |  SELECT gt.g, gt.term, gt.tfg,
        |         round((CAST(gt.tfg AS DOUBLE) * tot) /
        |               (CAST(gsz.tokg AS DOUBLE) * CAST(t.tf AS DOUBLE))
        |               * 1000000.0)/1000000.0 + 0.0 AS lift
        |  FROM gt JOIN t USING (term) JOIN gsz USING (g) CROSS JOIN total
        |  WHERE gt.tfg >= 5)
        |SELECT g AS group_key, CAST(rank AS INT) AS rank, term, tfg, lift FROM (
        |  SELECT g, term, tfg, lift,
        |         row_number() OVER (PARTITION BY g ORDER BY lift DESC, term) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY group_key, rank""".stripMargin,

    // Same planting (md5 canary keyed on the %74 pair), regex extraction,
    // per-canary rollup.
    "q186_canary_audit" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 37 = 0
        |              THEN text || ' CANARY-' ||
        |                   substr(md5('canary:' || CAST(doc_id - doc_id % 74 AS VARCHAR)), 1, 8)
        |              ELSE text END AS text
        |  FROM documents),
        |m AS (SELECT doc_id,
        |             unnest(regexp_extract_all(text, 'CANARY-[0-9a-f]{8}')) AS matched
        |      FROM planted)
        |SELECT matched, count(DISTINCT doc_id) AS n_docs,
        |       count(*) AS n_occurrences, min(doc_id) AS first_id
        |FROM m GROUP BY matched ORDER BY matched""".stripMargin,

    // The q92 scoring chain + HAVING all-terms + top-10 with the
    // (bm25 DESC, doc_id) deterministic rank.
    "q185_conjunctive_search" ->
      """WITH stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avgdl
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl FROM (
        |    SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |           unnest(string_split(text, ' ')) AS t
        |    FROM documents)
        |  WHERE t IN ('dup', 'join', 'vector') GROUP BY doc_id, t),
        |dft AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY t),
        |scored AS (
        |  SELECT doc_id, count(*) AS nt,
        |         CAST(sum(CAST(round(
        |           ((n_docs - df + 0.5) / (df + 0.5)) *
        |           ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))),
        |           6) AS DECIMAL(28,6))) AS DOUBLE) AS bm25
        |  FROM tf JOIN dft USING (t) CROSS JOIN stats
        |  GROUP BY doc_id HAVING count(*) = 3)
        |SELECT doc_id, bm25, CAST(rank AS INT) AS rank FROM (
        |  SELECT doc_id, bm25,
        |         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        |  FROM scored)
        |WHERE rank <= 10 ORDER BY rank""".stripMargin,

    // Positions → md5-masked boundaries → spans via lag → chunk md5 →
    // per-source dedup rollup. Same boundary rule, same chunk ids.
    "q184_cdc_chunks" ->
      """WITH d AS (SELECT doc_id, source, text, length(text) AS n FROM documents),
        |pos AS (SELECT doc_id, source, text, n,
        |               unnest(generate_series(16, n)) AS p
        |        FROM d WHERE n >= 16),
        |b AS (SELECT doc_id, source, text, n, p FROM pos
        |      WHERE substr(md5(substr(text, p - 15, 16)), 1, 1) = '0'),
        |ends AS (SELECT doc_id, source, text, p AS e FROM b
        |         UNION
        |         SELECT doc_id, source, text, n FROM d WHERE n >= 1),
        |spans AS (SELECT doc_id, source, text, e,
        |                 coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1 AS s
        |          FROM ends),
        |ch AS (SELECT source, md5(substr(text, s, e - s + 1)) AS h,
        |              e - s + 1 AS len
        |       FROM spans)
        |SELECT source AS group_key,
        |  count(*) AS total_chunks,
        |  count(DISTINCT h) AS distinct_chunks,
        |  round((1.0 - CAST(count(DISTINCT h) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |        * 1000000.0)/1000000.0 + 0.0 AS dup_ratio,
        |  round(CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |        * 1000000.0)/1000000.0 + 0.0 AS mean_chunk_len
        |FROM ch GROUP BY source ORDER BY group_key""".stripMargin,

    // The q47 (exact) and q48 (bucketed) chains replayed, joined on the
    // query, micro-rational reciprocal ranks (1000000 // rank).
    "q183_ann_recall_report" ->
      """WITH norms AS (
        |  SELECT vec_id, embedding,
        |         sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS u(x))) AS nrm,
        |         (SELECT CAST(sum(CASE WHEN embedding[j+1] > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
        |          FROM unnest(generate_series(0, 5)) AS t(j)) AS bucket
        |  FROM embeddings),
        |apd AS (SELECT query_id, cand_id, sum(CAST(x1 AS DOUBLE)*CAST(x2 AS DOUBLE)) AS dot,
        |               any_value(nq) AS nq, any_value(nc) AS nc
        |        FROM (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |                     unnest(q.embedding) AS x1, unnest(c.embedding) AS x2,
        |                     q.nrm AS nq, c.nrm AS nc
        |              FROM norms q JOIN norms c
        |              ON q.bucket = c.bucket AND q.vec_id < 20 AND q.vec_id <> c.vec_id)
        |        GROUP BY query_id, cand_id),
        |ap AS (SELECT query_id, cand_id, rank FROM (
        |         SELECT query_id, cand_id,
        |                row_number() OVER (PARTITION BY query_id
        |                  ORDER BY round(dot/(nq*nc), 6) + 0.0 DESC, cand_id) AS rank
        |         FROM apd) WHERE rank <= 3),
        |exd AS (SELECT query_id, cand_id, sum(CAST(x1 AS DOUBLE)*CAST(x2 AS DOUBLE)) AS dot,
        |               any_value(nq) AS nq, any_value(nc) AS nc
        |        FROM (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |                     unnest(q.embedding) AS x1, unnest(c.embedding) AS x2,
        |                     q.nrm AS nq, c.nrm AS nc
        |              FROM norms q JOIN norms c
        |              ON q.vec_id < 20 AND q.vec_id <> c.vec_id)
        |        GROUP BY query_id, cand_id),
        |ex AS (SELECT query_id, cand_id AS true_id FROM (
        |         SELECT query_id, cand_id,
        |                row_number() OVER (PARTITION BY query_id
        |                  ORDER BY round(dot/(nq*nc), 6) + 0.0 DESC, cand_id) AS rank
        |         FROM exd) WHERE rank = 1),
        |per AS (SELECT e.query_id,
        |               max(CASE WHEN a.cand_id = e.true_id THEN 1 END) AS hit,
        |               max(CASE WHEN a.cand_id = e.true_id THEN 1000000 // a.rank END) AS rr
        |        FROM ex e LEFT JOIN ap a ON a.query_id = e.query_id
        |        GROUP BY e.query_id)
        |SELECT count(*) AS n_queries,
        |  round(CAST(coalesce(sum(hit), 0) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |        * 1000000.0)/1000000.0 + 0.0 AS recall_at_k,
        |  round(CAST(coalesce(sum(rr), 0) AS DOUBLE) / CAST(count(*) * 1000000 AS DOUBLE)
        |        * 1000000.0)/1000000.0 + 0.0 AS mrr
        |FROM per""".stripMargin,

    // Floors via integer //, remainders via %, leftover to the largest
    // remainders (stratum tiebreak) — all integer, Σ slots = k.
    "q182_apportion_slots" ->
      """WITH c AS (SELECT source || ':' || lang AS stratum, count(*) AS n_rows
        |           FROM documents GROUP BY 1),
        |t AS (SELECT stratum, n_rows,
        |             sum(n_rows) OVER () AS total,
        |             (137 * n_rows) // sum(n_rows) OVER () AS base,
        |             (137 * n_rows) % sum(n_rows) OVER () AS rem
        |      FROM c),
        |r AS (SELECT stratum, n_rows, base, rem,
        |             137 - sum(base) OVER () AS leftover,
        |             row_number() OVER (ORDER BY rem DESC, stratum) AS rk
        |      FROM t)
        |SELECT stratum, n_rows,
        |       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS slots
        |FROM r ORDER BY stratum""".stripMargin,

    // Exploded tokens → per-term (first bucket, corpus freq) → per-bucket
    // rollup with prefix windows; integer bucketing (// both engines).
    "q181_vocab_growth" ->
      """WITH toks AS (
        |  SELECT CAST(least(doc_id // 50, 9) AS INT) AS b, t.term
        |  FROM documents, unnest(string_split(text, ' ')) AS t(term)
        |  WHERE t.term <> ''),
        |pt AS (SELECT term, min(b) AS fb, count(*) AS freq FROM toks GROUP BY term),
        |nt AS (SELECT fb AS b, count(*) AS new_types,
        |              count(CASE WHEN freq = 1 THEN 1 END) AS new_hapax
        |       FROM pt GROUP BY fb),
        |tc AS (SELECT b, count(*) AS n_tokens FROM toks GROUP BY b)
        |SELECT tc.b AS bucket, tc.n_tokens,
        |       coalesce(nt.new_types, 0) AS new_types,
        |       coalesce(nt.new_hapax, 0) AS new_hapax,
        |       CAST(sum(tc.n_tokens) OVER (ORDER BY tc.b) AS BIGINT) AS cum_tokens,
        |       CAST(sum(coalesce(nt.new_types, 0)) OVER (ORDER BY tc.b) AS BIGINT) AS cum_types
        |FROM tc LEFT JOIN nt ON nt.b = tc.b ORDER BY bucket""".stripMargin,

    // The q66 reachability CTE → cluster sizes → left join back; weight
    // is the integer-derived fixed point round(1e6/n)/1e6.
    "q180_cluster_weights" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT id_a AS u, id_b AS v FROM pr
         |          UNION SELECT id_b, id_a FROM pr),
         |reach(v, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.v),
         |reps AS (SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS rep_id
         |         FROM reach GROUP BY v),
         |csz AS (SELECT rep_id, count(*) AS n FROM reps GROUP BY rep_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(s.n, 1) AS BIGINT) AS cluster_size,
         |       round(1000000 / coalesce(s.n, 1)) / 1000000.0 AS weight
         |FROM documents d
         |LEFT JOIN reps ON reps.doc_id = d.doc_id
         |LEFT JOIN csz s ON s.rep_id = reps.rep_id
         |ORDER BY d.doc_id""".stripMargin,

    // The same three LFs, votes unnested → per-label counts → rank with
    // the (count DESC, label) tiebreak, margin vs the runner-up.
    "q179_label_model" ->
      """WITH lf AS (SELECT doc_id,
        |  [CASE WHEN text LIKE '% the %' THEN 'en' END,
        |   CASE WHEN doc_id % 7 < 3 THEN 'en' WHEN doc_id % 7 = 3 THEN 'de' END,
        |   CASE WHEN doc_id % 11 = 0 THEN 'de' END] AS vs
        |  FROM documents),
        |v AS (SELECT doc_id, x AS lbl
        |      FROM (SELECT doc_id, unnest(vs) AS x FROM lf) WHERE x IS NOT NULL),
        |c AS (SELECT doc_id, lbl, count(*) AS c FROM v GROUP BY 1, 2),
        |r AS (SELECT doc_id, lbl, c,
        |             row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, lbl) AS rk
        |      FROM c),
        |agg AS (SELECT doc_id, max(CASE WHEN rk = 1 THEN lbl END) AS label,
        |               max(CASE WHEN rk = 1 THEN c END) AS c1,
        |               max(CASE WHEN rk = 2 THEN c END) AS c2,
        |               CAST(sum(c) AS INT) AS n_votes
        |        FROM r GROUP BY 1)
        |SELECT l.doc_id AS id, CAST(coalesce(a.n_votes, 0) AS INT) AS n_votes,
        |       a.label,
        |       CAST(CASE WHEN a.doc_id IS NULL THEN 0
        |                 WHEN a.c2 IS NULL THEN a.c1
        |                 ELSE a.c1 - a.c2 END AS INT) AS margin
        |FROM lf l LEFT JOIN agg a ON a.doc_id = l.doc_id ORDER BY id""".stripMargin,

    // Water-fill closed form: τ = max_r floor((B − prefix_r)/(n − r))
    // over the ascending-token prefix. Pure integer arithmetic on both
    // engines now: DuckDB's // and Spark's `div` both truncate toward
    // zero, so τ is bit-identical at ANY budget (no 2^53 double cliff);
    // truncation-vs-floor differs only on negative terms, which are ≤ 0
    // under both semantics while the r=0 term pins max ≥ 0.
    "q178_water_fill" ->
      """WITH t AS (SELECT source AS stratum,
        |                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY 1),
        |r AS (SELECT stratum, n_tokens,
        |             row_number() OVER (ORDER BY n_tokens, stratum) - 1 AS rr,
        |             coalesce(sum(n_tokens) OVER (ORDER BY n_tokens, stratum
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix,
        |             count(*) OVER () AS n
        |      FROM t),
        |tau AS (SELECT CAST(max((24000 - prefix) // (n - rr)) AS BIGINT) AS tau FROM r)
        |SELECT stratum, n_tokens,
        |       greatest(least(n_tokens, tau), 0) AS allocated,
        |       CAST(n_tokens > tau AS INT) AS capped
        |FROM r, tau ORDER BY stratum""".stripMargin,

    // The q66 reachability CTE re-used for rep assignment, then the q67
    // md5-bucket contract keyed on CAST(rep AS VARCHAR) — both engines
    // hash the same decimal string.
    "q174_leakage_safe_split" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (SELECT id_a AS u, id_b AS v FROM pr
         |          UNION SELECT id_b, id_a FROM pr),
         |reach(v, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.v),
         |reps AS (SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS rep_id
         |         FROM reach GROUP BY v),
         |d AS (SELECT doc.source,
         |             coalesce(reps.rep_id, doc.doc_id) AS rep,
         |             (reps.doc_id IS NOT NULL) AS linked
         |      FROM documents doc LEFT JOIN reps ON reps.doc_id = doc.doc_id),
         |b AS (SELECT source, linked,
         |             ('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 8))::BIGINT
         |               % 10000 AS bucket
         |      FROM d)
         |SELECT source,
         |  CASE WHEN bucket < 8000 THEN 'train'
         |       WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs,
         |  CAST(sum(bucket) AS BIGINT) AS sum_bucket,
         |  count(CASE WHEN linked THEN 1 END) AS n_linked
         |FROM b GROUP BY 1, 2 ORDER BY source, split""".stripMargin,

    // Three class-size relations + a first-passing-level CASE; counts
    // only, no float beyond none.
    "q171_k_generalize" ->
      """WITH q AS (SELECT source, lang, n_chars // 100 AS b0,
        |                  n_chars // 1000 AS b1 FROM documents),
        |c0 AS (SELECT lang, b0, count(*) AS n0 FROM q GROUP BY 1, 2),
        |c1 AS (SELECT lang, b1, count(*) AS n1 FROM q GROUP BY 1, 2),
        |c2 AS (SELECT lang, count(*) AS n2 FROM q GROUP BY 1),
        |j AS (SELECT q.source,
        |        CASE WHEN c0.n0 >= 5 THEN 0 WHEN c1.n1 >= 5 THEN 1
        |             WHEN c2.n2 >= 5 THEN 2 ELSE -1 END AS lv
        |      FROM q JOIN c0 USING (lang, b0) JOIN c1 USING (lang, b1)
        |             JOIN c2 USING (lang))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN lv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_l0,
        |  CAST(sum(CASE WHEN lv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_l1,
        |  CAST(sum(CASE WHEN lv = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_l2,
        |  CAST(sum(CASE WHEN lv = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppressed
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    // Same (priority DESC, id) slot order within host; slots 0-based,
    // offsets exact integer multiples.
    "q169_crawl_schedule" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |  'site' || (doc_id%50) || '.example.com' AS host
        |  FROM documents)
        |SELECT doc_id, host,
        |  row_number() OVER (PARTITION BY host
        |                     ORDER BY n_chars DESC, doc_id) - 1 AS slot,
        |  (row_number() OVER (PARTITION BY host
        |                      ORDER BY n_chars DESC, doc_id) - 1) * 5 AS fetch_offset_s
        |FROM d ORDER BY host, slot""".stripMargin,

    // Equivalence classes rebuilt independently (integer-div buckets,
    // USING join — the fixture has no NULL quasi values; the null-safe
    // semantics are spec-pinned instead). Fractions nonnegative.
    "q168_k_anonymity" ->
      """WITH q AS (SELECT source, lang, n_chars // 100 AS b FROM documents),
        |c AS (SELECT lang, b, count(*) AS n FROM q GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN c.n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppressed,
        |  round(CAST(sum(CASE WHEN c.n < 5 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / CAST(count(*) AS DOUBLE)*1000000.0)/1000000.0 AS suppressed_frac
        |FROM q JOIN c USING (lang, b)
        |GROUP BY source ORDER BY source""".stripMargin
  )

  /** The shared PQ chain (codebooks → per-sub distances → codes), used
    * by pqOracle and ivfPqOracle so the two cannot diverge. */
  private def pqChainCtes(m: Int, w: Int, signBits: Int): String =
    "WITH base AS (SELECT vec_id, embedding FROM embeddings),\n" +
      pqChainBody(m, w, signBits)

  /** The PQ chain from `sub` onward (no WITH, no base CTE), so
    * [[ivfPqOracle]] can run the IDENTICAL text over a residual base
    * while q147/q147b keep the raw-embedding base. */
  private def pqChainBody(m: Int, w: Int, signBits: Int): String =
    s"""sub AS (SELECT vec_id, sub, list_slice(embedding, sub*$w+1, sub*$w+$w) AS sv
       |        FROM base, unnest(generate_series(0, ${m - 1})) AS s(sub)),
       |bkt AS (SELECT vec_id, sub, sv,
       |               (SELECT CAST(sum(CASE WHEN sv[j+1] > 0
       |                        THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
       |                FROM unnest(generate_series(0, ${signBits - 1})) AS t(j)) AS cid
       |        FROM sub),
       |cent AS (SELECT sub, cid, j AS pos,
       |                CAST(sum(CAST(CAST(sv[j+1] AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)
       |                  / count(*) AS c
       |         FROM bkt, unnest(generate_series(0, ${w - 1})) AS t(j)
       |         GROUP BY sub, cid, j),
       |cb AS (SELECT sub, cid, array_agg(c ORDER BY pos) AS centroid
       |       FROM cent GROUP BY sub, cid),
       |ed AS (SELECT b.vec_id, b.sub, c.cid,
       |              round(list_sum(list_transform(range(1, ${w + 1}),
       |                    j -> (CAST(b.sv[j] AS DOUBLE) - c.centroid[j])
       |                       * (CAST(b.sv[j] AS DOUBLE) - c.centroid[j])))
       |                    *1000000.0)/1000000.0 AS d
       |       FROM bkt b JOIN cb c USING (sub)),
       |codes AS (SELECT vec_id, sub, cid FROM (
       |            SELECT vec_id, sub, cid,
       |                   row_number() OVER (PARTITION BY vec_id, sub
       |                                      ORDER BY d, cid) AS rk
       |            FROM ed) WHERE rk = 1)""".stripMargin

  /** The shared ADC final (pair distance sum + per-query top-k), with a
    * caller-supplied restriction on which (query, candidate) pairs the
    * walk scores. */
  private def adcFinal(topK: Int, extraJoins: String, lqFilter: String): String =
    s"""adc AS (SELECT lq.vec_id AS query_id, cd.vec_id AS cand_id,
       |               round(CAST(sum(CAST(lq.d AS DECIMAL(28,6))) AS DOUBLE)
       |                     *1000000.0)/1000000.0 AS adist
       |        FROM codes cd
       |        $extraJoins
       |        JOIN ed lq ON lq.sub = cd.sub AND lq.cid = cd.cid
       |                   AND $lqFilter AND lq.vec_id <> cd.vec_id
       |        GROUP BY lq.vec_id, cd.vec_id)
       |SELECT query_id, rank, cand_id, adist FROM (
       |  SELECT query_id, cand_id, adist,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY adist, cand_id) AS INT) AS rank
       |  FROM adc) WHERE rank <= $topK
       |ORDER BY query_id, rank""".stripMargin

  /** PQ/ADC oracle, parametric in the codebook geometry: `m` subspaces of
    * width `w` dims, 2^`signBits` sign-bucket cells, top-`topK` per query.
    * Text is the q147 chain verbatim with the constants substituted, so
    * q147 (m=4, k=16) and q147b (m=8, k=256) gate the same construction
    * at both geometries. */
  private def pqOracle(m: Int, w: Int, signBits: Int, topK: Int): String =
    pqChainCtes(m, w, signBits) + ",\n" +
      adcFinal(topK, "", "lq.vec_id < 10")

  /** IVF+PQ (IVFADC) oracle: coarse cells + centroids from the raw
    * embeddings (the q48b chain), the q147 PQ chain run verbatim over
    * the RESIDUAL base r = x − centroid(cell(x)), probes by cosine
    * against the coarse centroids, and the ADC walk scored from the
    * query's PER-PROBED-CELL residual LUT, restricted to candidates in
    * the probed cells — the composition IS the oracle. */
  private def ivfPqOracle(m: Int, w: Int, signBits: Int, topK: Int,
                          coarseBits: Int, nprobe: Int): String = {
    val d = m * w
    s"""WITH raw AS (SELECT vec_id, embedding FROM embeddings),
       |cc AS (SELECT vec_id,
       |       (SELECT CAST(sum(CASE WHEN embedding[j+1] > 0
       |                THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
       |        FROM unnest(generate_series(0, ${coarseBits - 1})) AS t(j)) AS ccid
       |       FROM raw),
       |ccent AS (SELECT ccid, j AS pos,
       |          CAST(sum(CAST(CAST(b.embedding[j+1] AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)
       |            / count(*) AS c
       |          FROM raw b JOIN cc USING (vec_id),
       |               unnest(generate_series(0, ${d - 1})) AS t(j)
       |          GROUP BY ccid, j),
       |ccent_arr AS (SELECT ccid, array_agg(c ORDER BY pos) AS centroid
       |              FROM ccent GROUP BY ccid),
       |ccent_n AS (SELECT ccid, centroid,
       |            sqrt((SELECT sum(x*x) FROM unnest(centroid) AS u(x))) AS cnrm
       |            FROM ccent_arr),
       |base AS (SELECT r.vec_id,
       |         list_transform(range(1, ${d + 1}),
       |           j -> CAST(r.embedding[j] AS DOUBLE) - ca.centroid[j]) AS embedding
       |         FROM raw r JOIN cc USING (vec_id)
       |                    JOIN ccent_arr ca ON ca.ccid = cc.ccid),
       |""".stripMargin +
      pqChainBody(m, w, signBits) + ",\n" +
      s"""qn AS (SELECT vec_id, embedding,
         |       sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
         |             FROM unnest(embedding) AS u(x))) AS nrm
         |       FROM raw WHERE vec_id < 10),
         |probe_flat AS (SELECT q.vec_id AS query_id, q.nrm AS nq, ca.ccid, ca.cnrm,
         |               unnest(q.embedding) AS x1, unnest(ca.centroid) AS x2
         |               FROM qn q, ccent_n ca),
         |probe_score AS (SELECT query_id, ccid,
         |                round(sum(CAST(x1 AS DOUBLE)*x2)
         |                      / (any_value(nq)*any_value(cnrm))
         |                      *1000000.0)/1000000.0 AS csim
         |                FROM probe_flat GROUP BY query_id, ccid),
         |probes AS (SELECT query_id, ccid FROM (
         |           SELECT query_id, ccid,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY csim DESC, ccid) AS prank
         |           FROM probe_score) WHERE prank <= $nprobe),
         |qres AS (SELECT p.query_id, p.ccid,
         |         list_transform(range(1, ${d + 1}),
         |           j -> CAST(q.embedding[j] AS DOUBLE) - ca.centroid[j]) AS rv
         |         FROM probes p JOIN raw q ON q.vec_id = p.query_id
         |                       JOIN ccent_arr ca ON ca.ccid = p.ccid),
         |qsub AS (SELECT query_id, ccid, sub, list_slice(rv, sub*$w+1, sub*$w+$w) AS sv
         |         FROM qres, unnest(generate_series(0, ${m - 1})) AS s(sub)),
         |qed AS (SELECT q.query_id, q.ccid, q.sub, c.cid,
         |        round(list_sum(list_transform(range(1, ${w + 1}),
         |              j -> (q.sv[j] - c.centroid[j]) * (q.sv[j] - c.centroid[j])))
         |              *1000000.0)/1000000.0 AS d
         |        FROM qsub q JOIN cb c USING (sub)),
         |adc AS (SELECT lq.query_id, cd.vec_id AS cand_id,
         |               round(CAST(sum(CAST(lq.d AS DECIMAL(28,6))) AS DOUBLE)
         |                     *1000000.0)/1000000.0 AS adist
         |        FROM codes cd
         |        JOIN cc ON cc.vec_id = cd.vec_id
         |        JOIN qed lq ON lq.ccid = cc.ccid AND lq.sub = cd.sub
         |                   AND lq.cid = cd.cid AND lq.query_id <> cd.vec_id
         |        GROUP BY lq.query_id, cd.vec_id)
         |SELECT query_id, rank, cand_id, adist FROM (
         |  SELECT query_id, cand_id, adist,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY adist, cand_id) AS INT) AS rank
         |  FROM adc) WHERE rank <= $topK
         |ORDER BY query_id, rank""".stripMargin
  }

  /** q151 oracle: rebuild the script fixture with chr(), then mirror
    * scriptMix's length-difference counts, fixed-priority dominant, and
    * ≥2-scripts mixed flag. RE2 spells BMP ranges \x{....}. */
  private def scriptMixOracle: String = {
    val classes = TextAnalysis.ScriptClasses.map { case (n, _, re2) =>
      n -> s"length(ns) - length(regexp_replace(ns, '$re2', '', 'g'))"
    }
    val classCols = classes.map { case (n, e) => s"CAST($e AS BIGINT) AS n_$n" }
      .mkString(",\n        ")
    val known = classes.map { case (n, _) => s"n_$n" }.mkString(" + ")
    val domCase = classes.map { case (n, _) =>
      s"WHEN n_$n = mx AND n_$n > 0 THEN '$n'"
    }.mkString(" ")
    val present = (classes.map(_._1).filter(_ != "digit") :+ "other")
      .map(n => s"CASE WHEN n_$n > 0 THEN 1 ELSE 0 END").mkString(" + ")
    val maxArgs = (classes.map { case (n, _) => s"n_$n" } :+ "n_other").mkString(", ")
    s"""WITH x AS (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
       |tk AS (SELECT doc_id, lang, i, ts[i] AS t
       |       FROM x, unnest(generate_series(1, len(ts))) AS u(i)),
       |mp AS (SELECT doc_id, lang, i,
       |         CASE WHEN lang = 'zh'
       |                THEN chr(CAST(19968 + (${tokenHashSql("t")} % 20000) AS INTEGER))
       |              WHEN doc_id % 13 = 1
       |                THEN chr(CAST(1072 + (${tokenHashSql("t")} % 32) AS INTEGER))
       |              WHEN doc_id % 17 = 2
       |                THEN chr(CAST(945 + (${tokenHashSql("t")} % 25) AS INTEGER))
       |              ELSE t END AS piece
       |       FROM tk),
       |d2 AS (SELECT doc_id, lang,
       |         string_agg(piece, ' ' ORDER BY i) ||
       |           CASE WHEN doc_id % 97 = 0
       |                THEN ' ' || chr(CAST(19968 + doc_id % 100 AS INTEGER))
       |                ELSE '' END AS text
       |       FROM mp GROUP BY doc_id, lang),
       |c AS (SELECT doc_id, lang, CAST(length(ns) AS BIGINT) AS total,
       |        $classCols
       |      FROM (SELECT doc_id, lang, replace(text, ' ', '') AS ns FROM d2)),
       |e AS (SELECT doc_id, lang, n_latin, n_digit, n_cjk, n_cyrillic, n_greek,
       |             total - ($known) AS n_other FROM c),
       |f AS (SELECT *, greatest($maxArgs) AS mx FROM e),
       |g AS (SELECT lang,
       |        CASE $domCase ELSE 'other' END AS dominant,
       |        CASE WHEN ($present) >= 2 THEN 1 ELSE 0 END AS mixed,
       |        n_latin, n_digit, n_cjk, n_cyrillic, n_greek, n_other
       |      FROM f)
       |SELECT lang, dominant, count(*) AS n_docs,
       |  CAST(sum(mixed) AS BIGINT) AS n_mixed,
       |  CAST(sum(n_latin) AS BIGINT) AS latin_chars,
       |  CAST(sum(n_digit) AS BIGINT) AS digit_chars,
       |  CAST(sum(n_cjk) AS BIGINT) AS cjk_chars,
       |  CAST(sum(n_cyrillic) AS BIGINT) AS cyrillic_chars,
       |  CAST(sum(n_greek) AS BIGINT) AS greek_chars,
       |  CAST(sum(n_other) AS BIGINT) AS other_chars
       |FROM g GROUP BY lang, dominant ORDER BY lang, dominant""".stripMargin
  }

  // Unrolled-round BPE replay: per round, pair counts over adjacent
  // positions, a (n DESC, sa, sb) argmax, greedy-leftmost merge selection
  // as the parity rule over consecutive match runs, then a renumbered
  // rewrite. Identical selections to the Spark fold (see operators.Bpe).
  private def bpeOracle(rounds: Int, finalSelect: String): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks
        |       WHERE length(w) > 0 GROUP BY w),
        |s0 AS MATERIALIZED (SELECT w, c, CAST(i AS BIGINT) AS p, substr(w, i, 1) AS s
        |       FROM w0, unnest(generate_series(1, length(w))) AS u(i))""".stripMargin)
    for (r <- 1 to rounds) {
      val pv = s"s${r - 1}"
      sb.append(s""",
        |pc$r AS (SELECT a.s AS sa, b.s AS sb, CAST(sum(a.c) AS BIGINT) AS n
        |         FROM $pv a JOIN $pv b ON b.w = a.w AND b.p = a.p + 1
        |         GROUP BY a.s, b.s),
        |best$r AS MATERIALIZED (SELECT sa, sb, n FROM pc$r ORDER BY n DESC, sa, sb LIMIT 1),
        |m$r AS (SELECT a.w, a.p FROM $pv a
        |        JOIN $pv b ON b.w = a.w AND b.p = a.p + 1
        |        JOIN best$r x ON a.s = x.sa AND b.s = x.sb),
        |k$r AS MATERIALIZED (SELECT w, p FROM (
        |          SELECT w, p, p - min(p) OVER (PARTITION BY w, grp) AS off FROM (
        |            SELECT w, p,
        |                   p - row_number() OVER (PARTITION BY w ORDER BY p) AS grp
        |            FROM m$r))
        |        WHERE off % 2 = 0),
        |s$r AS MATERIALIZED (SELECT w, c,
        |               CAST(row_number() OVER (PARTITION BY w ORDER BY p) AS BIGINT) AS p,
        |               s FROM (
        |          SELECT a.w, a.c, a.p,
        |                 CASE WHEN k1.p IS NOT NULL
        |                      THEN a.s || (SELECT sb FROM best$r) ELSE a.s END AS s
        |          FROM $pv a
        |          LEFT JOIN k$r k1 ON k1.w = a.w AND k1.p = a.p
        |          LEFT JOIN k$r k2 ON k2.w = a.w AND k2.p = a.p - 1
        |          WHERE k2.p IS NULL))""".stripMargin)
    }
    sb.append("\n" + finalSelect)
    sb.toString
  }

  // Token 8-gram fingerprints = md5 of the space-rejoined window; DuckDB
  // reproduces the Spark fingerprint byte-for-byte (both md5 the same
  // string). Distinct per doc on the corpus side mirrors
  // Decontamination.tokenGramFingerprints' array_distinct.
  private val decontaminateOracle =
    """WITH ev AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % 97 = 0),
      |eg AS (
      |  SELECT DISTINCT md5(array_to_string(toks[i:i+7], ' ')) AS g
      |  FROM ev, unnest(generate_series(1, len(toks)-7)) AS t(i)
      |  WHERE len(toks) >= 8),
      |corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
      |  UNION ALL
      |  SELECT doc_id + 200000, 'leaked copy ' || text FROM documents WHERE doc_id % 97 = 0),
      |ct AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
      |cg AS (
      |  SELECT DISTINCT doc_id, md5(array_to_string(toks[i:i+7], ' ')) AS g
      |  FROM ct, unnest(generate_series(1, len(toks)-7)) AS t(i)
      |  WHERE len(toks) >= 8),
      |ng AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY doc_id)
      |SELECT cg.doc_id, CAST(any_value(ng.n_grams) AS INT) AS n_grams,
      |       count(*) AS n_overlap
      |FROM cg JOIN eg USING (g) JOIN ng ON ng.doc_id = cg.doc_id
      |GROUP BY cg.doc_id ORDER BY cg.doc_id""".stripMargin

  // The q48 bucket+cosine chain with a train/eval split, threshold on the
  // ROUNDED cosine (both engines filter the same value), best eval match
  // per train vector (cosine DESC, eval_id tiebreak). Shared verbatim by
  // q173 (byte-gated broadcast) and q173b (forced SHUFFLE_HASH) — the
  // gate steers strategy, never answers (the q44/q44b doctrine).
  private val semanticDecontamOracle =
    """WITH norms AS (
      |  SELECT vec_id, embedding,
      |         sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS u(x))) AS nrm,
      |         (SELECT CAST(sum(CASE WHEN embedding[j+1] > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
      |          FROM unnest(generate_series(0, 5)) AS t(j)) AS b
      |  FROM embeddings),
      |pairs AS (SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
      |                 t.embedding tv, e.embedding ev, t.nrm nt, e.nrm ne
      |          FROM norms t JOIN norms e
      |          ON t.b = e.b AND t.vec_id >= 25 AND e.vec_id < 25),
      |dots AS (SELECT train_id, eval_id,
      |                sum(CAST(x1 AS DOUBLE)*CAST(x2 AS DOUBLE)) AS dot,
      |                any_value(nt) AS nt, any_value(ne) AS ne
      |         FROM (SELECT train_id, eval_id, unnest(tv) AS x1,
      |                      unnest(ev) AS x2, nt, ne FROM pairs)
      |         GROUP BY train_id, eval_id),
      |scored AS (SELECT train_id, eval_id,
      |                  round(dot/(nt*ne)*1000000.0)/1000000.0 + 0.0 AS cosine
      |           FROM dots
      |           WHERE round(dot/(nt*ne)*1000000.0)/1000000.0 >= 0.15)
      |SELECT train_id, eval_id, cosine FROM (
      |  SELECT train_id, eval_id, cosine,
      |         row_number() OVER (PARTITION BY train_id
      |                            ORDER BY cosine DESC, eval_id) AS rn
      |  FROM scored) WHERE rn = 1
      |ORDER BY train_id""".stripMargin

  // K-means replay shared by q84/q85: the sign-bucket init (4 bits → 16
  // clusters over the 64-dim embeddings), the first assignment against
  // the init centroids, one Lloyd refinement (per-dimension DECIMAL
  // means over the assigned members), and the final assignment — ending
  // in a2(vec_id, cid, csim). Rounded-cosine argmax with cid-ascending
  // tie-break mirrors assignNearest's first-strict-max fold exactly.
  private val kmeansCtes =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |         sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM unnest(embedding) AS u(x))) AS nrm,
      |         (SELECT CAST(sum(CASE WHEN embedding[j+1] > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
      |          FROM unnest(generate_series(0, 3)) AS t(j)) AS bkt
      |  FROM embeddings),
      |cent0 AS (
      |  SELECT bkt AS cid, j AS pos,
      |         CAST(sum(CAST(CAST(embedding[j+1] AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS c
      |  FROM base, unnest(generate_series(0, 63)) AS t(j)
      |  GROUP BY bkt, j),
      |cent0_n AS (
      |  SELECT cid, centroid, sqrt((SELECT sum(x*x) FROM unnest(centroid) AS u(x))) AS cnrm
      |  FROM (SELECT cid, array_agg(c ORDER BY pos) AS centroid FROM cent0 GROUP BY cid)),
      |s0 AS (
      |  SELECT vec_id, cid,
      |         round(sum(CAST(x1 AS DOUBLE)*x2) / (any_value(nrm)*any_value(cnrm)), 6) AS csim
      |  FROM (SELECT b.vec_id, b.nrm, ca.cid, ca.cnrm,
      |               unnest(b.embedding) AS x1, unnest(ca.centroid) AS x2
      |        FROM base b, cent0_n ca)
      |  GROUP BY vec_id, cid),
      |a1 AS (
      |  SELECT vec_id, cid AS c1 FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rk
      |    FROM s0) WHERE rk = 1),
      |cent1 AS (
      |  SELECT c1 AS cid, j AS pos,
      |         CAST(sum(CAST(CAST(b.embedding[j+1] AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS c
      |  FROM a1 JOIN base b USING (vec_id), unnest(generate_series(0, 63)) AS t(j)
      |  GROUP BY c1, j),
      |cent1_n AS (
      |  SELECT cid, centroid, sqrt((SELECT sum(x*x) FROM unnest(centroid) AS u(x))) AS cnrm
      |  FROM (SELECT cid, array_agg(c ORDER BY pos) AS centroid FROM cent1 GROUP BY cid)),
      |s1 AS (
      |  SELECT vec_id, cid,
      |         round(sum(CAST(x1 AS DOUBLE)*x2) / (any_value(nrm)*any_value(cnrm)), 6) AS csim
      |  FROM (SELECT b.vec_id, b.nrm, ca.cid, ca.cnrm,
      |               unnest(b.embedding) AS x1, unnest(ca.centroid) AS x2
      |        FROM base b, cent1_n ca)
      |  GROUP BY vec_id, cid),
      |a2 AS (
      |  SELECT vec_id, cid, csim FROM (
      |    SELECT vec_id, cid, csim, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rk
      |    FROM s1) WHERE rk = 1)""".stripMargin

  private val tokenRarityOracle =
    """WITH toks AS (
      |  SELECT doc_id, t FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      |  WHERE length(t) > 0),
      |vocab AS (SELECT t, count(*) AS cnt FROM toks GROUP BY t),
      |total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM vocab),
      |scored AS (
      |  SELECT doc_id, round((SELECT n FROM total) / cnt, 6) AS rarity
      |  FROM toks JOIN vocab USING (t))
      |SELECT doc_id, count(*) AS n_tokens,
      |  round(CAST(sum(CAST(rarity AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS mean_rarity
      |FROM scored WHERE doc_id < 200
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Curation-funnel oracle: replays the cumulative stage flags with the
    * PROVEN building blocks — q49's padded-replace lang argmax, q50's
    * quality formula, q42's md5 dedup key, q72's gram-overlap CTEs —
    * composed over the q72 corpus (leaked eval copies planted), then
    * unpivots the five stage aggregates. */
  private def curationFunnelOracle: String = {
    def cnt(w: String) =
      s"CAST((length(p) - length(replace(p, ' $w ', ''))) / ${w.length + 2} AS INT)"
    def score(words: Seq[String]) = words.map(cnt).mkString("(", " + ", ")")
    val Seq(en, de, fr, es) = TextAnalysis.LangMarkers.map { case (_, ws) => score(ws) }
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
       |  UNION ALL
       |  SELECT doc_id + 200000, 'leaked copy ' || text FROM documents WHERE doc_id % 97 = 0),
       |pre AS (SELECT doc_id, text, ' ' || text || ' ' AS p FROM corpus),
       |met AS (
       |  SELECT doc_id, text, $en AS s_en, $de AS s_de, $fr AS s_fr, $es AS s_es,
       |    round(CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
       |          / greatest(length(text), 1), 6) AS punct_ratio,
       |    round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
       |          / greatest(len(string_split(text, ' ')), 1), 6) AS mean_word_len
       |  FROM pre),
       |fl AS (
       |  SELECT doc_id, text,
       |    CASE WHEN (CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'und'
       |               WHEN s_es > greatest(s_en, s_de, s_fr) THEN 'es'
       |               WHEN s_fr > greatest(s_en, s_de) THEN 'fr'
       |               WHEN s_de > s_en THEN 'de' ELSE 'en' END) = 'en'
       |         THEN 1 ELSE 0 END AS c1,
       |    round(least(CAST(length(text) AS DOUBLE)/400.0, 1.0)*0.4
       |      + (CASE WHEN mean_word_len BETWEEN 3.0 AND 9.0 THEN 1.0 ELSE 0.5 END)*0.3
       |      + greatest(0.0, 1.0 - punct_ratio*5.0)*0.3, 6) AS quality
       |  FROM met),
       |fl2 AS (
       |  SELECT doc_id, text, c1,
       |    CASE WHEN c1 = 1 AND quality >= 0.5 THEN 1 ELSE 0 END AS c2 FROM fl),
       |dd AS (
       |  SELECT doc_id, c1, c2,
       |    CASE WHEN c2 = 1 AND doc_id = min(CASE WHEN c2 = 1 THEN doc_id END)
       |      OVER (PARTITION BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))))
       |      THEN 1 ELSE 0 END AS c3
       |  FROM fl2),
       |ev AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % 97 = 0),
       |eg AS (SELECT DISTINCT md5(array_to_string(toks[i:i+7], ' ')) AS g
       |       FROM ev, unnest(generate_series(1, len(toks)-7)) AS t(i) WHERE len(toks) >= 8),
       |ct AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
       |cg AS (SELECT DISTINCT doc_id, md5(array_to_string(toks[i:i+7], ' ')) AS g
       |       FROM ct, unnest(generate_series(1, len(toks)-7)) AS t(i) WHERE len(toks) >= 8),
       |contam AS (SELECT DISTINCT cg.doc_id FROM cg JOIN eg USING (g)),
       |flags AS (
       |  SELECT dd.doc_id, c1, c2, c3,
       |    CASE WHEN c3 = 1 AND contam.doc_id IS NULL THEN 1 ELSE 0 END AS c4
       |  FROM dd LEFT JOIN contam ON contam.doc_id = dd.doc_id),
       |a AS (SELECT count(*) AS n0, sum(doc_id) AS s0, sum(c1) AS n1, sum(c1*doc_id) AS s1,
       |             sum(c2) AS n2, sum(c2*doc_id) AS s2, sum(c3) AS n3, sum(c3*doc_id) AS s3,
       |             sum(c4) AS n4, sum(c4*doc_id) AS s4 FROM flags)
       |SELECT '0_all' AS stage, CAST(n0 AS BIGINT) AS n_docs, CAST(s0 AS BIGINT) AS sum_ids FROM a
       |UNION ALL SELECT '1_lang', CAST(n1 AS BIGINT), CAST(s1 AS BIGINT) FROM a
       |UNION ALL SELECT '2_quality', CAST(n2 AS BIGINT), CAST(s2 AS BIGINT) FROM a
       |UNION ALL SELECT '3_dedup', CAST(n3 AS BIGINT), CAST(s3 AS BIGINT) FROM a
       |UNION ALL SELECT '4_decontam', CAST(n4 AS BIGINT), CAST(s4 AS BIGINT) FROM a
       |ORDER BY stage""".stripMargin
  }

  /** Language-ID oracle: same padded-replace counting and same
    * first-wins-tie argmax as TextAnalysis.langId. */
  private def langIdOracle: String = {
    def cnt(w: String) =
      s"CAST((length(p) - length(replace(p, ' $w ', ''))) / ${w.length + 2} AS INT)"
    def score(words: Seq[String]) = words.map(cnt).mkString("(", " + ", ")")
    val Seq(en, de, fr, es) = TextAnalysis.LangMarkers.map { case (_, ws) => score(ws) }
    s"""SELECT lang, predicted, count(*) AS n FROM (
       |  SELECT lang,
       |    CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'und'
       |         WHEN s_es > greatest(s_en, s_de, s_fr) THEN 'es'
       |         WHEN s_fr > greatest(s_en, s_de) THEN 'fr'
       |         WHEN s_de > s_en THEN 'de'
       |         ELSE 'en' END AS predicted
       |  FROM (
       |    SELECT lang, $en AS s_en, $de AS s_de, $fr AS s_fr, $es AS s_es
       |    FROM (SELECT lang, ' ' || text || ' ' AS p FROM documents)))
       |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
  }
}
