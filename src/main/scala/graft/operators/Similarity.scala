package graft.operators

import graft.Tables
import graft.functions.Kernels._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embedding corpus.
  *
  * Scale notes:
  *  - Brute-force is the correctness baseline: the query side is tiny and
  *    broadcast, so the scan side streams once with no shuffle — at 100 TB
  *    this is a single pass, embarrassingly parallel.
  *  - The LSH path buckets vectors by 16 random-hyperplane sign bits, so
  *    candidate sets shrink ~2^16× before any distance math — that is the
  *    100 TB path. Buckets are deterministic integer arithmetic (shared with
  *    the oracle), not RNG state.
  *  - knn-join is blocked by the LSH bucket with a parameterized plane
  *    count, and IVF cells come from a parameterized coarse quantizer — both
  *    block counts scale with the corpus, so per-block pair counts stay
  *    bounded at 100 TB (never a fixed attribute vocabulary).
  */
object Similarity {

  /** Occupancy ceiling for [[knnJoin]]'s LSH-bucket self-join — same
    * design language as Dedup.MaxShingleDf / MaxBandDf: per-bucket cost is
    * quadratic, so buckets above the ceiling are excluded (their dense
    * neighborhoods belong to the IVF-PQ path) and the drop is published by
    * the oracle-checked [[knnBucketStats]] ledger. */
  val MaxKnnBucket = 256

  /** Embeddings with the double-cast array + L2 norm projected once. */
  private def normed(spark: SparkSession, d: String): DataFrame =
    Tables.embeddings(spark, d)
      .select(col("vec_id"), col("label"), vecDouble(col("embedding")).as("e"))
      .withColumn("norm", vecNorm(col("e")))

  /** Embeddings as (vec_id, e: array&lt;double&gt;). Each call is one more
    * table read (and one schema job), so a row reads it once and shares. */
  private def vecs(spark: SparkSession, d: String): DataFrame =
    Tables.embeddings(spark, d)
      .select(col("vec_id"), vecDouble(col("embedding")).as("e"))

  /** Deterministic hash-bucket corpus sample — the sampled-ground-truth
    * mode of the recall evals. Keeps vectors whose xxhash64(vec_id) falls
    * in bucket 0 of `sampleMod` buckets (~1/sampleMod of the corpus, the
    * SAME subset on every run and every engine), plus every query vector.
    * `sampleMod=1` is a no-op (plan unchanged — the oracle rows run there).
    * At 100 TB the exact ground-truth half of a recall eval is the only
    * O(\|queries\|·\|corpus\|) scan left in the library; sampling the
    * candidate corpus on BOTH the truth and approx sides preserves the
    * recall estimand (hit probability is per (query, neighbor) pair and
    * the sample is independent of rank) while cutting that scan by
    * sampleMod×. */
  private def corpusSample(v: DataFrame, nQueries: Int, sampleMod: Int): DataFrame =
    if (sampleMod <= 1) v
    else v.filter(col("vec_id") < nQueries ||
      pmod(xxhash64(col("vec_id")), lit(sampleMod.toLong)) === 0L)

  /** Exact cosine top-k for query vectors (vec_id < nQueries). */
  def bruteforceTopK(spark: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
      sampleMod: Int = 1): DataFrame =
    cosineTopK(spark, d, nQueries, k, sampleMod).orderBy(col("query_id"), col("rank"))

  /** Per-query top-k, the ranking every search and truth here shares:
    * row_number `rank` over query_id by `key`, ties → lower neighbor_id.
    * Applied as `scored.transform(topK(k, key))`. */
  private def topK(k: Int, key: Column): DataFrame => DataFrame =
    _.withColumn("rank", row_number().over(
      Window.partitionBy(col("query_id")).orderBy(key, col("neighbor_id"))))
      .filter(col("rank") <= k)

  /** [[bruteforceTopK]] without its output sort — the form consumers that
    * re-key or collect the list read. */
  private def cosineTopK(spark: SparkSession, d: String, nQueries: Int, k: Int,
      sampleMod: Int): DataFrame = {
    val v = normed(spark, d)
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("norm").as("qnorm"))
    val scored = corpusSample(v, nQueries, sampleMod)
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qe"), col("e")) / (col("qnorm") * col("norm")), 4).as("cos"))
    scored.transform(topK(k, col("cos").desc))
  }

  /** Exact maximum-inner-product top-k (`ann_mips`) — the retrieval
    * scoring two-tower recommenders and dense-retrieval rankers use, where
    * the UNNORMALIZED dot product is the estimand (a long document/item
    * vector SHOULD outrank a short one — cosine's normalization is wrong
    * there). Same brute-force shape as [[bruteforceTopK]]: queries
    * broadcast, one linear corpus pass, per-query top-k as a map-side
    * WindowGroupLimit. Scores ride integer MICRO inner products
    * (`floor(dot·10⁶ + 0.5)` — the family's exact-bigint convention after
    * round-4 flipped a PQ row on a .xxxx5 boundary), so ranking ties break
    * identically on both engines. Scale path: the classic norm-augmentation
    * reduction (append √(M²−‖x‖²) to corpus vectors, 0 to queries) turns
    * MIPS into cosine over d+1 dims, after which the whole IVF/PQ ladder
    * above applies unchanged — this row is the exact baseline that ladder
    * would be priced against. */
  def mipsTopK(spark: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
      sampleMod: Int = 1): DataFrame = {
    val v = vecs(spark, d)
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val scored = corpusSample(v, nQueries, sampleMod)
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        floor(dot(col("qe"), col("e")) * 1e6 + lit(0.5)).cast("long").as("ip_e6"))
    scored.transform(topK(k, col("ip_e6").desc))
      .orderBy(col("query_id"), col("rank"))
  }

  val mipsTopKOracle: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
      |s AS (
      |  SELECT query_id, v.vec_id AS neighbor_id,
      |    cast(floor(list_dot_product(qe, v.e) * 1e6 + 0.5) AS bigint)
      |      AS ip_e6
      |  FROM q, v WHERE v.vec_id != query_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY ip_e6 DESC, neighbor_id) AS rank FROM s)
      |SELECT query_id, neighbor_id, ip_e6, cast(rank AS int) AS rank
      |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  val bruteforceTopKOracle: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
      |s AS (
      |  SELECT query_id, v.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(qe, v.e), 4) AS cos
      |  FROM q, v WHERE v.vec_id != query_id),
      |r AS (SELECT *, cast(row_number() OVER
      |  (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS int) AS rank
      |  FROM s)
      |SELECT query_id, neighbor_id, cos, rank FROM r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** ANN via random-hyperplane LSH: candidates share the query's bucket. */
  def lshTopK(spark: SparkSession, d: String, nQueries: Int = 10, k: Int = 3,
      sampleMod: Int = 1): DataFrame = {
    val v = normed(spark, d)
      .withColumn("bucket", lshBucket(col("e")))
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("norm").as("qnorm"), col("bucket"))
    val scored = corpusSample(v, nQueries, sampleMod).join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qe"), col("e")) / (col("qnorm") * col("norm")), 4).as("cos"))
    scored.transform(topK(k, col("cos").desc))
      .orderBy(col("query_id"), col("rank"))
  }

  val lshTopKOracle: String =
    """WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |v AS (
      |  SELECT vec_id, e,
      |    list_sum(list_transform(range(0, 16), p ->
      |      CASE WHEN list_sum(list_transform(range(0, 64), j ->
      |        e[j+1] * ((((p*1000003 + j*7919) % 2001) - 1000) / 1000.0))) > 0
      |      THEN cast(1 AS bigint) << p ELSE 0 END)) AS bucket
      |  FROM v0),
      |q AS (SELECT vec_id AS query_id, e AS qe, bucket FROM v WHERE vec_id < 10),
      |s AS (
      |  SELECT query_id, v.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(qe, v.e), 4) AS cos
      |  FROM q JOIN v ON q.bucket = v.bucket AND v.vec_id != query_id),
      |r AS (SELECT *, cast(row_number() OVER
      |  (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS int) AS rank
      |  FROM s)
      |SELECT query_id, neighbor_id, cos, rank FROM r
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Per-cell centroids in long format (cell = label, dim, component).
    * posexplode + hash-agg: shuffle volume is |cells|·dims, not vectors. */
  def centroids(spark: SparkSession, d: String): DataFrame =
    Tables.embeddings(spark, d)
      .select(col("label"), posexplode(vecDouble(col("embedding"))).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("v")), 6).as("c"))
      .orderBy(col("label"), col("dim"))

  val centroidsOracle: String =
    """WITH v AS (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
      |x AS (SELECT label, e, unnest(generate_series(1, len(e))) AS j FROM v)
      |SELECT label, cast(j - 1 AS int) AS dim, round(avg(e[j]), 6) AS c
      |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** One-row DataFrame carrying the nCells×dims centroid matrix as an
    * ordered `array<array<double>>` (outer index = cell, inner = dim).
    * Built from the data (vec_id mod nCells seed groups — one k-means init
    * step) with shuffles proportional to |cells|·dims only, then collapsed
    * to a single row so it can ride a broadcast to every assignment task. */
  private def centroidMatrix(spark: SparkSession, d: String, nCells: Int): DataFrame =
    centroidMatrixOn(vecs(spark, d), nCells)

  /** [[centroidMatrix]] over any (vec_id, e: array&lt;double&gt;) frame — the
    * augmented-vector MIPS path trains its coarse quantizer on d+1-dim
    * vectors through the same machinery. */
  private def centroidMatrixOn(v: DataFrame, nCells: Int): DataFrame =
    cellMatrix(v.select(col("vec_id"), posexplode(col("e")).as(Seq("dim", "v")))
      .withColumn("cell", pmod(col("vec_id"), lit(nCells.toLong)))
      .groupBy(col("cell"), col("dim"))
      .agg(round(avg(col("v")), 6).as("c")))

  /** A long-form (cell, dim, c) codebook collapsed to the one-row
    * `cents: array<array<double>>` matrix (outer index = cell, inner = dim)
    * that rides a broadcast to every assignment task. */
  private def cellMatrix(long: DataFrame): DataFrame =
    long.groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("dc"))
      .select(col("cell"), transform(col("dc"), x => x.getField("c")).as("carr"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("cell"), col("carr")))).as("cc"))
      .select(transform(col("cc"), x => x.getField("carr")).as("cents"))

  /** Every vector tagged with its IVF cell: a one-row broadcast join ships
    * the centroid matrix to each task and [[graft.functions.NearestCell]]
    * computes the rounded-cosine argmax inside whole-stage codegen — ZERO
    * exchange on the corpus side (the r2-r4 long-format formulation
    * shuffled |vecs|×|cells| partial dot products for the same answer).
    * PlanSpec asserts the streamed side of this join is shuffle-free. */
  def ivfAssignments(spark: SparkSession, d: String, nCells: Int = 16): DataFrame =
    normed(spark, d)
      .join(broadcast(centroidMatrix(spark, d, nCells)))
      .withColumn("cell", nearestCell(col("e"), col("cents")))
      .drop("cents")

  /** IVF-style ANN: build nCells centroids from deterministic seed groups
    * (vec_id mod nCells — one k-means init step), assign every vector to its
    * nearest centroid by cosine map-side ([[ivfAssignments]]), then answer
    * queries inside their cell only — the inverted-file scale path where
    * each probe touches |corpus|/|cells| candidates. The cell count is a
    * free parameter (√n-ish at 100 TB), not tied to any attribute
    * vocabulary; assignment is computed from the data, so cells are a
    * genuine coarse quantizer.
    */
  def ivfTopK(spark: SparkSession, d: String, nQueries: Int = 10, k: Int = 3,
      nCells: Int = 16, sampleMod: Int = 1): DataFrame = {
    val members = ivfAssignments(spark, d, nCells)
    val q = members.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("norm").as("qnorm"), col("cell"))
    val scored = corpusSample(members, nQueries, sampleMod).join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qe"), col("e")) / (col("qnorm") * col("norm")), 4).as("cos"))
    scored.transform(topK(k, col("cos").desc))
      .orderBy(col("query_id"), col("rank"))
  }

  val ivfTopKOracle: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |x AS (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS j FROM v),
      |comp AS (SELECT vec_id, j, e[j] AS val FROM x),
      |cents AS (
      |  SELECT vec_id % 16 AS cell, j, round(avg(e2[j]), 6) AS c
      |  FROM (SELECT vec_id, e AS e2, unnest(generate_series(1, len(e))) AS j
      |        FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings))
      |  GROUP BY 1, 2),
      |cnorms AS (SELECT cell, sqrt(sum(c*c)) AS cnorm FROM cents GROUP BY 1),
      |vnorms AS (SELECT vec_id, sqrt(list_dot_product(e, e)) AS norm FROM v),
      |dots AS (
      |  SELECT comp.vec_id, cents.cell, sum(val * c) AS dot
      |  FROM comp JOIN cents ON comp.j = cents.j
      |  GROUP BY 1, 2),
      |assigned AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT d.vec_id, d.cell,
      |      row_number() OVER (PARTITION BY d.vec_id
      |        ORDER BY round(d.dot / (vn.norm * cn.cnorm), 6) DESC, d.cell) AS arank
      |    FROM dots d JOIN cnorms cn ON d.cell = cn.cell
      |    JOIN vnorms vn ON d.vec_id = vn.vec_id)
      |  WHERE arank = 1),
      |members AS (
      |  SELECT v.vec_id, v.e, vn.norm, a.cell
      |  FROM v JOIN vnorms vn ON v.vec_id = vn.vec_id
      |  JOIN assigned a ON v.vec_id = a.vec_id),
      |q AS (SELECT vec_id AS query_id, e AS qe, norm AS qnorm, cell
      |      FROM members WHERE vec_id < 10),
      |s AS (
      |  SELECT query_id, m.vec_id AS neighbor_id,
      |    round(list_dot_product(qe, m.e) / (qnorm * m.norm), 4) AS cos
      |  FROM q JOIN members m ON q.cell = m.cell AND m.vec_id != query_id),
      |r AS (SELECT *, cast(row_number() OVER
      |  (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS int) AS rank
      |  FROM s)
      |SELECT query_id, neighbor_id, cos, rank FROM r
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** IVF with multi-probe: members are assigned map-side as in
    * [[ivfAssignments]], but each query searches its nProbe nearest cells —
    * the standard IVF recall knob (a neighbor just across a cell boundary
    * is recovered at nProbe× the probe cost, still \|corpus\|·nProbe/nCells
    * candidates). The query-side cell ranking explodes the broadcast
    * centroid matrix for the QUERY rows only (\|q\|×nCells rows — tiny by
    * definition), with the same round-6 cosine + lower-cell tie order as
    * the member assignment, so probe cell 1 always equals the query's own
    * cell. Corpus side stays exchange-free. */
  def ivfProbeTopK(spark: SparkSession, d: String, nQueries: Int = 10, k: Int = 3,
      nCells: Int = 16, nProbe: Int = 2, sampleMod: Int = 1): DataFrame = {
    val members = ivfAssignments(spark, d, nCells)
    val probes = normed(spark, d).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("norm").as("qnorm"))
      .join(broadcast(centroidMatrix(spark, d, nCells)))
      .select(col("query_id"), col("qe"), col("qnorm"),
        posexplode(col("cents")).as(Seq("cell", "carr")))
      .withColumn("ccos",
        round(dot(col("qe"), col("carr")) / (col("qnorm") * vecNorm(col("carr"))), 6))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cell"))))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("qe"), col("qnorm"), col("cell").cast("long").as("cell"))
    val scored = corpusSample(members, nQueries, sampleMod)
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qe"), col("e")) / (col("qnorm") * col("norm")), 4).as("cos"))
    scored.transform(topK(k, col("cos").desc))
      .orderBy(col("query_id"), col("rank"))
  }

  val ivfProbeTopKOracle: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |x AS (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS j FROM v),
      |comp AS (SELECT vec_id, j, e[j] AS val FROM x),
      |cents AS (
      |  SELECT vec_id % 16 AS cell, j, round(avg(e2[j]), 6) AS c
      |  FROM (SELECT vec_id, e AS e2, unnest(generate_series(1, len(e))) AS j
      |        FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings))
      |  GROUP BY 1, 2),
      |cnorms AS (SELECT cell, sqrt(sum(c*c)) AS cnorm FROM cents GROUP BY 1),
      |vnorms AS (SELECT vec_id, sqrt(list_dot_product(e, e)) AS norm FROM v),
      |dots AS (
      |  SELECT comp.vec_id, cents.cell, sum(val * c) AS dot
      |  FROM comp JOIN cents ON comp.j = cents.j
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT d.vec_id, d.cell,
      |    row_number() OVER (PARTITION BY d.vec_id
      |      ORDER BY round(d.dot / (vn.norm * cn.cnorm), 6) DESC, d.cell) AS arank
      |  FROM dots d JOIN cnorms cn ON d.cell = cn.cell
      |  JOIN vnorms vn ON d.vec_id = vn.vec_id),
      |assigned AS (SELECT vec_id, cell FROM ranked WHERE arank = 1),
      |members AS (
      |  SELECT v.vec_id, v.e, vn.norm, a.cell
      |  FROM v JOIN vnorms vn ON v.vec_id = vn.vec_id
      |  JOIN assigned a ON v.vec_id = a.vec_id),
      |probes AS (
      |  SELECT r.vec_id AS query_id, v.e AS qe, vn.norm AS qnorm, r.cell
      |  FROM ranked r JOIN v ON r.vec_id = v.vec_id
      |  JOIN vnorms vn ON r.vec_id = vn.vec_id
      |  WHERE r.vec_id < 10 AND r.arank <= 2),
      |s AS (
      |  SELECT query_id, m.vec_id AS neighbor_id,
      |    round(list_dot_product(qe, m.e) / (qnorm * m.norm), 4) AS cos
      |  FROM probes p JOIN members m ON p.cell = m.cell AND m.vec_id != p.query_id),
      |r AS (SELECT *, cast(row_number() OVER
      |  (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS int) AS rank
      |  FROM s)
      |SELECT query_id, neighbor_id, cos, rank FROM r
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Multi-probe LSH ANN: each query probes its own bucket PLUS the
    * nPlanes buckets at Hamming distance 1 (one sign bit flipped) — the
    * standard recall fix for hyperplane LSH (a near neighbor that landed
    * just across one hyperplane is recovered) at bounded extra cost:
    * (nPlanes+1)× the probe fan-out, still ~2^planes× below brute force.
    * Probe buckets are distinct values, so each (query, neighbor) pair
    * matches at most once — no dedup pass needed. */
  def multiprobeTopK(spark: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 3, nPlanes: Int = 16): DataFrame = {
    val v = normed(spark, d)
      .select(col("vec_id"), col("e"), col("norm"))
      .withColumn("bucket", lshBucketN(col("e"), nPlanes))
    val probeCols = col("bucket") +:
      (0 until nPlanes).map(p => col("bucket").bitwiseXOR(lit(1L << p)))
    val probes = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("norm").as("qnorm"), explode(array(probeCols: _*)).as("bucket"))
    val scored = v.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qe"), col("e")) / (col("qnorm") * col("norm")), 4).as("cos"))
    scored.transform(topK(k, col("cos").desc))
      .orderBy(col("query_id"), col("rank"))
  }

  val multiprobeTopKOracle: String =
    s"""WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |v AS (
       |  SELECT vec_id, e, ${sqlLshBucket("e", 16)} AS bucket
       |  FROM v0),
       |q AS (SELECT vec_id AS query_id, e AS qe, bucket FROM v WHERE vec_id < 10),
       |probes AS (
       |  SELECT query_id, qe,
       |    CASE WHEN p < 0 THEN bucket
       |         ELSE xor(bucket, cast(1 AS bigint) << p) END AS bucket
       |  FROM q, generate_series(-1, 15) g(p)),
       |s AS (
       |  SELECT query_id, v.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(qe, v.e), 4) AS cos
       |  FROM probes JOIN v ON probes.bucket = v.bucket AND v.vec_id != query_id),
       |r AS (SELECT *, cast(row_number() OVER
       |  (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS int) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, cos, rank FROM r
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Recall@k of the LSH index against brute-force ground truth, per
    * query — the index-quality eval an ANN deployment publishes alongside
    * the index itself. Composes the two existing operators; hits counted
    * with a left join against the truth set.
    *
    * `truthSample` > 1 turns on the sampled-ground-truth mode: truth AND
    * approx both search the same deterministic 1/truthSample hash-bucket
    * sub-corpus ([[corpusSample]]), so the exact side's
    * \|queries\|×\|corpus\| scan — the only non-index-bounded cost in the
    * eval — shrinks by truthSample× while the recall estimate stays
    * unbiased (spec-pinned tolerance vs full truth). That is the 100 TB
    * path for every recall eval in this object. */
  def annRecall(spark: SparkSession, d: String, nQueries: Int = 10, k: Int = 3,
      truthSample: Int = 1): DataFrame =
    recallAt(cosineTopK(spark, d, nQueries, k, truthSample),
      lshTopK(spark, d, nQueries, k, truthSample), k)

  /** The hit counter every single-system recall eval shares: per query of
    * `truth`, n_hits = \|truth(q) ∩ approx(q)\| and recall_at_k =
    * round(n_hits / k, 4), ordered by query_id. Both inputs carry
    * (query_id, neighbor_id); the left join from the truth side keeps a
    * 0-hit row for a query the approx list never answered, and each truth
    * pair matches at most one approx pair, so nothing fans out. */
  private[graft] def recallAt(truth: DataFrame, approx: DataFrame, k: Int): DataFrame =
    truth.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"), lit(1).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_hits"),
        round(count(col("hit")) / k.toDouble, 4).as("recall_at_k"))
      .orderBy(col("query_id"))

  /** Target dimensionality of the Johnson–Lindenstrauss projection. */
  val RpDims = 16

  /** Deterministic JL weight for (projection row p, dim j) — uniform in
    * [−1,1] on the 0.001 grid, like the LSH plane stream but with p·j and
    * j² CROSS TERMS: the affine `lshWeight` stream makes different rows
    * SHIFTS of one periodic sequence (fine for sign buckets, but the
    * row-correlation fattens the distance-distortion tail to 5.5× on this
    * corpus); the quadratic terms give row p′ − row p a j-varying
    * difference, and the measured distortion band tightens to the
    * theoretical ~1/√r (max 2.4×, 45% of pairs within ±20% at r=16 —
    * χ²₁₆-consistent). Pure integer arithmetic, no overflow (max term
    * ~1.2e8), identical on both engines. */
  private def rpWeight(p: Column, j: Column): Column =
    (pmod(p * lit(1000003L) + j * lit(7919L) + p * j * lit(104729L) +
      j * j * lit(31337L), lit(2001L)) - lit(1000L)).cast("double") / lit(1000.0)

  /** JL random projection of a double-array column to `r` dims: y_p =
    * Σ_j e[j]·w(p,j) over the [[rpWeight]] stream (subgaussian, so the JL
    * distance-preservation bound applies). Both engines fold left-to-right
    * over j, so the doubles are bit-identical. */
  private def rpProject(e: Column, r: Int): Column =
    transform(sequence(lit(0), lit(r - 1)), p =>
      aggregate(sequence(lit(0), size(e) - 1), lit(0.0), (acc, j) =>
        acc + element_at(e, j + 1) * rpWeight(p, j)))

  private def sqlRpProject(e: String, r: Int): String =
    s"list_transform(range(0, $r), p -> " +
      s"list_sum(list_transform(range(0, len($e)), j -> " +
      s"$e[j+1] * ((((p*1000003 + j*7919 + p*j*104729 + j*j*31337) % 2001)" +
      s" - 1000) / 1000.0))))"

  /** Random-projection dimensionality reduction (`vec_rp`) — the
    * Johnson–Lindenstrauss transform as a corpus operator: every embedding
    * mapped 64→[[RpDims]] dims through the deterministic weight stream the
    * LSH planes already use. Pure map (no shuffle at all before the output
    * sort); at 100 TB this is the projection pass a pipeline runs ONCE and
    * stores beside the raw vectors so every downstream distance scan costs
    * r/d of the full-width scan — [[annRpRecall]] publishes what that 4×
    * cheapening costs in recall. Output: the first 50 projected vectors in
    * long format (spot-check surface; the operator itself is corpus-wide). */
  def vecRp(spark: SparkSession, d: String, nVecs: Int = 50,
      r: Int = RpDims): DataFrame =
    normed(spark, d).filter(col("vec_id") < nVecs)
      .select(col("vec_id"), posexplode(rpProject(col("e"), r)).as(Seq("p", "y")))
      .select(col("vec_id"), col("p"), round(col("y"), 6).as("y"))
      .orderBy(col("vec_id"), col("p"))

  val vecRpOracle: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
       |  WHERE vec_id < 50),
       |pr AS (SELECT vec_id, ${sqlRpProject("e", RpDims)} AS y FROM v)
       |SELECT vec_id, cast(j - 1 AS int) AS p, round(y[j], 6) AS y
       |FROM (SELECT vec_id, y, unnest(generate_series(1, len(y))) AS j FROM pr)
       |ORDER BY 1, 2""".stripMargin

  /** Top-k by cosine in the [[RpDims]]-dim projected space — the cheap
    * scan [[annRpRecall]] evaluates. Same shape as [[bruteforceTopK]] but
    * every dot product is r/d the width. */
  def rpTopK(spark: SparkSession, d: String, nQueries: Int = 10, k: Int = 3,
      sampleMod: Int = 1): DataFrame = {
    val v = normed(spark, d)
      .select(col("vec_id"), rpProject(col("e"), RpDims).as("y"))
      .withColumn("ynorm", vecNorm(col("y")))
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("y").as("qy"),
        col("ynorm").as("qnorm"))
    val scored = corpusSample(v, nQueries, sampleMod)
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qy"), col("y")) / (col("qnorm") * col("ynorm")), 4).as("cos"))
    scored.transform(topK(k, col("cos").desc))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Recall@k of the JL-projected scan vs full-width ground truth
    * (`ann_rp_recall`) — the eval that prices the [[vecRp]] shortcut: how
    * much neighborhood structure survives 64→16 dims. Composes
    * [[bruteforceTopK]] and [[rpTopK]] exactly like [[annRecall]]; the
    * `truthSample` sampled-ground-truth mode applies unchanged at scale. */
  def annRpRecall(spark: SparkSession, d: String, nQueries: Int = 10, k: Int = 3,
      truthSample: Int = 1): DataFrame =
    recallAt(cosineTopK(spark, d, nQueries, k, truthSample),
      rpTopK(spark, d, nQueries, k, truthSample), k)

  /** Projection widths swept by [[vecRpCurve]]. */
  val RpCurveWidths: Seq[Int] = Seq(8, 16, 32)

  /** JL width curve (`vec_rp_curve`) — [[vecRpDistortion]] swept over
    * r ∈ {8, 16, 32}: the 1/√r concentration law measured (the within-±20%
    * share rises and the max tail falls as r doubles), which is THE table
    * a pipeline reads to size the projection for its distance-threshold
    * tolerance. Same O(1) 4 950-pair eval per width; one corpus-side scan
    * per width over the first 100 vectors only. */
  def vecRpCurve(spark: SparkSession, d: String, nVecs: Int = 100): DataFrame =
    RpCurveWidths.map { r =>
      vecRpDistortion(spark, d, nVecs, r)
        .select(lit(r).as("r"), col("n_pairs"), col("mean_ratio_bp"),
          col("min_ratio_bp"), col("max_ratio_bp"), col("n_within_20pct"))
    }.reduce(_ unionAll _).orderBy(col("r"))

  val vecRpCurveOracle: String = {
    val per = RpCurveWidths.map { r =>
      s"""(SELECT $r AS r, count(*) AS n_pairs,
         |  cast(sum(bp) // count(*) AS bigint) AS mean_ratio_bp,
         |  min(bp) AS min_ratio_bp, max(bp) AS max_ratio_bp,
         |  cast(sum(CASE WHEN bp BETWEEN 8000 AND 12000 THEN 1 ELSE 0 END)
         |    AS bigint) AS n_within_20pct
         | FROM (
         |  SELECT cast(floor(d2p * ${3 * 10000}.0 / ($r * d2f)) AS bigint) AS bp
         |  FROM (
         |    SELECT
         |      list_sum(list_transform(range(0, len(a.e)), j ->
         |        (a.e[j+1] - b.e[j+1]) * (a.e[j+1] - b.e[j+1]))) AS d2f,
         |      list_sum(list_transform(range(0, len(a.y)), j ->
         |        (a.y[j+1] - b.y[j+1]) * (a.y[j+1] - b.y[j+1]))) AS d2p
         |    FROM p$r a JOIN p$r b ON a.vec_id < b.vec_id)))""".stripMargin
    }.mkString(" UNION ALL ")
    val projs = RpCurveWidths.map { r =>
      s"p$r AS (SELECT vec_id, e, ${sqlRpProject("e", r)} AS y FROM v)"
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
       |  WHERE vec_id < 100),
       |$projs
       |SELECT * FROM ($per) ORDER BY r""".stripMargin
  }

  val annRpRecallOracle: String =
    s"""WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM v0 WHERE vec_id < 10),
       |ts AS (
       |  SELECT query_id, v0.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(qe, v0.e), 4) AS cos
       |  FROM q, v0 WHERE v0.vec_id != query_id),
       |tr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY cos DESC, neighbor_id) AS rank FROM ts),
       |truth AS (SELECT query_id, neighbor_id FROM tr WHERE rank <= 3),
       |vp AS (SELECT vec_id, ${sqlRpProject("e", RpDims)} AS y FROM v0),
       |qp AS (SELECT vec_id AS query_id, y AS qy FROM vp WHERE vec_id < 10),
       |ps AS (
       |  SELECT query_id, vp.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(qy, vp.y), 4) AS cos
       |  FROM qp, vp WHERE vp.vec_id != query_id),
       |pr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY cos DESC, neighbor_id) AS rank FROM ps),
       |approx AS (SELECT query_id, neighbor_id FROM pr WHERE rank <= 3)
       |SELECT t.query_id, count(a.neighbor_id) AS n_hits,
       |  round(count(a.neighbor_id) / 3.0, 4) AS recall_at_k
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** JL distance-distortion audit (`vec_rp_distortion`) — the measurement
    * the Johnson–Lindenstrauss lemma actually promises, published beside
    * [[annRpRecall]]'s honest price tag: over all pairs among the first
    * 100 vectors (4 950 pairs — an O(1) eval at any corpus size), the
    * squared-distance ratio ‖Pa−Pb‖²/((r/3)·‖a−b‖²) in basis points
    * (E[w²] = 1/3 for the uniform[−1,1] weight stream, so the expected
    * ratio is exactly 1). JL says this concentrates near 10 000 bp with
    * spread ~1/√r — and it does, even while top-k RANK on isotropic noise
    * (cosine gaps ~1e-3, far inside the distortion band) does not survive:
    * the pair of rows is the eval a pipeline reads before deciding whether
    * the 4× cheaper projected scan answers its question (distance
    * thresholding: yes; hairline ranking: no). Per-pair doubles are
    * identical-order folds on both engines; the floor lands on identical
    * bits. Zero-distance (duplicate-embedding) pairs are excluded on both
    * engines: the ratio is undefined there and the engines' NaN casting
    * conventions differ (Spark → 0L, DuckDB → error). */
  def vecRpDistortion(spark: SparkSession, d: String, nVecs: Int = 100,
      r: Int = RpDims): DataFrame = {
    val v = normed(spark, d).filter(col("vec_id") < nVecs)
      .select(col("vec_id"), col("e"), rpProject(col("e"), r).as("y"))
    val a = v.select(col("vec_id").as("a_id"), col("e").as("ae"), col("y").as("ay"))
    val b = v.select(col("vec_id").as("b_id"), col("e").as("be"), col("y").as("by"))
    def d2(x: Column, z: Column): Column =
      aggregate(sequence(lit(0), size(x) - 1), lit(0.0), (acc, j) =>
        acc + (element_at(x, j + 1) - element_at(z, j + 1)) *
          (element_at(x, j + 1) - element_at(z, j + 1)))
    // duplicate embeddings give d2=0 → NaN/Inf ratios, which Spark casts to
    // 0L while DuckDB ERRORS casting floor(NaN) — zero-distance pairs carry
    // no distortion signal, so both engines exclude them
    a.join(broadcast(b), col("a_id") < col("b_id"))
      .select(d2(col("ay"), col("by")).as("d2p"), d2(col("ae"), col("be")).as("d2f"))
      .filter(col("d2f") > 0)
      .select(floor(col("d2p") * lit(30000.0) /
        (lit(r) * col("d2f"))).cast("long").as("bp"))
      .groupBy()
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(bp) div count(1)").as("mean_ratio_bp"),
        min(col("bp")).as("min_ratio_bp"),
        max(col("bp")).as("max_ratio_bp"),
        sum(when(col("bp").between(8000, 12000), 1L).otherwise(0L))
          .as("n_within_20pct"))
  }

  val vecRpDistortionOracle: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
       |  WHERE vec_id < 100),
       |p AS (SELECT vec_id, e, ${sqlRpProject("e", RpDims)} AS y FROM v),
       |pr AS (
       |  SELECT
       |    list_sum(list_transform(range(0, len(a.e)), j ->
       |      (a.e[j+1] - b.e[j+1]) * (a.e[j+1] - b.e[j+1]))) AS d2f,
       |    list_sum(list_transform(range(0, len(a.y)), j ->
       |      (a.y[j+1] - b.y[j+1]) * (a.y[j+1] - b.y[j+1]))) AS d2p
       |  FROM p a JOIN p b ON a.vec_id < b.vec_id),
       |r AS (SELECT cast(floor(d2p * 30000.0 / ($RpDims * d2f)) AS bigint)
       |        AS bp FROM pr WHERE d2f > 0)
       |SELECT count(*) AS n_pairs,
       |  cast(sum(bp) // count(*) AS bigint) AS mean_ratio_bp,
       |  min(bp) AS min_ratio_bp, max(bp) AS max_ratio_bp,
       |  cast(sum(CASE WHEN bp BETWEEN 8000 AND 12000 THEN 1 ELSE 0 END)
       |    AS bigint) AS n_within_20pct
       |FROM r""".stripMargin

  val annRecallOracle: String =
    s"""WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM v0 WHERE vec_id < 10),
       |ts AS (
       |  SELECT query_id, v0.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(qe, v0.e), 4) AS cos
       |  FROM q, v0 WHERE v0.vec_id != query_id),
       |tr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY cos DESC, neighbor_id) AS rank FROM ts),
       |truth AS (SELECT query_id, neighbor_id FROM tr WHERE rank <= 3),
       |vl AS (SELECT vec_id, e, ${sqlLshBucket("e", 16)} AS bucket FROM v0),
       |ql AS (SELECT vec_id AS query_id, e AS qe, bucket FROM vl WHERE vec_id < 10),
       |ls AS (
       |  SELECT query_id, vl.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(qe, vl.e), 4) AS cos
       |  FROM ql JOIN vl ON ql.bucket = vl.bucket AND vl.vec_id != query_id),
       |lr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY cos DESC, neighbor_id) AS rank FROM ls),
       |approx AS (SELECT query_id, neighbor_id FROM lr WHERE rank <= 3)
       |SELECT t.query_id, count(a.neighbor_id) AS n_hits,
       |  round(count(a.neighbor_id) / 3.0, 4) AS recall_at_k
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Recall@k of the IVF index vs brute-force ground truth, at nprobe=1
    * and nprobe=2 side by side — the eval that justifies the probe knob
    * with a number (recall_probe2 ≥ recall_ivf for every query, equality
    * only when the single cell already held all true neighbors). Composes
    * [[bruteforceTopK]], [[ivfTopK]], [[ivfProbeTopK]]; hits counted with
    * left joins against the truth set (each at most one match per pair, no
    * fan-out). */
  def ivfRecall(spark: SparkSession, d: String, nQueries: Int = 10, k: Int = 3,
      truthSample: Int = 1): DataFrame = {
    val truth = bruteforceTopK(spark, d, nQueries, k, truthSample)
      .select(col("query_id"), col("neighbor_id"))
    val a1 = ivfTopK(spark, d, nQueries, k, sampleMod = truthSample)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("h1"))
    val a2 = ivfProbeTopK(spark, d, nQueries, k, sampleMod = truthSample)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("h2"))
    truth.join(a1, Seq("query_id", "neighbor_id"), "left")
      .join(a2, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("h1")).as("n_hits_ivf"),
        round(count(col("h1")) / k.toDouble, 4).as("recall_ivf"),
        count(col("h2")).as("n_hits_probe2"),
        round(count(col("h2")) / k.toDouble, 4).as("recall_probe2"))
      .orderBy(col("query_id"))
  }

  val ivfRecallOracle: String =
    s"""WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |q0 AS (SELECT vec_id AS query_id, e AS qe FROM v0 WHERE vec_id < 10),
       |ts AS (
       |  SELECT query_id, v0.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(qe, v0.e), 4) AS cos
       |  FROM q0, v0 WHERE v0.vec_id != query_id),
       |tr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY cos DESC, neighbor_id) AS rank FROM ts),
       |truth AS (SELECT query_id, neighbor_id FROM tr WHERE rank <= 3),
       |a1 AS (SELECT query_id, neighbor_id FROM ($ivfTopKOracle) s1),
       |a2 AS (SELECT query_id, neighbor_id FROM ($ivfProbeTopKOracle) s2)
       |SELECT t.query_id,
       |  cast(count(a1.neighbor_id) AS bigint) AS n_hits_ivf,
       |  round(count(a1.neighbor_id) / 3.0, 4) AS recall_ivf,
       |  cast(count(a2.neighbor_id) AS bigint) AS n_hits_probe2,
       |  round(count(a2.neighbor_id) / 3.0, 4) AS recall_probe2
       |FROM truth t
       |LEFT JOIN a1 ON t.query_id = a1.query_id AND t.neighbor_id = a1.neighbor_id
       |LEFT JOIN a2 ON t.query_id = a2.query_id AND t.neighbor_id = a2.neighbor_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The IVF nprobe TUNING CURVE (`ann_ivf_nprobe_curve`) — recall@k
    * priced against scan cost at nprobe ∈ {1, 2, 4}, the table an ANN
    * deployment reads to pick its probe count (the family's curve
    * convention: `dedup_threshold_curve`, `vec_rp_curve`,
    * `text_bpe_curve`). The key scale property: ONE corpus pass serves
    * every probe level — each candidate row carries the probe rank `pr`
    * of the cell it was found through (a member has exactly one cell, so
    * a (query, neighbor) pair appears at most once — no dedup), and level
    * p is the pr ≤ p slice, re-ranked. A naive per-level loop would scan
    * the corpus once per level; this shape is level-count-invariant. The
    * candidate frame is localCheckpoint-pinned (read twice per level:
    * top-k + scan census). n_scanned is the EXACT candidate count the
    * level's probes touch — the cost axis of the curve (\|corpus\|·p/16
    * per query in expectation). */
  def ivfNprobeCurve(spark: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 3, nCells: Int = 16, probesMax: Int = 4): DataFrame = {
    val members = ivfAssignments(spark, d, nCells)
    val probes = normed(spark, d).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("norm").as("qnorm"))
      .join(broadcast(centroidMatrix(spark, d, nCells)))
      .select(col("query_id"), col("qe"), col("qnorm"),
        posexplode(col("cents")).as(Seq("cell", "carr")))
      .withColumn("ccos",
        round(dot(col("qe"), col("carr")) / (col("qnorm") * vecNorm(col("carr"))), 6))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cell"))))
      .filter(col("pr") <= probesMax)
      .select(col("query_id"), col("qe"), col("qnorm"),
        col("cell").cast("long").as("cell"), col("pr"))
    val cand = members.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qe"), col("e")) / (col("qnorm") * col("norm")), 4).as("cos"),
        col("pr"))
      .localCheckpoint()
    val truth = bruteforceTopK(spark, d, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    // levels never exceed probesMax: cand is filtered to pr <= probesMax,
    // so a level beyond it would silently re-report the probesMax slice
    // under a wrong nprobe label
    Seq(1, 2, probesMax).distinct.filter(_ <= probesMax).map { p =>
      val sub = cand.filter(col("pr") <= p)
      val topk = sub.transform(topK(k, col("cos").desc))
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      val scanned = sub.groupBy().agg(count(lit(1)).as("n_scanned"))
      truth.join(topk, Seq("query_id", "neighbor_id"), "left")
        .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("n_truth"))
        .select(lit(p.toLong).as("nprobe"), col("n_hits"),
          round(col("n_hits") / col("n_truth").cast("double"), 4).as("recall_at_k"))
        .crossJoin(broadcast(scanned))
    }.reduce(_.unionAll(_)).orderBy(col("nprobe"))
  }

  val ivfNprobeCurveOracle: String = {
    val levels = Seq(1, 2, 4).map { p =>
      s"""SELECT cast($p AS bigint) AS nprobe,
         |  cast(count(tk.neighbor_id) AS bigint) AS n_hits,
         |  round(count(tk.neighbor_id) / cast(count(*) AS double), 4) AS recall_at_k,
         |  (SELECT count(*) FROM cand WHERE pr <= $p) AS n_scanned
         |FROM truth t
         |LEFT JOIN (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER
         |      (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM cand WHERE pr <= $p)
         |  WHERE rank <= 3) tk
         |  ON t.query_id = tk.query_id AND t.neighbor_id = tk.neighbor_id""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "\n")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |x AS (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS j FROM v),
       |comp AS (SELECT vec_id, j, e[j] AS val FROM x),
       |cents AS (
       |  SELECT vec_id % 16 AS cell, j, round(avg(e2[j]), 6) AS c
       |  FROM (SELECT vec_id, e AS e2, unnest(generate_series(1, len(e))) AS j
       |        FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings))
       |  GROUP BY 1, 2),
       |cnorms AS (SELECT cell, sqrt(sum(c*c)) AS cnorm FROM cents GROUP BY 1),
       |vnorms AS (SELECT vec_id, sqrt(list_dot_product(e, e)) AS norm FROM v),
       |dots AS (
       |  SELECT comp.vec_id, cents.cell, sum(val * c) AS dot
       |  FROM comp JOIN cents ON comp.j = cents.j
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT d.vec_id, d.cell,
       |    row_number() OVER (PARTITION BY d.vec_id
       |      ORDER BY round(d.dot / (vn.norm * cn.cnorm), 6) DESC, d.cell) AS arank
       |  FROM dots d JOIN cnorms cn ON d.cell = cn.cell
       |  JOIN vnorms vn ON d.vec_id = vn.vec_id),
       |assigned AS (SELECT vec_id, cell FROM ranked WHERE arank = 1),
       |members AS (
       |  SELECT v.vec_id, v.e, vn.norm, a.cell
       |  FROM v JOIN vnorms vn ON v.vec_id = vn.vec_id
       |  JOIN assigned a ON v.vec_id = a.vec_id),
       |probes AS (
       |  SELECT r.vec_id AS query_id, v.e AS qe, vn.norm AS qnorm, r.cell, r.arank AS pr
       |  FROM ranked r JOIN v ON r.vec_id = v.vec_id
       |  JOIN vnorms vn ON r.vec_id = vn.vec_id
       |  WHERE r.vec_id < 10 AND r.arank <= 4),
       |cand AS (
       |  SELECT query_id, m.vec_id AS neighbor_id,
       |    round(list_dot_product(qe, m.e) / (qnorm * m.norm), 4) AS cos, pr
       |  FROM probes p JOIN members m ON p.cell = m.cell AND m.vec_id != p.query_id),
       |ts AS (
       |  SELECT q.vec_id AS query_id, m.vec_id AS neighbor_id,
       |    round(list_dot_product(q.e, m.e) / (q.norm * m.norm), 4) AS cos
       |  FROM members q JOIN members m ON m.vec_id != q.vec_id
       |  WHERE q.vec_id < 10),
       |tr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY cos DESC, neighbor_id) AS rank FROM ts),
       |truth AS (SELECT query_id, neighbor_id FROM tr WHERE rank <= 3)
       |SELECT * FROM ($levels) ORDER BY nprobe""".stripMargin
  }

  /** The coarse-quantizer centroid matrix as a LOCAL model artifact
    * (\|cells\|×dims doubles — ~8 KiB at the defaults, size independent of
    * the corpus), for shipping into a streaming plan as a literal: the
    * k-means analogue of [[graft.operators.Dedup.bloomFilterWords]]'s
    * publish step. The `.head()` here is the documented model-artifact
    * collect (one row after the \|cells\|·dims aggregate), NOT a query
    * hot path — the consumer is
    * [[graft.streaming.StreamOps.assignCellsStream]]. */
  def centroidMatrixLocal(spark: SparkSession, d: String, nCells: Int = 16): Seq[Seq[Double]] =
    centroidMatrix(spark, d, nCells).head().getSeq[scala.collection.Seq[Double]](0)
      .map(_.toSeq).toSeq

  /** One Lloyd iteration of the IVF coarse quantizer: re-assign every
    * vector to its nearest centroid (the map-side [[ivfAssignments]]
    * argmin — zero corpus-side exchange), recompute each cell's centroid
    * from its members, and report per-cell membership plus how far the
    * centroid moved — the convergence signal a k-means loop watches. The
    * engine-level point: an ITERATIVE ML step is two corpus passes (one
    * map-side assignment + one explode/agg) with nothing quadratic; at
    * 100 TB each iteration stays a linear scan with a \|cells\|·dims
    * shuffle. Movement = L2 distance between old and new centroids on
    * round-6 components (engine-identical). */
  def kmeansStep(spark: SparkSession, d: String, nCells: Int = 16): DataFrame = {
    val assigned = ivfAssignments(spark, d, nCells)
      .select(col("vec_id"), col("e"), col("cell"))
    val newc = assigned
      .select(col("cell"), posexplode(col("e")).as(Seq("dim", "v")))
      .groupBy(col("cell"), col("dim"))
      .agg(round(avg(col("v")), 6).as("nc"))
    val oldc = Tables.embeddings(spark, d)
      .select(col("vec_id"), posexplode(vecDouble(col("embedding"))).as(Seq("dim", "v")))
      .withColumn("cell", pmod(col("vec_id"), lit(nCells.toLong)))
      .groupBy(col("cell"), col("dim"))
      .agg(round(avg(col("v")), 6).as("oc"))
    val movement = newc.join(oldc, Seq("cell", "dim"))
      .groupBy(col("cell"))
      .agg(round(sqrt(round(sum((col("nc") - col("oc")) * (col("nc") - col("oc"))), 6)), 4)
        .as("movement"))
    val members = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
    members.join(movement, "cell").orderBy(col("cell"))
  }

  val kmeansStepOracle: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |x AS (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS j FROM v),
      |comp AS (SELECT vec_id, j, e[j] AS val FROM x),
      |cents AS (
      |  SELECT vec_id % 16 AS cell, j, round(avg(e2[j]), 6) AS c
      |  FROM (SELECT vec_id, e AS e2, unnest(generate_series(1, len(e))) AS j
      |        FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings))
      |  GROUP BY 1, 2),
      |cnorms AS (SELECT cell, sqrt(sum(c*c)) AS cnorm FROM cents GROUP BY 1),
      |vnorms AS (SELECT vec_id, sqrt(list_dot_product(e, e)) AS norm FROM v),
      |dots AS (
      |  SELECT comp.vec_id, cents.cell, sum(val * c) AS dot
      |  FROM comp JOIN cents ON comp.j = cents.j
      |  GROUP BY 1, 2),
      |assigned AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT d.vec_id, d.cell,
      |      row_number() OVER (PARTITION BY d.vec_id
      |        ORDER BY round(d.dot / (vn.norm * cn.cnorm), 6) DESC, d.cell) AS arank
      |    FROM dots d JOIN cnorms cn ON d.cell = cn.cell
      |    JOIN vnorms vn ON d.vec_id = vn.vec_id)
      |  WHERE arank = 1),
      |newc AS (
      |  SELECT a.cell, comp.j, round(avg(val), 6) AS nc
      |  FROM comp JOIN assigned a ON comp.vec_id = a.vec_id
      |  GROUP BY 1, 2),
      |mv AS (
      |  SELECT newc.cell,
      |    round(sqrt(round(sum((nc - c) * (nc - c)), 6)), 4) AS movement
      |  FROM newc JOIN cents ON newc.cell = cents.cell AND newc.j = cents.j
      |  GROUP BY 1),
      |mem AS (SELECT cell, count(*) AS n_members FROM assigned GROUP BY 1)
      |SELECT mem.cell, cast(n_members AS bigint) AS n_members, movement
      |FROM mem JOIN mv ON mem.cell = mv.cell ORDER BY 1""".stripMargin

  /** Per-label cohesion/drift against the GLOBAL embedding centroid: mean,
    * min, and max cosine of each label's vectors to the corpus centroid —
    * the embedding-space monitor a production pipeline tracks per snapshot
    * (a label whose cohesion falls is drifting; one whose max cosine sinks
    * has no core). Per-vector cosines are map-side against the one-row
    * broadcast centroid, rounded to 6 and SCALED TO INTEGERS so the
    * per-label mean is an exact bigint sum (order-independent) with one
    * final float division — the [[graft.operators.Pipeline.mixTemperature]]
    * determinism pattern. Nothing corpus-sized shuffles: the group row
    * count is \|labels\|. */
  def drift(spark: SparkSession, d: String): DataFrame = {
    val gc = Tables.embeddings(spark, d)
      .select(posexplode(vecDouble(col("embedding"))).as(Seq("dim", "v")))
      .groupBy(col("dim")).agg(round(avg(col("v")), 6).as("c"))
      .groupBy().agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("dc"))
      .select(transform(col("dc"), x => x.getField("c")).as("gc"))
    normed(spark, d)
      .join(broadcast(gc))
      .select(col("label"),
        floor(round(dot(col("e"), col("gc")) / (col("norm") * vecNorm(col("gc"))), 6)
          * 1000000.0 + 0.5).cast("long").as("ci"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("ci")).as("sci"),
        min(col("ci")).as("minci"), max(col("ci")).as("maxci"))
      .select(col("label"), col("n_vecs"),
        round(col("sci").cast("double") / col("n_vecs") / lit(1000000.0), 6).as("avg_cos"),
        round(col("minci").cast("double") / lit(1000000.0), 6).as("min_cos"),
        round(col("maxci").cast("double") / lit(1000000.0), 6).as("max_cos"))
      .orderBy(col("label"))
  }

  val driftOracle: String =
    """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
      |x AS (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS j FROM v),
      |gc AS (SELECT j, round(avg(e[j]), 6) AS c FROM x GROUP BY 1),
      |gn AS (SELECT sqrt(sum(c*c)) AS gnorm FROM gc),
      |dots AS (
      |  SELECT x.vec_id, sum(e[j] * c) AS dot
      |  FROM x JOIN gc USING (j) GROUP BY 1),
      |vn AS (SELECT vec_id, sqrt(list_dot_product(e, e)) AS norm FROM v),
      |ci AS (
      |  SELECT v.label,
      |    cast(floor(round(dot / (norm * gnorm), 6) * 1000000 + 0.5) AS bigint) AS ci
      |  FROM dots JOIN vn USING (vec_id) JOIN v USING (vec_id), gn)
      |SELECT label, cast(count(*) AS bigint) AS n_vecs,
      |  round(cast(sum(ci) AS double) / count(*) / 1000000.0, 6) AS avg_cos,
      |  round(min(ci)::DOUBLE / 1000000.0, 6) AS min_cos,
      |  round(max(ci)::DOUBLE / 1000000.0, 6) AS max_cos
      |FROM ci GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-vector symmetric int8 quantization accounting — the storage-scale
    * step of an embedding pipeline (4× smaller than f32 before any index).
    * scale = max|x|/127; code_j = floor(x_j·127/max + 0.5) (floor-form
    * rounding: exact and engine-independent, unlike round()'s half-way
    * mode). Emits the integer code sum/min/max per vector — integer
    * aggregates are order-independent, so the oracle matches exactly where
    * a float MSE would drift on accumulation order. Pure explode +
    * aggregate: one shuffle of (vec, dim) rows, partial-agg friendly. */
  def vecQuantize(spark: SparkSession, d: String): DataFrame = {
    val comps = Tables.embeddings(spark, d)
      .select(col("vec_id"), posexplode(vecDouble(col("embedding"))).as(Seq("dim", "v")))
    val scales = comps.groupBy(col("vec_id")).agg(max(abs(col("v"))).as("m"))
      .filter(col("m") > 0)
    comps.join(scales, "vec_id")
      .select(col("vec_id"), col("m"),
        floor(col("v") * 127.0 / col("m") + 0.5).cast("long").as("code"))
      .groupBy(col("vec_id"))
      .agg(round(first(col("m")) / 127.0, 6).as("scale"),
        sum(col("code")).as("code_sum"),
        min(col("code")).as("code_min"),
        max(col("code")).as("code_max"))
      .orderBy(col("vec_id"))
  }

  val vecQuantizeOracle: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |m AS (
      |  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS m FROM v),
      |codes AS (
      |  SELECT vec_id, m,
      |    list_transform(e, x -> cast(floor(x * 127.0 / m + 0.5) AS bigint)) AS c
      |  FROM m WHERE m > 0)
      |SELECT vec_id, round(m / 127.0, 6) AS scale,
      |  cast(list_sum(c) AS bigint) AS code_sum,
      |  cast(list_min(c) AS bigint) AS code_min,
      |  cast(list_max(c) AS bigint) AS code_max
      |FROM codes ORDER BY vec_id""".stripMargin

  /** Product-quantization codebook in long format: one row per (subspace,
    * cell, subdim) centroid component. Codebooks come from deterministic
    * seed groups (vec_id mod k — one k-means init step) per subspace;
    * shuffles are proportional to m·k·(dims/m) = k·dims only. */
  private def pqCodebookLong(spark: SparkSession, d: String, m: Int, k: Int,
      dims: Int): DataFrame =
    pqCodebookLongOn(vecs(spark, d), m, k, dims)

  /** [[pqCodebookLong]] over any (vec_id, e: array&lt;double&gt;) frame. */
  private def pqCodebookLongOn(v: DataFrame, m: Int, k: Int,
      dims: Int): DataFrame = {
    val sw = dims / m
    v.select(col("vec_id"), posexplode(col("e")).as(Seq("dim", "v")))
      .withColumn("sub", expr(s"dim div $sw"))
      .withColumn("sd", pmod(col("dim"), lit(sw)))
      .withColumn("cell", pmod(col("vec_id"), lit(k.toLong)))
      .groupBy(col("sub"), col("cell"), col("sd"))
      .agg(round(avg(col("v")), 6).as("c"))
  }

  /** One-row DataFrame carrying the product-quantization codebook as an
    * ordered `array<array<array<double>>>` (subspace → cell → subdim).
    * Takes the LONG-format codebook so callers needing both forms (ADC
    * search) build the corpus-sized aggregate once — sharing the lineage
    * lets Spark reuse the exchange instead of re-scanning the corpus. */
  private def pqCodebook(cbLong: DataFrame): DataFrame = {
    cbLong
      .groupBy(col("sub"), col("cell"))
      .agg(array_sort(collect_list(struct(col("sd"), col("c")))).as("dc"))
      .select(col("sub"), col("cell"), transform(col("dc"), x => x.getField("c")).as("carr"))
      .groupBy(col("sub"))
      .agg(array_sort(collect_list(struct(col("cell"), col("carr")))).as("cc"))
      .select(col("sub"), transform(col("cc"), x => x.getField("carr")).as("cents"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("sub"), col("cents")))).as("sc"))
      .select(transform(col("sc"), x => x.getField("cents")).as("cb"))
  }

  /** Product quantization: split each vector into m subvectors, assign each
    * to its nearest (squared-L2, the standard codebook metric) centroid in
    * that subspace's k-entry codebook → m small integer codes per vector,
    * compressing dims×4 bytes (f32) to m·log2(k) bits before any index —
    * the memory step that makes billion-vector ANN fit RAM.
    *
    * Scale shape mirrors [[ivfAssignments]]: the full codebook rides ONE
    * broadcast row (m·k·(dims/m) = k·dims doubles) and all m assignments are
    * [[graft.functions.NearestCell]] argmins (l2 mode) on sliced subvectors
    * inside whole-stage codegen — zero exchange on the corpus side, m
    * expression calls per row, no explode. The oracle computes the same
    * argmin relationally (round-6 squared distances, ties to lower cell). */
  def vecPq(spark: SparkSession, d: String, m: Int = 4, k: Int = 16,
      dims: Int = 64): DataFrame =
    pqCodes(spark, d, m, dims, pqCodebookLong(spark, d, m, k, dims))
      .orderBy(col("vec_id"))

  /** Every vector's m PQ codes (vec_id, code_0..code_{m-1}) — the compact
    * corpus representation [[pqSearchTopK]] searches over. Shared by
    * [[vecPq]]; codes are map-side [[graft.functions.NearestCell]] argmins
    * against the one-row broadcast codebook — zero corpus-side exchange. */
  private def pqCodes(spark: SparkSession, d: String, m: Int,
      dims: Int, cbLong: DataFrame): DataFrame = {
    val sw = dims / m
    val base = vecs(spark, d)
      .join(broadcast(pqCodebook(cbLong)))
    val coded = (0 until m).foldLeft(base) { (df, s) =>
      df.withColumn(s"code_$s",
        nearestCellL2(slice(col("e"), s * sw + 1, sw), element_at(col("cb"), s + 1)))
    }
    coded.select(col("vec_id") +: (0 until m).map(s => col(s"code_$s")): _*)
  }

  val vecPqOracle: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |x AS (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS j FROM v),
      |comp AS (
      |  SELECT vec_id, (j-1) // 16 AS sub, (j-1) % 16 AS sd, e[j] AS val FROM x),
      |cents AS (
      |  SELECT sub, vec_id % 16 AS cell, sd, round(avg(val), 6) AS c
      |  FROM comp GROUP BY 1, 2, 3),
      |dists AS (
      |  SELECT comp.vec_id, comp.sub, cents.cell,
      |    round(sum((val - c) * (val - c)), 6) AS d2
      |  FROM comp JOIN cents ON comp.sub = cents.sub AND comp.sd = cents.sd
      |  GROUP BY 1, 2, 3),
      |assigned AS (
      |  SELECT vec_id, sub, cell FROM (
      |    SELECT vec_id, sub, cell,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cell) AS r
      |    FROM dists) WHERE r = 1)
      |SELECT vec_id,
      |  max(CASE WHEN sub = 0 THEN cell END) AS code_0,
      |  max(CASE WHEN sub = 1 THEN cell END) AS code_1,
      |  max(CASE WHEN sub = 2 THEN cell END) AS code_2,
      |  max(CASE WHEN sub = 3 THEN cell END) AS code_3
      |FROM assigned GROUP BY 1 ORDER BY 1""".stripMargin

  /** ANN search over PQ codes via asymmetric distance computation (ADC) —
    * the query path that makes [[vecPq]]'s compression an index: each
    * query precomputes an m×k table of squared distances from its
    * subvectors to every codebook cell, and a vector's approximate
    * distance is the sum of m table lookups on its codes — the corpus's
    * raw floats are never touched at search time.
    *
    * Scale shape: the per-query tables collapse to nQueries broadcast rows
    * (m·k doubles each, built relationally with shuffles proportional to
    * nQueries·dims·k — query-sized, not corpus-sized); the corpus side
    * carries only the m small codes per vector, scores each candidate with
    * m `element_at` lookups inside whole-stage codegen, and the only
    * corpus-sized movement is the final per-query top-k (rank ≤ k →
    * WindowGroupLimit prunes per partition before the shuffle). At 100 TB
    * the search reads m bytes per vector instead of dims·4 — the ~64×
    * scan reduction that makes billion-vector sweeps interactive.
    *
    * Determinism: sub-distances are round-6 (matching the codebook's
    * round-6 centroids and [[vecPq]]'s argmin convention) and the m-term
    * total is summed in fixed subspace order — the oracle writes the same
    * left-associative chain, so adist matches bit-for-bit. */
  /** Per-query ADC distance tables as one row per query: `tab[sub][cell]`
    * = round-6 squared distance from the query's subvector to that
    * codebook cell. Query-sized shuffles only. Shared by [[pqSearchTopK]]
    * and [[ivfPqSearchTopK]]. */
  private def pqDistTables(spark: SparkSession, d: String, nQueries: Int,
      sw: Int, cbLong: DataFrame): DataFrame =
    pqDistTablesOn(Tables.embeddings(spark, d)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), vecDouble(col("embedding")).as("e")),
      sw, cbLong)

  /** [[pqDistTables]] over any (query_id, e: array&lt;double&gt;) frame — the
    * MIPS path builds its tables from ZERO-augmented query vectors. */
  private def pqDistTablesOn(q: DataFrame, sw: Int, cbLong: DataFrame): DataFrame = {
    val qcomp = q
      .select(col("query_id"), posexplode(col("e")).as(Seq("dim", "v")))
      .withColumn("sub", expr(s"dim div $sw"))
      .withColumn("sd", pmod(col("dim"), lit(sw)))
    qcomp
      .join(cbLong, Seq("sub", "sd"))
      .select(col("query_id"), col("sub"), col("cell"),
        ((col("v") - col("c")) * (col("v") - col("c"))).as("sq"))
      .groupBy(col("query_id"), col("sub"), col("cell"))
      .agg(round(sum(col("sq")), 6).as("d2"))
      .groupBy(col("query_id"), col("sub"))
      .agg(array_sort(collect_list(struct(col("cell"), col("d2")))).as("cd"))
      .select(col("query_id"), col("sub"),
        transform(col("cd"), x => x.getField("d2")).as("darr"))
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("darr")))).as("sd2"))
      .select(col("query_id"), transform(col("sd2"), x => x.getField("darr")).as("tab"))
  }

  /** Exact-integer m-term ADC total: each round-6 sub-distance scales to a
    * micro count (bigint) before summation, so the total involves no float
    * accumulation and no round boundary for the engines to disagree on
    * (SURVEY §6 rule — the float round-4 form flipped a row by exactly
    * 1e-4 once the candidate set changed). */
  private def adistMicroExpr(m: Int): Column = (0 until m)
    .map(s => round(element_at(element_at(col("tab"), s + 1),
      col(s"code_$s").cast("int") + 1) * lit(1000000.0)).cast("long"))
    .reduce(_ + _)

  def pqSearchTopK(spark: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 5, m: Int = 4, kCells: Int = 16, dims: Int = 64,
      sampleMod: Int = 1): DataFrame = {
    val sw = dims / m
    // ONE long-format codebook val feeds both the code assignment and the
    // distance tables — same lineage → the corpus-sized aggregate's
    // exchange is reused, not recomputed
    val cbLong = pqCodebookLong(spark, d, m, kCells, dims)
    val codes = pqCodes(spark, d, m, dims, cbLong)
    val dt = pqDistTables(spark, d, nQueries, sw, cbLong)
    corpusSample(codes, nQueries, sampleMod)
      .join(broadcast(dt), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adistMicroExpr(m).as("adist_micro"))
      .transform(topK(k, col("adist_micro")))
      .orderBy(col("query_id"), col("rank"))
  }

  /** [[pqSearchTopKOracle]] with a caller-chosen top-k — the k=5 instance
    * is the oracle row; [[refineTopKOracle]] nests the k=25 instance as
    * its shortlist stage. */
  def pqSearchTopKOracleK(k: Int): String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |x AS (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS j FROM v),
      |comp AS (
      |  SELECT vec_id, (j-1) // 16 AS sub, (j-1) % 16 AS sd, e[j] AS val FROM x),
      |cents AS (
      |  SELECT sub, vec_id % 16 AS cell, sd, round(avg(val), 6) AS c
      |  FROM comp GROUP BY 1, 2, 3),
      |dists AS (
      |  SELECT comp.vec_id, comp.sub, cents.cell,
      |    round(sum((val - c) * (val - c)), 6) AS d2
      |  FROM comp JOIN cents ON comp.sub = cents.sub AND comp.sd = cents.sd
      |  GROUP BY 1, 2, 3),
      |codes AS (
      |  SELECT vec_id, sub, cell FROM (
      |    SELECT vec_id, sub, cell,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cell) AS r
      |    FROM dists) WHERE r = 1),
      |qdt AS (
      |  SELECT vec_id AS query_id, sub, cell, d2 FROM dists WHERE vec_id < 10),
      |persub AS (
      |  SELECT q.query_id, c.vec_id AS neighbor_id, c.sub,
      |    cast(round(q.d2 * 1000000) AS bigint) AS d2u
      |  FROM codes c JOIN qdt q ON c.sub = q.sub AND c.cell = q.cell
      |  WHERE c.vec_id != q.query_id),
      |tot AS (
      |  SELECT query_id, neighbor_id,
      |    (((max(CASE WHEN sub = 0 THEN d2u END)
      |      + max(CASE WHEN sub = 1 THEN d2u END))
      |      + max(CASE WHEN sub = 2 THEN d2u END))
      |      + max(CASE WHEN sub = 3 THEN d2u END)) AS adist_micro
      |  FROM persub GROUP BY 1, 2),
      |r AS (SELECT *, cast(row_number() OVER
      |  (PARTITION BY query_id ORDER BY adist_micro, neighbor_id) AS int) AS rank
      |  FROM tot)
      |SELECT query_id, neighbor_id, adist_micro, rank FROM r
      |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  val pqSearchTopKOracle: String = pqSearchTopKOracleK(5)

  /** Two-stage refine search (`ann_refine`): the FAISS `IndexRefineFlat`
    * shape — the PQ/ADC index shortlists R=25 candidates per query from
    * compressed codes (never touching raw floats), then ONLY those
    * |queries|×R rows join back to the stored vectors for an exact-cosine
    * re-rank to top-k. This is how a production ANN serves high recall at
    * 100 TB: the corpus-wide scan reads m code bytes per vector, and the
    * expensive exact distances touch 25 vectors per query regardless of
    * corpus size (the re-rank join keys on candidate vec_ids; the query
    * side broadcasts). Exact stage stays in the shortlist's OWN metric —
    * squared L2 via the dot-product identity, [[pqRecall]]'s round-4
    * truth convention — so refinement strictly corrects quantization
    * error instead of switching objectives. */
  def refineTopK(spark: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 5, shortlist: Int = 25): DataFrame = {
    val cand = pqSearchTopK(spark, d, nQueries, k = shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val v = vecs(spark, d)
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    cand
      .join(v.select(col("vec_id").as("neighbor_id"), col("e")), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), l2Sq(col("qe"), col("e")).as("d2"))
      .transform(topK(k, col("d2")))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Exact squared L2 through the dot-product identity ‖q−x‖² = q·q + x·x
    * − 2·q·x, rounded at 4 — every dot a fixed left fold in this operand
    * order, so the DuckDB twins reproduce each value (and each tie) bit for
    * bit. The metric of every L2 truth, in-cell re-rank and refine lookup. */
  private def l2Sq(qe: Column, e: Column): Column =
    round(dot(qe, qe) + dot(e, e) - lit(2.0) * dot(qe, e), 4)

  /** Per-query top-k by [[l2Sq]] (ties → lower neighbor id) over candidate
    * pairs carrying (query_id, qe, vec_id, e): (query_id, neighbor_id). */
  private def l2TopK(pairs: DataFrame, k: Int): DataFrame =
    pairs.select(col("query_id"), col("vec_id").as("neighbor_id"),
        l2Sq(col("qe"), col("e")).as("d2"))
      .transform(topK(k, col("d2")))
      .select(col("query_id"), col("neighbor_id"))

  /** Exact squared-L2 ground truth: [[l2TopK]] over every (query, corpus
    * vector) pair of the `truthSample` sub-corpus, queries broadcast. */
  private def l2Truth(spark: SparkSession, d: String, nQueries: Int, k: Int,
      truthSample: Int): DataFrame = {
    val v = vecs(spark, d)
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    l2TopK(corpusSample(v, nQueries, truthSample)
      .join(broadcast(q), col("vec_id") =!= col("query_id")), k)
  }

  def refineTopKOracle: String =
    s"""WITH sl AS (
       |  SELECT query_id, neighbor_id FROM (${pqSearchTopKOracleK(25)}) s),
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |rr AS (
       |  SELECT sl.query_id, sl.neighbor_id,
       |    round(list_dot_product(qv.e, qv.e) + list_dot_product(nv.e, nv.e)
       |      - 2 * list_dot_product(qv.e, nv.e), 4) AS d2
       |  FROM sl JOIN v qv ON qv.vec_id = sl.query_id
       |          JOIN v nv ON nv.vec_id = sl.neighbor_id),
       |r AS (SELECT *, cast(row_number() OVER
       |  (PARTITION BY query_id ORDER BY d2, neighbor_id) AS int) AS rank
       |  FROM rr)
       |SELECT query_id, neighbor_id, d2, rank FROM r
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Embedding-norm audit (`vec_norm_audit`): per label, the L2-norm
    * distribution of the stored vectors — n, mean/min/max norm and a
    * near-zero count. The health check an embedding pipeline runs before
    * any ANN build: collapsed vectors (norm ≈ 0) poison cosine math, and
    * a label whose norm band drifts from the rest signals a bad encoder
    * batch (`vec_drift` tracks the centroid side of the same failure).
    * One linear pass, \|labels\|-row partial agg. */
  def normAudit(spark: SparkSession, d: String): DataFrame =
    Tables.embeddings(spark, d)
      .select(col("label"), vecNorm(vecDouble(col("embedding"))).as("norm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("norm")), 4).as("avg_norm"),
        round(min(col("norm")), 4).as("min_norm"),
        round(max(col("norm")), 4).as("max_norm"),
        sum(when(col("norm") < 1e-6, 1L).otherwise(0L)).as("n_zero"))
      .orderBy(col("label"))

  val normAuditOracle: String =
    """WITH n AS (
      |  SELECT label, sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      |  FROM embeddings)
      |SELECT label, count(*) AS n_vecs,
      |  round(avg(norm), 4) AS avg_norm,
      |  round(min(norm), 4) AS min_norm,
      |  round(max(norm), 4) AS max_norm,
      |  cast(sum(CASE WHEN norm < 1e-6 THEN 1 ELSE 0 END) AS bigint) AS n_zero
      |FROM n GROUP BY 1 ORDER BY 1""".stripMargin

  /** Matryoshka prefix-dimension recall (`ann_mrl_recall`): recall@k of
    * exact cosine search restricted to the first p dimensions of each
    * embedding (p ∈ 16, 32, 64) vs the full-dimension truth — the eval
    * behind MRL-style embeddings, where a prefix slice is a cheaper
    * drop-in vector and this table prices the quality of each truncation
    * tier (p = full dims is the 1.0 sanity row). Same round-4 cosine /
    * tiebreak conventions as [[bruteforceTopK]]; each tier is one
    * broadcast-query scan, so the whole eval is \|tiers\| linear passes
    * and the documented `truthSample` pattern applies unchanged at
    * 100 TB. */
  def mrlRecall(spark: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 5, prefixes: Seq[Int] = Seq(16, 32, 64)): DataFrame = {
    val v = Tables.embeddings(spark, d)
      .select(col("vec_id"), vecDouble(col("embedding")).as("full"))
    def topkAt(p: Int): DataFrame = {
      val vp = v.select(col("vec_id"), slice(col("full"), 1, p).as("e"))
        .withColumn("norm", vecNorm(col("e")))
      val q = vp.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("e").as("qe"), col("norm").as("qnorm"))
      vp.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(dot(col("qe"), col("e")) / (col("qnorm") * col("norm")), 4).as("cos"))
        .transform(topK(k, col("cos").desc))
        .select(lit(p.toLong).as("dims"), col("query_id"), col("neighbor_id"))
    }
    val truth = topkAt(64).select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    prefixes.map(topkAt).reduce(_ unionAll _)
      .join(truth, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("dims"), col("query_id"))
      .agg(count(col("hit")).as("n_hits"),
        round(count(col("hit")) / k.toDouble, 4).as("recall_at_k"))
      .orderBy(col("dims"), col("query_id"))
  }

  val mrlRecallOracle: String = {
    def tier(p: Int): String =
      s"""SELECT $p AS dims, query_id, v.vec_id AS neighbor_id,
         |    round(list_cosine_similarity(qe, v.e), 4) AS cos
         |  FROM (SELECT vec_id AS query_id, e AS qe FROM p$p WHERE vec_id < 10) q,
         |    p$p v WHERE v.vec_id != query_id""".stripMargin
    val slices = Seq(16, 32, 64)
      .map(p => s"p$p AS (SELECT vec_id, (embedding::DOUBLE[])[1:$p] AS e FROM embeddings)")
      .mkString(",\n")
    s"""WITH $slices,
       |scored AS (${Seq(16, 32, 64).map(tier).mkString("\nUNION ALL\n")}),
       |ranked AS (SELECT *, row_number() OVER
       |  (PARTITION BY dims, query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored),
       |topk AS (SELECT dims, query_id, neighbor_id FROM ranked WHERE rank <= 5),
       |truth AS (SELECT query_id, neighbor_id FROM topk WHERE dims = 64)
       |SELECT cast(k.dims AS bigint) AS dims, k.query_id,
       |  cast(count(t.neighbor_id) AS bigint) AS n_hits,
       |  round(count(t.neighbor_id) / 5.0, 4) AS recall_at_k
       |FROM topk k LEFT JOIN truth t
       |  ON k.query_id = t.query_id AND k.neighbor_id = t.neighbor_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** IVF-PQ: the full FAISS-style index shape — an IVF coarse quantizer
    * bounds WHICH vectors a query scores (its own cell, \|corpus\|/nCells
    * candidates) and PQ/ADC bounds WHAT is read per candidate (m code
    * bytes + m table lookups, never the raw floats). Composition of
    * [[ivfAssignments]] and [[vecPq]]'s machinery: cell AND codes are
    * computed in ONE linear corpus pass chaining the two one-row broadcast
    * codebooks (PlanSpec walks the streamed side — zero corpus exchange
    * before the final per-query top-k), so at 100 TB the scan cost is
    * m bytes × \|corpus\|/nCells per query. Same round-6/left-assoc ADC
    * conventions as [[pqSearchTopK]], so adist is oracle-exact. */
  def ivfPqSearchTopK(spark: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 5, m: Int = 4, kCells: Int = 16, dims: Int = 64,
      nCells: Int = 16, sampleMod: Int = 1): DataFrame = {
    val sw = dims / m
    val cbLong = pqCodebookLong(spark, d, m, kCells, dims)
    // one corpus pass: IVF cell (cosine argmax vs broadcast centroid
    // matrix) then m PQ codes (L2 argmins vs broadcast codebook) — chained
    // broadcasts, no corpus-side exchange
    val withCb = ivfAssignments(spark, d, nCells)
      .join(broadcast(pqCodebook(cbLong)))
    val corpus = (0 until m).foldLeft(withCb) { (df, s) =>
      df.withColumn(s"code_$s",
        nearestCellL2(slice(col("e"), s * sw + 1, sw), element_at(col("cb"), s + 1)))
    }.select(col("vec_id") +: col("cell") +: (0 until m).map(s => col(s"code_$s")): _*)
    val qcells = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("cell").as("qcell"))
    val qdt = pqDistTables(spark, d, nQueries, sw, cbLong).join(qcells, "query_id")
    corpusSample(corpus, nQueries, sampleMod).join(broadcast(qdt),
      col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adistMicroExpr(m).as("adist_micro"))
      .transform(topK(k, col("adist_micro")))
      .orderBy(col("query_id"), col("rank"))
  }

  val ivfPqSearchTopKOracle: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |x AS (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS j FROM v),
      |comp AS (
      |  SELECT vec_id, (j-1) // 16 AS sub, (j-1) % 16 AS sd, e[j] AS val FROM x),
      |cents AS (
      |  SELECT sub, vec_id % 16 AS cell, sd, round(avg(val), 6) AS c
      |  FROM comp GROUP BY 1, 2, 3),
      |dists AS (
      |  SELECT comp.vec_id, comp.sub, cents.cell,
      |    round(sum((val - c) * (val - c)), 6) AS d2
      |  FROM comp JOIN cents ON comp.sub = cents.sub AND comp.sd = cents.sd
      |  GROUP BY 1, 2, 3),
      |codes AS (
      |  SELECT vec_id, sub, cell FROM (
      |    SELECT vec_id, sub, cell,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cell) AS r
      |    FROM dists) WHERE r = 1),
      |icents AS (
      |  SELECT vec_id % 16 AS icell, j AS cj, round(avg(e[j]), 6) AS c
      |  FROM x GROUP BY 1, 2),
      |icnorms AS (SELECT icell, sqrt(sum(c*c)) AS cnorm FROM icents GROUP BY 1),
      |vnorms AS (SELECT vec_id, sqrt(list_dot_product(e, e)) AS norm FROM v),
      |idots AS (
      |  SELECT x.vec_id, icents.icell, sum(e[j] * c) AS dot
      |  FROM x JOIN icents ON x.j = icents.cj GROUP BY 1, 2),
      |iassigned AS (
      |  SELECT vec_id, icell FROM (
      |    SELECT d.vec_id, d.icell,
      |      row_number() OVER (PARTITION BY d.vec_id
      |        ORDER BY round(d.dot / (vn.norm * cn.cnorm), 6) DESC, d.icell) AS arank
      |    FROM idots d JOIN icnorms cn ON d.icell = cn.icell
      |    JOIN vnorms vn ON d.vec_id = vn.vec_id)
      |  WHERE arank = 1),
      |qdt AS (
      |  SELECT vec_id AS query_id, sub, cell, d2 FROM dists WHERE vec_id < 10),
      |persub AS (
      |  SELECT q.query_id, c.vec_id AS neighbor_id, c.sub,
      |    cast(round(q.d2 * 1000000) AS bigint) AS d2u
      |  FROM codes c
      |  JOIN iassigned ia ON ia.vec_id = c.vec_id
      |  JOIN qdt q ON c.sub = q.sub AND c.cell = q.cell
      |  JOIN iassigned qa ON qa.vec_id = q.query_id AND qa.icell = ia.icell
      |  WHERE c.vec_id != q.query_id),
      |tot AS (
      |  SELECT query_id, neighbor_id,
      |    (((max(CASE WHEN sub = 0 THEN d2u END)
      |      + max(CASE WHEN sub = 1 THEN d2u END))
      |      + max(CASE WHEN sub = 2 THEN d2u END))
      |      + max(CASE WHEN sub = 3 THEN d2u END)) AS adist_micro
      |  FROM persub GROUP BY 1, 2),
      |r AS (SELECT *, cast(row_number() OVER
      |  (PARTITION BY query_id ORDER BY adist_micro, neighbor_id) AS int) AS rank
      |  FROM tot)
      |SELECT query_id, neighbor_id, adist_micro, rank FROM r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Recall@k of the ADC/PQ search against exact squared-L2 ground truth —
    * the compression-quality eval that justifies (or vetoes) the 64× scan
    * reduction with a number, mirroring [[annRecall]]'s pattern for LSH.
    * Truth uses the dot-product identity ‖q−x‖² = q·q + x·x − 2·q·x with
    * every dot a fixed left-fold, so the oracle reproduces it exactly. */
  def pqRecall(spark: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
      truthSample: Int = 1): DataFrame =
    recallAt(l2Truth(spark, d, nQueries, k, truthSample),
      pqSearchTopK(spark, d, nQueries, k, sampleMod = truthSample), k)

  val pqRecallOracle: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
       |ts AS (
       |  SELECT query_id, v.vec_id AS neighbor_id,
       |    round(list_dot_product(qe, qe) + list_dot_product(v.e, v.e)
       |      - 2 * list_dot_product(qe, v.e), 4) AS d2
       |  FROM q, v WHERE v.vec_id != query_id),
       |tr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY d2, neighbor_id) AS rank FROM ts),
       |truth AS (SELECT query_id, neighbor_id FROM tr WHERE rank <= 5),
       |approx AS (SELECT query_id, neighbor_id FROM ($pqSearchTopKOracle) s)
       |SELECT t.query_id,
       |  cast(count(a.neighbor_id) AS bigint) AS n_hits,
       |  round(count(a.neighbor_id) / 5.0, 4) AS recall_at_k
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Recall@k of the full IVF-PQ index vs exact squared-L2 truth — the
    * eval that prices BOTH approximations at once: a missed neighbor is
    * either outside the probed cell (IVF loss, the nprobe knob) or
    * misranked by quantized distances (PQ loss, the m/k knobs). Read next
    * to [[pqRecall]] (PQ loss alone) to attribute the gap. */
  def ivfPqRecall(spark: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
      truthSample: Int = 1): DataFrame =
    recallAt(l2Truth(spark, d, nQueries, k, truthSample),
      ivfPqSearchTopK(spark, d, nQueries, k, sampleMod = truthSample), k)

  val ivfPqRecallOracle: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
       |ts AS (
       |  SELECT query_id, v.vec_id AS neighbor_id,
       |    round(list_dot_product(qe, qe) + list_dot_product(v.e, v.e)
       |      - 2 * list_dot_product(qe, v.e), 4) AS d2
       |  FROM q, v WHERE v.vec_id != query_id),
       |tr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY d2, neighbor_id) AS rank FROM ts),
       |truth AS (SELECT query_id, neighbor_id FROM tr WHERE rank <= 5),
       |approx AS (SELECT query_id, neighbor_id FROM ($ivfPqSearchTopKOracle) s)
       |SELECT t.query_id,
       |  cast(count(a.neighbor_id) AS bigint) AS n_hits,
       |  round(count(a.neighbor_id) / 5.0, 4) AS recall_at_k
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Centers chosen by [[kCenter]]. */
  val KCenterSteps = 16

  /** Farthest-first traversal (`vec_kcenter`) — Gonzalez's 2-approximation
    * to the k-center problem, the diversity-sampling primitive a curation
    * pipeline uses for prototype/exemplar selection and coreset seeding:
    * start from the minimum vec_id, then k−1 times add the vector FARTHEST
    * (squared L2) from the chosen set, publishing each round's cover
    * radius — the "how many exemplars until the corpus is covered" curve
    * (monotone non-increasing, which the spec pins; the radius at step k
    * is a 2-approx lower-bound witness for any (k−1)-center cover).
    *
    * 100 TB shape: the chosen-set state is k vectors (model-sized, rides
    * the driver exactly like the BPE best-pair reads); each round is ONE
    * map pass updating the running min-distance column against the single
    * newest center (never recomputing against all k) followed by a
    * TakeOrderedAndProject argmax — k corpus passes total, lineage pinned
    * per round. Exactness contract, stated precisely: distances are
    * IDENTICAL-ORDER list folds, so Spark and the DuckDB twin produce
    * bit-identical doubles and the raw-double argmax (vec_id tiebreak)
    * selects the same center on both engines; the micro-unit quantize
    * applies only to the PUBLISHED radius column, not the argmax ordering.
    * A different fold order would break this — the spec's monotone-radius
    * and distinct-center pins plus the oracle hash are the guards. */
  def kCenter(spark: SparkSession, d: String, k: Int = KCenterSteps): DataFrame = {
    import spark.implicits._
    kCenterChain(spark, d, k)._1
      .toDF("step", "center_id", "radius_e6").orderBy(col("step"))
  }

  /** The farthest-first loop shared by [[kCenter]] and
    * [[ivfKcenterRecall]]: (curve rows, chosen center vectors in order). */
  private def kCenterChain(spark: SparkSession, d: String,
      k: Int): (Seq[(Long, Long, Long)], Seq[Seq[Double]]) = {
    def d2(e: Column, c: Seq[Double]): Column =
      aggregate(zip_with(e, lit(c.toArray),
        (x, cc) => (x - cc) * (x - cc)), lit(0.0), (acc, x) => acc + x)
    val v = vecs(spark, d)
    val seed = v.orderBy(col("vec_id")).limit(1)
      .collect()(0)
    val out = Seq.newBuilder[(Long, Long, Long)]
    val cents = Seq.newBuilder[Seq[Double]]
    out += ((1L, seed.getLong(0), 0L))
    cents += seed.getSeq[Double](1)
    var m = v
      .withColumn("mind2", d2(col("e"), seed.getSeq[Double](1)))
      // LAZY pins (r16): each iteration's pin materializes inside its own
      // farthest-point collect — one driver job per center instead of two
      .localCheckpoint(eager = false)
    for (k2 <- 2 to k) {
      val far = m.orderBy(col("mind2").desc, col("vec_id")).limit(1).collect()(0)
      out += ((k2.toLong, far.getLong(0),
        math.floor(far.getDouble(2) * 1e6 + 0.5).toLong))
      cents += far.getSeq[Double](1)
      m = m
        .withColumn("mind2",
          least(col("mind2"), d2(col("e"), far.getSeq[Double](1))))
        .localCheckpoint(eager = false)
    }
    (out.result(), cents.result())
  }

  /** IVF recall on the k-center codebook (`ann_ivf_kcenter_recall`) — the
    * eval that prices [[kCenter]] as a coarse-quantizer INIT, read beside
    * `ann_ivf_recall` (mod-group seeds) and `ann_ivf_trained_recall`
    * (4-step Lloyd): assign the corpus to the 16 farthest-first center
    * VECTORS by squared-L2 argmin, answer queries inside their own cell,
    * measure recall@k against exact truth. Farthest-first picks hull
    * points, so on isotropic data its cells skew larger than Lloyd's —
    * whatever the number says, it is the measured answer to "is a
    * diversity init alone enough, or do I pay for Lloyd". Same shapes as
    * every IVF row: centers ride a one-row broadcast literal (they are
    * driver-collected model artifacts already), assignment is the
    * codegen'd map-side argmin, truth follows the `truthSample` contract. */
  def ivfKcenterRecall(spark: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 5, truthSample: Int = 1): DataFrame = {
    val cents = kCenterChain(spark, d, KCenterSteps)._2
    ivfL2Recall(spark, d, Tables.embeddings(spark, d).limit(1)
      .select(typedLit(cents.map(_.toSeq)).as("cents")), nQueries, k, truthSample)
  }

  /** The body [[ivfKcenterRecall]] and [[ivfTrainedRecall]] share once the
    * one-row codebook frame `cm` (column `cents`) exists: assign the corpus
    * to its squared-L2-nearest center map-side, rank each query's own cell
    * by [[l2Sq]] and count hits against the exact [[l2TopK]] over every
    * corpus vector. */
  private def ivfL2Recall(spark: SparkSession, d: String, cm: DataFrame,
      nQueries: Int, k: Int, truthSample: Int): DataFrame = {
    val v = vecs(spark, d)
    val assigned = v.join(broadcast(cm))
      .withColumn("cell", nearestCellL2(col("e"), col("cents")))
      .select(col("vec_id"), col("e"), col("cell"))
    val q = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("cell").as("qcell"))
    val approx = l2TopK(corpusSample(assigned, nQueries, truthSample)
      .join(broadcast(q), col("cell") === col("qcell") &&
        col("vec_id") =!= col("query_id")), k)
    val truth = l2TopK(corpusSample(v, nQueries, truthSample)
      .join(broadcast(q), col("vec_id") =!= col("query_id")), k)
    recallAt(truth, approx, k)
  }

  /** The farthest-first CTE chain (v, c1..cK, m1..mK, row1..rowK) shared
    * by [[kCenterOracle]] and [[ivfKcenterRecallOracle]]. */
  private def kCenterSqlPrefix(steps: Int): String = {
    val rounds = (2 to steps).map { k =>
      s"""c$k AS MATERIALIZED (
         |  SELECT vec_id, e, mind2 FROM m${k - 1}
         |  ORDER BY mind2 DESC, vec_id LIMIT 1),
         |m$k AS MATERIALIZED (
         |  SELECT m.vec_id, m.e,
         |    least(m.mind2, list_sum(list_transform(range(0, len(m.e)), j ->
         |      (m.e[j+1] - c.e[j+1]) * (m.e[j+1] - c.e[j+1])))) AS mind2
         |  FROM m${k - 1} m, c$k c),
         |row$k AS (
         |  SELECT cast($k AS bigint) AS step, vec_id AS center_id,
         |    cast(floor(mind2 * 1e6 + 0.5) AS bigint) AS radius_e6
         |  FROM c$k)""".stripMargin
    }.mkString(",\n")
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |c1 AS MATERIALIZED (
       |  SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 1),
       |row1 AS (SELECT cast(1 AS bigint) AS step, vec_id AS center_id,
       |  cast(0 AS bigint) AS radius_e6 FROM c1),
       |m1 AS MATERIALIZED (
       |  SELECT v.vec_id, v.e,
       |    list_sum(list_transform(range(0, len(v.e)), j ->
       |      (v.e[j+1] - c.e[j+1]) * (v.e[j+1] - c.e[j+1]))) AS mind2
       |  FROM v, c1 c),
       |$rounds""".stripMargin
  }

  val kCenterOracle: String = {
    val union = ("SELECT * FROM row1" +:
      (2 to KCenterSteps).map(k => s"SELECT * FROM row$k")).mkString(" UNION ALL ")
    s"""WITH ${kCenterSqlPrefix(KCenterSteps)}
       |$union ORDER BY step""".stripMargin
  }

  val ivfKcenterRecallOracle: String = {
    val centsUnion = (1 to KCenterSteps)
      .map(k => s"SELECT ${k - 1} AS cell, e FROM c$k").mkString(" UNION ALL ")
    s"""WITH ${kCenterSqlPrefix(KCenterSteps)},
       |cv AS ($centsUnion),
       |cents AS (
       |  SELECT cell, cast(j - 1 AS int) AS dim, e[j] AS c
       |  FROM (SELECT cell, e, unnest(generate_series(1, len(e))) AS j FROM cv)),
       |comp AS (
       |  SELECT vec_id, cast(j - 1 AS int) AS dim, e[j] AS x
       |  FROM (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS j FROM v)),
       |dt AS (
       |  SELECT comp.vec_id, c.cell,
       |    round(sum((comp.x - c.c) * (comp.x - c.c)), 6) AS d2
       |  FROM comp JOIN cents c ON c.dim = comp.dim
       |  GROUP BY 1, 2),
       |at AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS r
       |    FROM dt) WHERE r = 1),
       |m AS (SELECT v.vec_id, v.e, at.cell
       |  FROM v JOIN at ON at.vec_id = v.vec_id),
       |q AS (SELECT vec_id AS query_id, e AS qe, cell AS qcell
       |  FROM m WHERE vec_id < 10),
       |s AS (
       |  SELECT query_id, m.vec_id AS neighbor_id,
       |    round(list_dot_product(qe, qe) + list_dot_product(m.e, m.e)
       |      - 2 * list_dot_product(qe, m.e), 4) AS d2
       |  FROM q JOIN m ON q.qcell = m.cell AND m.vec_id != query_id),
       |approx AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY d2, neighbor_id) AS rank FROM s) WHERE rank <= 5),
       |ts AS (
       |  SELECT query_id, v.vec_id AS neighbor_id,
       |    round(list_dot_product(qe, qe) + list_dot_product(v.e, v.e)
       |      - 2 * list_dot_product(qe, v.e), 4) AS d2
       |  FROM q, v WHERE v.vec_id != query_id),
       |truth AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY d2, neighbor_id) AS rank FROM ts) WHERE rank <= 5)
       |SELECT t.query_id,
       |  cast(count(a.neighbor_id) AS bigint) AS n_hits,
       |  round(count(a.neighbor_id) / 5.0, 4) AS recall_at_k
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Lloyd steps for [[kmeansTrain]] — fixed so both engines replay the
    * identical training run (the convergence STOP is a spec-level hook;
    * the oracle row runs the full budget, and a converged run's trailing
    * steps are no-ops with n_changed = 0, so fixed-vs-stopped results
    * agree wherever both emit). */
  val KmeansTrainSteps = 4

  /** k-means to (near-)convergence (`vec_kmeans_train`) —
    * [[kmeansStep]]'s one Lloyd iteration driven [[KmeansTrainSteps]]
    * times from the driver, publishing the per-step convergence curve:
    * vectors that changed cell and the total inertia Σ‖x − c(x)‖² (in
    * micro units — per-vector squared distances round at 6 digits BEFORE
    * the corpus sum, so the bigint total is engine-exact). Assignment is
    * squared-L2 argmin (the [[vecPq]] codebook convention — textbook
    * Lloyd, whose inertia is provably non-increasing, which the spec
    * pins), seeded from the vec_id-mod groups every IVF build here uses.
    *
    * 100 TB shape: each step is one map-side assignment against the
    * one-row broadcast centroid matrix plus one \|cells\|·dims shuffle
    * for the update; the assigned frame is pinned per step because three
    * consumers read it (inertia, churn, update — at cluster scale the
    * same pin is persist()); centroid state stays a \|cells\|·dims long
    * frame with lineage truncated per step, so N steps never deepen a
    * plan. Empty cells keep their previous centroid (the standard Lloyd
    * fallback), relationally a left-join coalesce. */
  def kmeansTrain(spark: SparkSession, d: String, nCells: Int = 16,
      steps: Int = KmeansTrainSteps): DataFrame =
    kmeansChain(spark, d, nCells, steps)._1

  /** Final trained centroids after [[KmeansTrainSteps]] Lloyd steps
    * (`vec_kmeans_centroids`) — the codebook the curve row trains, in the
    * (cell, dim, c) long form [[centroids]] publishes. Feeding THIS into
    * the IVF/PQ/semantic builds is the point of training. */
  def kmeansCentroids(spark: SparkSession, d: String, nCells: Int = 16,
      steps: Int = KmeansTrainSteps): DataFrame =
    kmeansChain(spark, d, nCells, steps)._2.orderBy(col("cell"), col("dim"))

  /** The shared Lloyd chain: per-step (step, n_changed, inertia_micro)
    * curve plus the final long-form centroids. `stopWhenStable` is the
    * spec hook for the convergence stop (n_changed == 0 ends the loop);
    * the oracle rows run the fixed budget. */
  private[graft] def kmeansChain(spark: SparkSession, d: String, nCells: Int,
      steps: Int, stopWhenStable: Boolean = false): (DataFrame, DataFrame) = {
    import spark.implicits._
    val v = vecs(spark, d)
    var centsLong = v
      .select(col("vec_id"), posexplode(col("e")).as(Seq("dim", "x")))
      .withColumn("cell", pmod(col("vec_id"), lit(nCells.toLong)).cast("int"))
      .groupBy(col("cell"), col("dim"))
      .agg(round(avg(col("x")), 6).as("c"))
      .localCheckpoint()
    var prevAssign = v.select(col("vec_id"),
      pmod(col("vec_id"), lit(nCells.toLong)).cast("int").as("cell"))
    val curve = Seq.newBuilder[(Long, Long, Long)]
    var k = 1
    var stable = false
    while (k <= steps && !(stopWhenStable && stable)) {
      val cm = cellMatrix(centsLong)
      // three consumers (inertia, churn, update) read one assignment pass
      val assigned = v.join(broadcast(cm))
        .withColumn("cell", nearestCellL2(col("e"), col("cents")))
        .select(col("vec_id"), col("e"), col("cell"),
          // per-vector d2 rounds at 6 BEFORE the corpus sum (micro bigint)
          round(aggregate(
            zip_with(col("e"),
              element_at(col("cents"), (col("cell") + 1).cast("int")),
              (x, c) => (x - c) * (x - c)),
            lit(0.0), (acc, x) => acc + x), 6).as("d2"))
        // LAZY pin (r16): materializes inside the stats collect below —
        // one driver job per Lloyd step instead of three (assign pin,
        // stats read, centroid re-pin)
        .localCheckpoint(eager = false)
      // ONE driver read per step for both curve stats (r15): the 1:1 join
      // with the previous assignment preserves every row, so the inertia
      // sum is unchanged and the churn count rides the same job
      val statsRow = assigned.as("a")
        .join(prevAssign.as("p"), "vec_id")
        .agg(
          coalesce(sum(round(col("d2") * 1000000.0).cast("long")), lit(0L))
            .as("inertia"),
          coalesce(sum(when(col("a.cell") =!= col("p.cell"), 1L)
            .otherwise(0L)), lit(0L)).as("nch"))
        .collect()(0)
      val inertia = statsRow.getLong(0)
      val nChanged = statsRow.getLong(1)
      val newc = assigned
        .select(col("cell"), posexplode(col("e")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(round(avg(col("x")), 6).as("nc"))
      centsLong = centsLong.join(newc, Seq("cell", "dim"), "left")
        .select(col("cell"), col("dim"), coalesce(col("nc"), col("c")).as("c"))
        .localCheckpoint(eager = false) // materializes in the next cm build
      prevAssign = assigned.select(col("vec_id"), col("cell"))
      curve += ((k.toLong, nChanged, inertia))
      stable = nChanged == 0L
      k += 1
    }
    (curve.result().toDF("step", "n_changed", "inertia_micro")
      .orderBy(col("step")), centsLong)
  }

  /** IVF recall on the TRAINED codebook (`ann_ivf_trained_recall`) —
    * the composition [[kmeansTrain]] exists for: assign the corpus to the
    * 4-step Lloyd centroids ([[kmeansCentroids]]) by squared-L2 argmin
    * (the training metric), answer queries inside their own cell, and
    * measure recall@k against exact squared-L2 truth — read next to
    * `ann_ivf_recall` (seed centroids) to price what training buys the
    * coarse quantizer. Same shapes as every IVF row: the trained matrix
    * is a one-row broadcast, assignment is a codegen'd map-side argmin,
    * the corpus shuffles only at the per-query top-k; the truth side
    * follows the family's `truthSample` contract. */
  def ivfTrainedRecall(spark: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 5, nCells: Int = 16, truthSample: Int = 1): DataFrame =
    ivfL2Recall(spark, d, cellMatrix(kmeansChain(spark, d, nCells, KmeansTrainSteps)._2),
      nQueries, k, truthSample)

  val ivfTrainedRecallOracle: String =
    s"""WITH ${kmeansChainSqlPrefix(KmeansTrainSteps)},
       |dt AS (
       |  SELECT comp.vec_id, c.cell,
       |    round(sum((comp.x - c.c) * (comp.x - c.c)), 6) AS d2
       |  FROM comp JOIN cents$KmeansTrainSteps c ON c.dim = comp.dim
       |  GROUP BY 1, 2),
       |at AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS r
       |    FROM dt) WHERE r = 1),
       |m AS (SELECT v.vec_id, v.e, at.cell
       |  FROM v JOIN at ON at.vec_id = v.vec_id),
       |q AS (SELECT vec_id AS query_id, e AS qe, cell AS qcell
       |  FROM m WHERE vec_id < 10),
       |s AS (
       |  SELECT query_id, m.vec_id AS neighbor_id,
       |    round(list_dot_product(qe, qe) + list_dot_product(m.e, m.e)
       |      - 2 * list_dot_product(qe, m.e), 4) AS d2
       |  FROM q JOIN m ON q.qcell = m.cell AND m.vec_id != query_id),
       |approx AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY d2, neighbor_id) AS rank FROM s) WHERE rank <= 5),
       |ts AS (
       |  SELECT query_id, v.vec_id AS neighbor_id,
       |    round(list_dot_product(qe, qe) + list_dot_product(v.e, v.e)
       |      - 2 * list_dot_product(qe, v.e), 4) AS d2
       |  FROM q, v WHERE v.vec_id != query_id),
       |truth AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY d2, neighbor_id) AS rank FROM ts) WHERE rank <= 5)
       |SELECT t.query_id,
       |  cast(count(a.neighbor_id) AS bigint) AS n_hits,
       |  round(count(a.neighbor_id) / 5.0, 4) AS recall_at_k
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private def kmeansChainSqlPrefix(steps: Int): String = {
    val perStep = (1 to steps).map { k =>
      s"""dists$k AS (
         |  SELECT comp.vec_id, c.cell,
         |    round(sum((comp.x - c.c) * (comp.x - c.c)), 6) AS d2
         |  FROM comp JOIN cents${k - 1} c ON c.dim = comp.dim
         |  GROUP BY 1, 2),
         |a$k AS MATERIALIZED (
         |  SELECT vec_id, cell, d2 FROM (
         |    SELECT vec_id, cell, d2,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS r
         |    FROM dists$k) WHERE r = 1),
         |newc$k AS (
         |  SELECT a$k.cell, comp.dim, round(avg(comp.x), 6) AS nc
         |  FROM comp JOIN a$k ON a$k.vec_id = comp.vec_id
         |  GROUP BY 1, 2),
         |cents$k AS MATERIALIZED (
         |  SELECT p.cell, p.dim, coalesce(n.nc, p.c) AS c
         |  FROM cents${k - 1} p
         |  LEFT JOIN newc$k n ON n.cell = p.cell AND n.dim = p.dim),
         |stat$k AS (
         |  SELECT cast($k AS bigint) AS step,
         |    (SELECT count(*) FROM a$k a JOIN a${k - 1} p ON p.vec_id = a.vec_id
         |     WHERE a.cell != p.cell) AS n_changed,
         |    (SELECT cast(sum(cast(round(d2 * 1000000) AS bigint)) AS bigint)
         |     FROM a$k) AS inertia_micro)""".stripMargin
    }.mkString(",\n")
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |comp AS MATERIALIZED (
       |  SELECT vec_id, cast(j - 1 AS int) AS dim, e[j] AS x
       |  FROM (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS j FROM v)),
       |cents0 AS MATERIALIZED (
       |  SELECT cast(vec_id % 16 AS int) AS cell, dim, round(avg(x), 6) AS c
       |  FROM comp GROUP BY 1, 2),
       |a0 AS (SELECT vec_id, cast(vec_id % 16 AS int) AS cell FROM v),
       |$perStep""".stripMargin
  }

  val kmeansTrainOracle: String = {
    val union = (1 to KmeansTrainSteps)
      .map(k => s"SELECT * FROM stat$k").mkString(" UNION ALL ")
    s"""WITH ${kmeansChainSqlPrefix(KmeansTrainSteps)}
       |SELECT step, n_changed, inertia_micro FROM ($union) ORDER BY step""".stripMargin
  }

  val kmeansCentroidsOracle: String =
    s"""WITH ${kmeansChainSqlPrefix(KmeansTrainSteps)}
       |SELECT cell, dim, c FROM cents$KmeansTrainSteps ORDER BY cell, dim""".stripMargin

  /** Every vector's IVF RESIDUAL r = e − centroid(cell) alongside its cell
    * — the frame the residual-PQ family quantizes. The subtraction is a
    * map-side `zip_with` against the one-row broadcast centroid matrix
    * (the same row [[ivfAssignments]] already ships — shared lineage, one
    * build), so the corpus side stays exchange-free. */
  private def residualFrame(spark: SparkSession, d: String, nCells: Int): DataFrame =
    ivfAssignments(spark, d, nCells)
      .join(broadcast(centroidMatrix(spark, d, nCells)))
      .select(col("vec_id"), col("cell"),
        zip_with(col("e"),
          element_at(col("cents"), col("cell").cast("int") + 1),
          (a, b) => a - b).as("r"))

  /** Residual product quantization (`vec_pq_residual`) — the FAISS IVF-PQ
    * layout: [[vecPq]] quantizes RAW vectors, but the standard index
    * encodes the residual x − centroid(cell(x)), whose variance is what's
    * left AFTER the coarse quantizer explains the cell structure —
    * strictly tighter codes at the same m·log₂(k) bits
    * (reference: the encode_residual path in FAISS's IndexIVFPQ; priced
    * against the raw layout by [[ivfPqResidualRecall]] vs
    * [[ivfPqRecall]]). Same scale shape as [[vecPq]]: residuals are
    * map-side zip_with against the broadcast centroid matrix, the
    * residual codebook rides one broadcast row, and all m assignments
    * are codegen'd [[graft.functions.NearestCell]] L2 argmins — zero
    * corpus-side exchange. */
  def vecPqResidual(spark: SparkSession, d: String, m: Int = 4, k: Int = 16,
      dims: Int = 64, nCells: Int = 16): DataFrame = {
    val sw = dims / m
    val res = residualFrame(spark, d, nCells)
    val cbLong = pqCodebookLongOn(
      res.select(col("vec_id"), col("r").as("e")), m, k, dims)
    val base = res.join(broadcast(pqCodebook(cbLong)))
    val coded = (0 until m).foldLeft(base) { (df, s) =>
      df.withColumn(s"code_$s",
        nearestCellL2(slice(col("r"), s * sw + 1, sw), element_at(col("cb"), s + 1)))
    }
    coded.select(col("vec_id") +: col("cell") +:
        (0 until m).map(s => col(s"code_$s")): _*)
      .orderBy(col("vec_id"))
  }

  /** IVF-PQ search over RESIDUAL codes (`ann_ivfpq_residual`) — the exact
    * [[ivfPqSearchTopK]] plan (chained one-row broadcasts, map-side
    * assignments, corpus shuffles only at the per-query top-k) with both
    * sides in residual space: corpus codes come from [[vecPqResidual]]'s
    * codebook, and each query's ADC tables are built from ITS residual
    * against its own cell's centroid — inside one probed cell both sides
    * subtract the same centroid, so ADC distances approximate the true
    * within-cell L2 geometry. Same round-6 / integer-micro / left-assoc
    * conventions, so adist is oracle-exact. */
  def ivfPqResidualSearchTopK(spark: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 5, m: Int = 4, kCells: Int = 16, dims: Int = 64,
      nCells: Int = 16, sampleMod: Int = 1): DataFrame = {
    val sw = dims / m
    val res = residualFrame(spark, d, nCells)
    val cbLong = pqCodebookLongOn(
      res.select(col("vec_id"), col("r").as("e")), m, kCells, dims)
    val withCb = res.join(broadcast(pqCodebook(cbLong)))
    val corpus = (0 until m).foldLeft(withCb) { (df, s) =>
      df.withColumn(s"code_$s",
        nearestCellL2(slice(col("r"), s * sw + 1, sw), element_at(col("cb"), s + 1)))
    }.select(col("vec_id") +: col("cell") +: (0 until m).map(s => col(s"code_$s")): _*)
    val qres = res.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("r").as("e"))
    val qcells = res.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("cell").as("qcell"))
    val qdt = pqDistTablesOn(qres, sw, cbLong).join(qcells, "query_id")
    corpusSample(corpus, nQueries, sampleMod).join(broadcast(qdt),
      col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adistMicroExpr(m).as("adist_micro"))
      .transform(topK(k, col("adist_micro")))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Recall@k of the residual IVF-PQ index vs exact squared-L2 truth
    * (`ann_ivfpq_residual_recall`) — read next to [[ivfPqRecall]]: equal
    * m, kCells, nprobe and the same truth sample, so the delta prices the
    * residual encoding alone. */
  def ivfPqResidualRecall(spark: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 5, truthSample: Int = 1): DataFrame =
    recallAt(l2Truth(spark, d, nQueries, k, truthSample),
      ivfPqResidualSearchTopK(spark, d, nQueries, k, sampleMod = truthSample), k)

  /** Mean squared reconstruction error of the PQ coding, raw or residual —
    * the spec hook behind the residual claim: at equal m·log₂(k) bits the
    * residual codebook must reconstruct tighter than the raw one (the
    * coarse quantizer has already explained the cell structure, so the
    * codebook spends its bits on what remains). One corpus pass, codes and
    * errors both map-side against the broadcast codebook. */
  private[graft] def pqMse(spark: SparkSession, d: String, residual: Boolean,
      m: Int = 4, k: Int = 16, dims: Int = 64, nCells: Int = 16): Double = {
    val sw = dims / m
    val v =
      if (residual) residualFrame(spark, d, nCells)
        .select(col("vec_id"), col("r").as("e"))
      else Tables.embeddings(spark, d)
        .select(col("vec_id"), vecDouble(col("embedding")).as("e"))
    val cbLong = pqCodebookLongOn(v, m, k, dims)
    val base = v.join(broadcast(pqCodebook(cbLong)))
    val withCodes = (0 until m).foldLeft(base) { (df, s) =>
      df.withColumn(s"code_$s",
        nearestCellL2(slice(col("e"), s * sw + 1, sw), element_at(col("cb"), s + 1)))
    }
    val err = (0 until m).map { s =>
      aggregate(
        zip_with(slice(col("e"), s * sw + 1, sw),
          element_at(element_at(col("cb"), s + 1), col(s"code_$s").cast("int") + 1),
          (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)
    }.reduce(_ + _)
    withCodes.agg(avg(err)).collect()(0).getDouble(0)
  }

  /** The residual twin of the PQ training/assignment SQL: the shared CTE
    * prefix building residuals, the residual codebook, codes, and the IVF
    * assignment — reused by all three residual oracle strings. */
  private val residualCtePrefix: String =
    """v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |x AS (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS j FROM v),
      |icents AS (
      |  SELECT vec_id % 16 AS icell, j AS cj, round(avg(e[j]), 6) AS c
      |  FROM x GROUP BY 1, 2),
      |icnorms AS (SELECT icell, sqrt(sum(c*c)) AS cnorm FROM icents GROUP BY 1),
      |vnorms AS (SELECT vec_id, sqrt(list_dot_product(e, e)) AS norm FROM v),
      |idots AS (
      |  SELECT x.vec_id, icents.icell, sum(e[j] * c) AS dot
      |  FROM x JOIN icents ON x.j = icents.cj GROUP BY 1, 2),
      |iassigned AS (
      |  SELECT vec_id, icell FROM (
      |    SELECT d.vec_id, d.icell,
      |      row_number() OVER (PARTITION BY d.vec_id
      |        ORDER BY round(d.dot / (vn.norm * cn.cnorm), 6) DESC, d.icell) AS arank
      |    FROM idots d JOIN icnorms cn ON d.icell = cn.icell
      |    JOIN vnorms vn ON d.vec_id = vn.vec_id)
      |  WHERE arank = 1),
      |comp AS (
      |  SELECT x.vec_id, (x.j - 1) // 16 AS sub, (x.j - 1) % 16 AS sd,
      |    x.e[x.j] - ic.c AS val
      |  FROM x JOIN iassigned ia ON ia.vec_id = x.vec_id
      |         JOIN icents ic ON ic.icell = ia.icell AND ic.cj = x.j),
      |cents AS (
      |  SELECT sub, vec_id % 16 AS cell, sd, round(avg(val), 6) AS c
      |  FROM comp GROUP BY 1, 2, 3),
      |dists AS (
      |  SELECT comp.vec_id, comp.sub, cents.cell,
      |    round(sum((val - c) * (val - c)), 6) AS d2
      |  FROM comp JOIN cents ON comp.sub = cents.sub AND comp.sd = cents.sd
      |  GROUP BY 1, 2, 3),
      |codes AS (
      |  SELECT vec_id, sub, cell FROM (
      |    SELECT vec_id, sub, cell,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cell) AS r
      |    FROM dists) WHERE r = 1)""".stripMargin

  val vecPqResidualOracle: String =
    s"""WITH $residualCtePrefix
      |SELECT c.vec_id, cast(ia.icell AS int) AS cell,
      |  max(CASE WHEN sub = 0 THEN c.cell END) AS code_0,
      |  max(CASE WHEN sub = 1 THEN c.cell END) AS code_1,
      |  max(CASE WHEN sub = 2 THEN c.cell END) AS code_2,
      |  max(CASE WHEN sub = 3 THEN c.cell END) AS code_3
      |FROM codes c JOIN iassigned ia ON ia.vec_id = c.vec_id
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  val ivfPqResidualSearchTopKOracle: String =
    s"""WITH $residualCtePrefix,
      |qdt AS (
      |  SELECT vec_id AS query_id, sub, cell, d2 FROM dists WHERE vec_id < 10),
      |persub AS (
      |  SELECT q.query_id, c.vec_id AS neighbor_id, c.sub,
      |    cast(round(q.d2 * 1000000) AS bigint) AS d2u
      |  FROM codes c
      |  JOIN iassigned ia ON ia.vec_id = c.vec_id
      |  JOIN qdt q ON c.sub = q.sub AND c.cell = q.cell
      |  JOIN iassigned qa ON qa.vec_id = q.query_id AND qa.icell = ia.icell
      |  WHERE c.vec_id != q.query_id),
      |tot AS (
      |  SELECT query_id, neighbor_id,
      |    (((max(CASE WHEN sub = 0 THEN d2u END)
      |      + max(CASE WHEN sub = 1 THEN d2u END))
      |      + max(CASE WHEN sub = 2 THEN d2u END))
      |      + max(CASE WHEN sub = 3 THEN d2u END)) AS adist_micro
      |  FROM persub GROUP BY 1, 2),
      |r AS (SELECT *, cast(row_number() OVER
      |  (PARTITION BY query_id ORDER BY adist_micro, neighbor_id) AS int) AS rank
      |  FROM tot)
      |SELECT query_id, neighbor_id, adist_micro, rank FROM r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  val ivfPqResidualRecallOracle: String =
    s"""WITH vv AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |qq AS (SELECT vec_id AS query_id, e AS qe FROM vv WHERE vec_id < 10),
       |ts AS (
       |  SELECT query_id, vv.vec_id AS neighbor_id,
       |    round(list_dot_product(qe, qe) + list_dot_product(vv.e, vv.e)
       |      - 2 * list_dot_product(qe, vv.e), 4) AS d2
       |  FROM qq, vv WHERE vv.vec_id != query_id),
       |tr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY d2, neighbor_id) AS rank FROM ts),
       |truth AS (SELECT query_id, neighbor_id FROM tr WHERE rank <= 5),
       |approx AS (SELECT query_id, neighbor_id
       |  FROM ($ivfPqResidualSearchTopKOracle) s)
       |SELECT t.query_id,
       |  cast(count(a.neighbor_id) AS bigint) AS n_hits,
       |  round(count(a.neighbor_id) / 5.0, 4) AS recall_at_k
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** MIPS on the compressed index (`ann_mips_ivfpq`) — the 100 TB scale
    * path [[mipsTopK]] documents, now implemented: the classic
    * norm-augmentation reduction (Bachrach et al. 2014) appends
    * √(M²−‖x‖²) to every corpus vector (M² = max squared norm, a one-row
    * broadcast scalar) and 0 to queries, making every augmented corpus
    * norm exactly M — so argmax q·x over the corpus becomes
    * argmin ‖q̂−x̂‖² in d+1 dims, and the ENTIRE existing IVF-PQ ladder
    * applies unchanged to the augmented frame: coarse cells bound WHICH
    * vectors a query scores (\|corpus\|/nCells candidates), PQ/ADC bounds
    * WHAT is read per candidate (m code bytes + m table lookups).
    *
    * Faithful to the reduction, queries quantize in their OWN form: the
    * probe cell and the ADC tables come from the ZERO-augmented query
    * vector (a corpus-form query would smuggle its own norm back into the
    * metric). 65 = 64+1 dims split into m=5 subspaces of 13 — no padding.
    * Same one-row-broadcast / zero-corpus-exchange shape as
    * [[ivfPqSearchTopK]] (the augmentation itself is a map-side concat
    * against the broadcast M² row); same round-6 / integer-micro /
    * left-assoc ADC conventions, so adist is oracle-exact. Priced by
    * [[mipsIvfPqRecall]] against the exact [[mipsTopK]] baseline. */
  def mipsIvfPqTopK(spark: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 5, m: Int = 5, kCells: Int = 16, nCells: Int = 16,
      sampleMod: Int = 1): DataFrame = {
    val dims = 65
    val sw = dims / m
    val base = Tables.embeddings(spark, d)
      .select(col("vec_id"), vecDouble(col("embedding")).as("e0"))
    // one-row model scalar: the max squared norm that sizes the sphere
    val m2row = base.agg(max(dot(col("e0"), col("e0"))).as("m2"))
    val vaug = base.crossJoin(broadcast(m2row))
      .select(col("vec_id"), concat(col("e0"),
        array(round(sqrt(greatest(col("m2") - dot(col("e0"), col("e0")),
          lit(0.0))), 6))).as("e"))
    val qaug = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        concat(col("e0"), array(lit(0.0))).as("e"))
    val cbLong = pqCodebookLongOn(vaug, m, kCells, dims)
    val cm = centroidMatrixOn(vaug, nCells)
    // one corpus pass: IVF cell then m PQ codes, chained one-row broadcasts
    val withCb = vaug.join(broadcast(cm))
      .withColumn("cell", nearestCell(col("e"), col("cents")))
      .drop("cents")
      .join(broadcast(pqCodebook(cbLong)))
    val corpus = (0 until m).foldLeft(withCb) { (df, s) =>
      df.withColumn(s"code_$s",
        nearestCellL2(slice(col("e"), s * sw + 1, sw), element_at(col("cb"), s + 1)))
    }.select(col("vec_id") +: col("cell") +: (0 until m).map(s => col(s"code_$s")): _*)
    val qcells = qaug.join(broadcast(cm))
      .select(col("query_id"), nearestCell(col("e"), col("cents")).as("qcell"))
    val qdt = pqDistTablesOn(qaug, sw, cbLong).join(qcells, "query_id")
    corpusSample(corpus, nQueries, sampleMod).join(broadcast(qdt),
      col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adistMicroExpr(m).as("adist_micro"))
      .transform(topK(k, col("adist_micro")))
      .orderBy(col("query_id"), col("rank"))
  }

  /** [[mipsIvfPqTopKOracle]] with a caller-chosen top-k — the k=5 instance
    * is the oracle row; [[mipsRefineTopKOracle]] nests the k=25 instance
    * as its shortlist stage. */
  def mipsIvfPqTopKOracleK(k: Int): String = MipsIvfPqOracleBody
    .replace("rank <= 5 ORDER BY", s"rank <= $k ORDER BY")

  val mipsIvfPqTopKOracle: String = MipsIvfPqOracleBody

  private lazy val MipsIvfPqOracleBody: String =
    """WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |mx AS (SELECT max(list_dot_product(e, e)) AS m2 FROM v0),
      |v AS (SELECT vec_id, list_append(e,
      |        round(sqrt(greatest(mx.m2 - list_dot_product(e, e), 0)), 6)) AS e
      |      FROM v0, mx),
      |qv AS (SELECT vec_id AS query_id, list_append(e, 0.0) AS e
      |       FROM v0 WHERE vec_id < 10),
      |x AS (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS j FROM v),
      |comp AS (
      |  SELECT vec_id, (j-1) // 13 AS sub, (j-1) % 13 AS sd, e[j] AS val FROM x),
      |cents AS (
      |  SELECT sub, vec_id % 16 AS cell, sd, round(avg(val), 6) AS c
      |  FROM comp GROUP BY 1, 2, 3),
      |cdists AS (
      |  SELECT comp.vec_id, comp.sub, cents.cell,
      |    round(sum((val - c) * (val - c)), 6) AS d2
      |  FROM comp JOIN cents ON comp.sub = cents.sub AND comp.sd = cents.sd
      |  GROUP BY 1, 2, 3),
      |codes AS (
      |  SELECT vec_id, sub, cell FROM (
      |    SELECT vec_id, sub, cell,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cell) AS r
      |    FROM cdists) WHERE r = 1),
      |qx AS (SELECT query_id, e, unnest(generate_series(1, len(e))) AS j FROM qv),
      |qcomp AS (
      |  SELECT query_id, (j-1) // 13 AS sub, (j-1) % 13 AS sd, e[j] AS val FROM qx),
      |qdt AS (
      |  SELECT qcomp.query_id, qcomp.sub, cents.cell,
      |    round(sum((val - c) * (val - c)), 6) AS d2
      |  FROM qcomp JOIN cents ON qcomp.sub = cents.sub AND qcomp.sd = cents.sd
      |  GROUP BY 1, 2, 3),
      |icents AS (
      |  SELECT vec_id % 16 AS icell, j AS cj, round(avg(e[j]), 6) AS c
      |  FROM x GROUP BY 1, 2),
      |icnorms AS (SELECT icell, sqrt(sum(c*c)) AS cnorm FROM icents GROUP BY 1),
      |vnorms AS (SELECT vec_id, sqrt(list_dot_product(e, e)) AS norm FROM v),
      |idots AS (
      |  SELECT x.vec_id, icents.icell, sum(e[j] * c) AS dot
      |  FROM x JOIN icents ON x.j = icents.cj GROUP BY 1, 2),
      |iassigned AS (
      |  SELECT vec_id, icell FROM (
      |    SELECT d.vec_id, d.icell,
      |      row_number() OVER (PARTITION BY d.vec_id
      |        ORDER BY round(d.dot / (vn.norm * cn.cnorm), 6) DESC, d.icell) AS arank
      |    FROM idots d JOIN icnorms cn ON d.icell = cn.icell
      |    JOIN vnorms vn ON d.vec_id = vn.vec_id)
      |  WHERE arank = 1),
      |qnorms AS (SELECT query_id, sqrt(list_dot_product(e, e)) AS norm FROM qv),
      |qidots AS (
      |  SELECT qx.query_id, icents.icell, sum(e[j] * c) AS dot
      |  FROM qx JOIN icents ON qx.j = icents.cj GROUP BY 1, 2),
      |qassigned AS (
      |  SELECT query_id, icell FROM (
      |    SELECT d.query_id, d.icell,
      |      row_number() OVER (PARTITION BY d.query_id
      |        ORDER BY round(d.dot / (qn.norm * cn.cnorm), 6) DESC, d.icell) AS arank
      |    FROM qidots d JOIN icnorms cn ON d.icell = cn.icell
      |    JOIN qnorms qn ON d.query_id = qn.query_id)
      |  WHERE arank = 1),
      |persub AS (
      |  SELECT q.query_id, c.vec_id AS neighbor_id, c.sub,
      |    cast(round(q.d2 * 1000000) AS bigint) AS d2u
      |  FROM codes c
      |  JOIN iassigned ia ON ia.vec_id = c.vec_id
      |  JOIN qdt q ON c.sub = q.sub AND c.cell = q.cell
      |  JOIN qassigned qa ON qa.query_id = q.query_id AND qa.icell = ia.icell
      |  WHERE c.vec_id != q.query_id),
      |tot AS (
      |  SELECT query_id, neighbor_id,
      |    ((((max(CASE WHEN sub = 0 THEN d2u END)
      |      + max(CASE WHEN sub = 1 THEN d2u END))
      |      + max(CASE WHEN sub = 2 THEN d2u END))
      |      + max(CASE WHEN sub = 3 THEN d2u END))
      |      + max(CASE WHEN sub = 4 THEN d2u END)) AS adist_micro
      |  FROM persub GROUP BY 1, 2),
      |r AS (SELECT *, cast(row_number() OVER
      |  (PARTITION BY query_id ORDER BY adist_micro, neighbor_id) AS int) AS rank
      |  FROM tot)
      |SELECT query_id, neighbor_id, adist_micro, rank FROM r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Two-stage MIPS refine search (`ann_mips_refine`) — the FAISS
    * `IndexRefineFlat` shape on the MIPS ladder: the compressed augmented
    * IVF-PQ index shortlists R=25 candidates per query (never touching
    * raw floats), then ONLY those \|queries\|×R rows join back to the
    * stored vectors for an exact INNER-PRODUCT re-rank to top-k — the
    * refine stage stays in MIPS's own metric (integer-micro dots, the
    * [[mipsTopK]] convention), so it strictly corrects quantization error
    * against the estimand the recommender actually serves. At 100 TB the
    * corpus-wide scan reads m code bytes per candidate cell member and
    * the exact dots touch 25 vectors per query regardless of corpus
    * size. */
  def mipsRefineTopK(spark: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 5, shortlist: Int = 25): DataFrame = {
    val cand = mipsIvfPqTopK(spark, d, nQueries, k = shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val v = vecs(spark, d)
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    cand
      .join(v.select(col("vec_id").as("neighbor_id"), col("e")), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        floor(dot(col("qe"), col("e")) * 1e6 + lit(0.5)).cast("long").as("ip_e6"))
      .transform(topK(k, col("ip_e6").desc))
      .orderBy(col("query_id"), col("rank"))
  }

  val mipsRefineTopKOracle: String =
    s"""WITH sl AS (
       |  SELECT query_id, neighbor_id FROM (${mipsIvfPqTopKOracleK(25)}) s),
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |rr AS (
       |  SELECT sl.query_id, sl.neighbor_id,
       |    cast(floor(list_dot_product(qv.e, nv.e) * 1e6 + 0.5) AS bigint)
       |      AS ip_e6
       |  FROM sl JOIN v qv ON qv.vec_id = sl.query_id
       |          JOIN v nv ON nv.vec_id = sl.neighbor_id),
       |r AS (SELECT *, cast(row_number() OVER
       |  (PARTITION BY query_id ORDER BY ip_e6 DESC, neighbor_id) AS int) AS rank
       |  FROM rr)
       |SELECT query_id, neighbor_id, ip_e6, rank FROM r
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Recall@k of the MIPS IVF-PQ index vs the exact inner-product truth
    * ([[mipsTopK]]) — the measured eval that prices the norm-augmentation
    * reduction's BOTH losses at once (coarse-cell miss + quantized-rank
    * flip), completing the family convention: every index claim ships with
    * its recall table. Read beside [[ivfPqRecall]]: the MIPS row pays one
    * extra loss source the cosine row doesn't — the augmented dimension's
    * share of quantization error concentrates on long-vs-short-norm
    * distinctions, exactly the distinction MIPS exists to preserve. */
  def mipsIvfPqRecall(spark: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 5, truthSample: Int = 1): DataFrame =
    recallAt(mipsTopK(spark, d, nQueries, k, sampleMod = truthSample),
      mipsIvfPqTopK(spark, d, nQueries, k, sampleMod = truthSample), k)

  val mipsIvfPqRecallOracle: String =
    s"""WITH truth AS (SELECT query_id, neighbor_id FROM ($mipsTopKOracle) t),
       |approx AS (SELECT query_id, neighbor_id FROM ($mipsIvfPqTopKOracle) s)
       |SELECT t.query_id,
       |  cast(count(a.neighbor_id) AS bigint) AS n_hits,
       |  round(count(a.neighbor_id) / 5.0, 4) AS recall_at_k
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** k-NN self-join within LSH buckets: each vector's k nearest bucket
    * peers. The block is the random-hyperplane bucket, and the plane count
    * is SIZED TO THE CORPUS: p = max(6, bitlen((n−1) div 32)), i.e. the
    * smallest plane count keeping expected occupancy ≤ ~32 vectors per
    * bucket, so the per-bucket self-join stays O(32²) and total cost
    * O(n·32) — LINEAR in the corpus. A fixed p is the classic LSH scale
    * trap: per-bucket population grows with n and the self-join turns
    * quadratic (the r10 sf1.0 probe measured 41× cost at 10× vectors with
    * p frozen at 6; adaptive p returned it to ~linear). The one-number
    * corpus count that picks p is a driver-side scalar (the same plan-
    * sizing read AQE performs), mirrored exactly in the oracle via
    * greatest(6, length(bin((count(*)-1)//32))). `nPlanes > 0` overrides
    * for spec pinning.
    *
    * Adaptive planes alone cannot bound a TIGHT direction-cluster: a
    * hyperplane through the origin splits a cluster only in proportion to
    * its angular radius, so near-identical directions co-bucket at ANY
    * plane count (the r10 probe still measured 18× at 10× on rotation-
    * replicated clustered embeddings). So the same occupancy ceiling as
    * every other self-join applies: buckets holding more than `maxBucket`
    * (= [[MaxKnnBucket]]) vectors are EXCLUDED from the census — cost is
    * then Σ_{c≤B} c² ≤ B·n, linear — with the drop published by the
    * oracle-checked [[knnBucketStats]] ledger, never silent. A tight
    * c-sized cluster intrinsically costs ~c² for exact within-cluster
    * k-NN; past the ceiling that neighborhood belongs to the IVF-PQ path
    * (`ann_ivfpq`), which prices dense regions linearly. At the gate SFs
    * (sf0.01/sf0.1) no bucket exceeds the ceiling, so the cap changes
    * nothing there. */
  /** `logDropped = true` runs the [[knnBucketStats]] ledger up front and
    * WARN-logs any over-cap exclusion — for ad-hoc use where nobody reads
    * the ledger query, so a silent cap can't go unnoticed (one extra
    * |corpus|-linear aggregate; the oracle row keeps the default false,
    * where the ledger remains the audited channel). */
  def knnJoin(spark: SparkSession, d: String, k: Int = 3, nPlanes: Int = 0,
      maxBucket: Int = MaxKnnBucket, logDropped: Boolean = false): DataFrame = {
    if (logDropped) {
      val r = knnBucketStats(spark, d, nPlanes, maxBucket).collect()(0)
      val dropped = r.getAs[Long]("n_dropped_vectors")
      if (dropped > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"knnJoin: $dropped vectors in ${r.getAs[Long]("n_capped_buckets")} " +
            s"over-cap buckets (max occupancy ${r.getAs[Long]("max_occupancy")}) " +
            "excluded from the census - route dense regions through ann_ivfpq")
    }
    val planes =
      if (nPlanes > 0) nPlanes
      else {
        val n = math.max(1L, graft.Tables.embeddings(spark, d).count())
        math.max(6, java.lang.Long.toBinaryString((n - 1) / 32).length)
      }
    val v0 = normed(spark, d)
      .select(col("vec_id"), col("e"), col("norm"))
      .withColumn("bucket", lshBucketN(col("e"), planes))
    // the cap's drop accounting ALSO rides the plan itself as observed
    // metrics (CollectMetrics over the occupancy histogram the cap already
    // computes — zero extra pass): every action on this frame reports
    // graft.knn_join.drops {n_dropped_vectors, n_capped_buckets} to
    // QueryExecutionListeners, so a monitoring harness sees the drop even
    // when nobody runs the knn_bucket_stats ledger query
    val keep = v0.groupBy(col("bucket")).agg(count(lit(1)).as("c"))
      .observe("graft.knn_join.drops",
        sum(when(col("c") > maxBucket, col("c")).otherwise(0L))
          .as("n_dropped_vectors"),
        sum(when(col("c") > maxBucket, 1L).otherwise(0L)).as("n_capped_buckets"))
      .filter(col("c") <= maxBucket).select(col("bucket"))
    val v = v0.join(broadcast(keep), "bucket")
    val scored = v.as("x").join(v.as("y"),
      col("x.bucket") === col("y.bucket") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("neighbor_id"),
        round(dot(col("x.e"), col("y.e")) / (col("x.norm") * col("y.norm")), 4).as("cos"))
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(byVec))
      .filter(col("rank") <= k)
      .orderBy(col("vec_id"), col("rank"))
  }

  val knnJoinOracle: String =
    s"""WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |pl AS (SELECT greatest(6, length(bin((count(*) - 1) // 32))) AS p FROM v0),
       |vb AS (
       |  SELECT vec_id, e, ${sqlLshBucketExpr("e", "(SELECT p FROM pl)")} AS bucket
       |  FROM v0),
       |keep AS (SELECT bucket FROM vb GROUP BY 1 HAVING count(*) <= $MaxKnnBucket),
       |v AS (SELECT vb.* FROM vb JOIN keep USING (bucket)),
       |s AS (
       |  SELECT x.vec_id AS vec_id, y.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(x.e, y.e), 4) AS cos
       |  FROM v x JOIN v y ON x.bucket = y.bucket AND x.vec_id != y.vec_id),
       |r AS (SELECT *, cast(row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS int) AS rank
       |  FROM s)
       |SELECT vec_id, neighbor_id, cos, rank FROM r
       |WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin

  /** Occupancy ledger behind [[knnJoin]]'s [[MaxKnnBucket]] ceiling
    * (`knn_bucket_stats`) — one row: plane count in use, populated
    * buckets, buckets over the ceiling, vectors total / excluded, the
    * hottest occupancy, and Σc² over kept buckets (the exact pair budget
    * the capped self-join pays, provably ≤ ceiling·n). A jump in
    * n_dropped_vectors is the signal to re-route that corpus's dense
    * regions through `ann_ivfpq`. Bucket histogram is one partial agg;
    * the report is a two-row broadcast join. */
  def knnBucketStats(spark: SparkSession, d: String,
      nPlanes: Int = 0, maxBucket: Int = MaxKnnBucket): DataFrame = {
    val planes =
      if (nPlanes > 0) nPlanes
      else {
        val n = math.max(1L, graft.Tables.embeddings(spark, d).count())
        math.max(6, java.lang.Long.toBinaryString((n - 1) / 32).length)
      }
    normed(spark, d)
      .select(col("vec_id"), lshBucketN(col("e"), planes).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
      .agg(lit(planes.toLong).as("n_planes"),
        count(lit(1)).as("n_buckets"),
        sum(when(col("c") > maxBucket, 1L).otherwise(0L)).as("n_capped_buckets"),
        sum(col("c")).as("n_vectors"),
        sum(when(col("c") > maxBucket, col("c")).otherwise(0L)).as("n_dropped_vectors"),
        max(col("c")).as("max_occupancy"),
        sum(when(col("c") <= maxBucket, col("c") * col("c")).otherwise(0L)).as("kept_pair_budget"))
  }

  val knnBucketStatsOracle: String =
    s"""WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |pl AS (SELECT greatest(6, length(bin((count(*) - 1) // 32))) AS p FROM v0),
       |vb AS (
       |  SELECT vec_id, ${sqlLshBucketExpr("e", "(SELECT p FROM pl)")} AS bucket
       |  FROM v0),
       |h AS (SELECT bucket, count(*) AS c FROM vb GROUP BY 1)
       |SELECT cast((SELECT p FROM pl) AS bigint) AS n_planes,
       |  count(*) AS n_buckets,
       |  cast(sum(CASE WHEN c > $MaxKnnBucket THEN 1 ELSE 0 END) AS bigint) AS n_capped_buckets,
       |  cast(sum(c) AS bigint) AS n_vectors,
       |  cast(sum(CASE WHEN c > $MaxKnnBucket THEN c ELSE 0 END) AS bigint) AS n_dropped_vectors,
       |  max(c) AS max_occupancy,
       |  cast(sum(CASE WHEN c <= $MaxKnnBucket THEN c * c ELSE 0 END) AS bigint) AS kept_pair_budget
       |FROM h""".stripMargin

  // ---- scalar quantization (SQ8, FAISS IndexScalarQuantizer QT_8bit) ----

  /** Corpus embeddings coded to int8 against ONE trained global scale
    * (M = max |component| over the corpus — FAISS's QT_8bit trained range):
    * code_i = floor(v_i·127/M + 0.5). The scale rides a one-row broadcast
    * back onto the scan (never a collect); codes are arrays of small ints,
    * the 4-bytes-to-1 storage cut the quantizer exists for. */
  private def sq8Coded(v: DataFrame): DataFrame = {
    val mrow = v.select(posexplode(col("e")).as(Seq("i", "x")))
      .agg(max(abs(col("x"))).as("M")).filter(col("M") > 0)
    v.crossJoin(broadcast(mrow))
      .select(col("vec_id"),
        transform(col("e"), x => floor(x * lit(127.0) / col("M") + lit(0.5))
          .cast("long")).as("c"))
  }

  /** SQ8 maximum-inner-product search (`ann_sq_search`): top-k by the
    * INTEGER dot product of int8 codes — Σ cq_i·cc_i is bigint-exact, so
    * ranking is bit-reproducible cross-engine (no float re-association
    * anywhere; the float scale²/127² factor is monotone and dropped). The
    * corpus side streams once (queries broadcast, codes read 1 byte/dim at
    * scale vs 4 for raw floats); the only corpus-side shuffle is the
    * per-query top-k rank with map-side WindowGroupLimit. */
  def sqTopK(spark: SparkSession, d: String, nQueries: Int = 10, k: Int = 3,
      sampleMod: Int = 1): DataFrame = {
    val v = normed(spark, d)
    // ONE trained scale: queries are coded against the same corpus-wide M
    // as the scanned codes (they are corpus members), never their own max.
    val coded = sq8Coded(corpusSample(v, nQueries, sampleMod))
    val q = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("c").as("qc"))
    val scored = coded.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(zip_with(col("qc"), col("c"), (a, b) => a * b),
          lit(0L), (s, x) => s + x).as("idot"))
    scored.transform(topK(k, col("idot").desc))
      .orderBy(col("query_id"), col("rank"))
  }

  val sqTopKOracle: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |mm AS (
      |  SELECT max(abs(x)) AS M FROM (SELECT unnest(e) AS x FROM v)
      |  HAVING max(abs(x)) > 0),
      |coded AS (
      |  SELECT vec_id,
      |    list_transform(e, x -> cast(floor(x * 127.0 / M + 0.5) AS bigint)) AS c
      |  FROM v, mm),
      |q AS (SELECT vec_id AS query_id, c AS qc FROM coded WHERE vec_id < 10),
      |s AS (
      |  SELECT query_id, coded.vec_id AS neighbor_id,
      |    cast(list_dot_product(qc, coded.c) AS bigint) AS idot
      |  FROM q, coded WHERE coded.vec_id != query_id),
      |r AS (SELECT *, cast(row_number() OVER
      |  (PARTITION BY query_id ORDER BY idot DESC, neighbor_id) AS int) AS rank
      |  FROM s)
      |SELECT query_id, neighbor_id, idot, rank FROM r
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Exact maximum-inner-product top-k — SQ8's ground truth (SQ preserves
    * the DOT-product order, not the cosine order, so its recall eval must
    * rank truth the same way). Round-4 like the cosine baselines. */
  private def exactDotTopK(spark: SparkSession, d: String, nQueries: Int, k: Int,
      sampleMod: Int): DataFrame = {
    val v = normed(spark, d)
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val scored = corpusSample(v, nQueries, sampleMod)
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qe"), col("e")), 4).as("ip"))
    scored.transform(topK(k, col("ip").desc))
  }

  /** `ann_sq_recall`: recall@k of the integer SQ8 search vs exact
    * max-inner-product truth — prices the 4× storage cut in recall points.
    * `truthSample` is the documented sampled-ground-truth mode shared by
    * every recall eval in the family. */
  def sqRecall(spark: SparkSession, d: String, nQueries: Int = 10, k: Int = 3,
      truthSample: Int = 1): DataFrame =
    recallAt(exactDotTopK(spark, d, nQueries, k, truthSample),
      sqTopK(spark, d, nQueries, k, truthSample), k)
      .select(col("query_id"), col("recall_at_k"))

  val sqRecallOracle: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |q0 AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
      |ts AS (
      |  SELECT query_id, v.vec_id AS neighbor_id,
      |    round(list_dot_product(qe, v.e), 4) AS ip
      |  FROM q0, v WHERE v.vec_id != query_id),
      |truth AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY query_id ORDER BY ip DESC, neighbor_id) AS rank
      |    FROM ts) WHERE rank <= 3),
      |mm AS (
      |  SELECT max(abs(x)) AS M FROM (SELECT unnest(e) AS x FROM v)
      |  HAVING max(abs(x)) > 0),
      |coded AS (
      |  SELECT vec_id,
      |    list_transform(e, x -> cast(floor(x * 127.0 / M + 0.5) AS bigint)) AS c
      |  FROM v, mm),
      |qc AS (SELECT vec_id AS query_id, c AS qcodes FROM coded WHERE vec_id < 10),
      |ss AS (
      |  SELECT query_id, coded.vec_id AS neighbor_id,
      |    cast(list_dot_product(qcodes, coded.c) AS bigint) AS idot
      |  FROM qc, coded WHERE coded.vec_id != query_id),
      |approx AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY query_id ORDER BY idot DESC, neighbor_id) AS rank
      |    FROM ss) WHERE rank <= 3)
      |SELECT t.query_id, round(count(a.neighbor_id) / 3.0, 4) AS recall_at_k
      |FROM truth t LEFT JOIN approx a
      |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** One power-iteration step (`vec_power_iter`) — the dominant-direction
    * probe of the embedding covariance (anisotropy / "rogue dimension"
    * audit; two steps of the PCA everyone runs before whitening): with
    * start vector v₀ = 1⃗, compute v₁ ∝ Σᵢ eᵢ(eᵢ·v₀) in ONE linear pass.
    * Embeddings quantize to MILLI-integers first (floor(x·1000+0.5)), so
    * every product and partial sum is exact bigint — the cross-engine sum
    * re-association float risk is gone BY CONSTRUCTION, the same
    * integer-totals move as the ADC search. Per-dim output is \|dims\|
    * rows; the Rayleigh numerator Σᵢ(eᵢ·v₀)² rides every row for the
    * dominance ratio. Scale: one map + a dims-row partial agg (the
    * quadratic form never materializes). */
  def powerIter(spark: SparkSession, d: String): DataFrame = {
    val milli = Tables.embeddings(spark, d)
      .select(col("vec_id"),
        transform(vecDouble(col("embedding")),
          x => floor(x * lit(1000.0) + lit(0.5)).cast("long")).as("m"))
    val dotted = milli
      .withColumn("dv", aggregate(col("m"), lit(0L), (s, x) => s + x))
    val ray = dotted.groupBy()
      .agg(sum(col("dv") * col("dv")).as("rayleigh_num"), count(lit(1)).as("n_vecs"))
    dotted
      .select(col("dv"), posexplode(col("m")).as(Seq("dim", "mj")))
      .groupBy(col("dim"))
      .agg(sum(col("dv") * col("mj")).as("v1_milli2"))
      .crossJoin(broadcast(ray))
      .select(col("dim").cast("long").as("dim"), col("v1_milli2"),
        col("rayleigh_num"), col("n_vecs"))
      .orderBy(col("dim"))
  }

  val powerIterOracle: String =
    """WITH m AS (
      |  SELECT vec_id,
      |    list_transform(embedding::DOUBLE[],
      |      x -> cast(floor(x * 1000.0 + 0.5) AS bigint)) AS m
      |  FROM embeddings),
      |dd AS (SELECT vec_id, m, list_sum(m) AS dv FROM m),
      |ray AS (SELECT sum(dv * dv) AS rayleigh_num, count(*) AS n_vecs FROM dd),
      |ex AS (
      |  SELECT dv, unnest(m) AS mj,
      |    unnest(generate_series(0, len(m) - 1)) AS dim
      |  FROM dd)
      |SELECT cast(dim AS bigint) AS dim,
      |  cast(sum(dv * mj) AS bigint) AS v1_milli2,
      |  cast(rayleigh_num AS bigint) AS rayleigh_num, n_vecs
      |FROM ex, ray GROUP BY 1, 3, 4 ORDER BY 1""".stripMargin

  /** IVF cell-balance audit (`vec_ivf_balance`) — the "should I re-train
    * the coarse quantizer" report: per IVF cell its member count, share
    * in basis points, and the global imbalance factor max/mean (in bp)
    * repeated on every row for one-glance reading. A skewed cell defeats
    * the \|corpus\|/nCells candidate bound the IVF index exists for —
    * probes hitting the hot cell scan far more than their share, the
    * ANN-side twin of `ev_key_skew`'s join argument. Assignment is the
    * usual map-side `graft_nearest_cell` argmax (zero corpus-side
    * exchange); the audit itself is a \|cells\|-row aggregate + one-row
    * broadcast back. */
  def ivfBalance(spark: SparkSession, d: String, nCells: Int = 16): DataFrame = {
    val cells = ivfAssignments(spark, d, nCells)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
    val tot = cells.agg(sum(col("n_members")).as("total"),
      max(col("n_members")).as("max_members"), count(lit(1)).as("n_cells"))
    cells.join(broadcast(tot))
      .select(col("cell"), col("n_members"),
        expr("n_members * 10000 div total").as("share_bp"),
        expr("max_members * n_cells * 10000 div total").as("imbalance_bp"))
      .orderBy(col("cell"))
  }

  val ivfBalanceOracle: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |x AS (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS j FROM v),
      |comp AS (SELECT vec_id, j, e[j] AS val FROM x),
      |cents AS (
      |  SELECT vec_id % 16 AS cell, j, round(avg(e2[j]), 6) AS c
      |  FROM (SELECT vec_id, e AS e2, unnest(generate_series(1, len(e))) AS j
      |        FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings))
      |  GROUP BY 1, 2),
      |cnorms AS (SELECT cell, sqrt(sum(c*c)) AS cnorm FROM cents GROUP BY 1),
      |vnorms AS (SELECT vec_id, sqrt(list_dot_product(e, e)) AS norm FROM v),
      |dots AS (
      |  SELECT comp.vec_id, cents.cell, sum(val * c) AS dot
      |  FROM comp JOIN cents ON comp.j = cents.j
      |  GROUP BY 1, 2),
      |assigned AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT d.vec_id, d.cell,
      |      row_number() OVER (PARTITION BY d.vec_id
      |        ORDER BY round(d.dot / (vn.norm * cn.cnorm), 6) DESC, d.cell) AS arank
      |    FROM dots d JOIN cnorms cn ON d.cell = cn.cell
      |    JOIN vnorms vn ON d.vec_id = vn.vec_id)
      |  WHERE arank = 1),
      |cells AS (SELECT cell, count(*) AS n_members FROM assigned GROUP BY 1),
      |tot AS (SELECT sum(n_members) AS total, max(n_members) AS max_members,
      |        count(*) AS n_cells FROM cells)
      |SELECT cell, n_members,
      |  cast(n_members * 10000 // total AS bigint) AS share_bp,
      |  cast(max_members * n_cells * 10000 // total AS bigint) AS imbalance_bp
      |FROM cells, tot ORDER BY cell""".stripMargin

  /** Per-dimension variance audit (`vec_dim_variance`) — the
    * dimension-pruning advisor run before storage/index builds: per
    * embedding dimension, the mean and population variance over
    * MILLI-quantized components, ALL exact bigint via the moment identity
    * var = (n·Σx² − (Σx)²)/n² with floor division — no float
    * accumulation anywhere (the power-iteration exactness move applied to
    * second moments). A near-zero-variance dimension carries no signal
    * and is a free 1/dims storage cut; a variance outlier is a rogue
    * dimension distorting cosine similarity. One explode + \|dims\|-row
    * partial agg. */
  def dimVariance(spark: SparkSession, d: String): DataFrame =
    Tables.embeddings(spark, d)
      .select(posexplode(transform(vecDouble(col("embedding")),
        v => floor(v * 1000 + lit(0.5)))).as(Seq("dim", "m")))
      .select(col("dim").cast("long").as("dim"), col("m").cast("long").as("m"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("m")).as("s"),
        sum(col("m") * col("m")).as("s2"))
      .select(col("dim"),
        expr("s div n").as("mean_milli"),
        expr("(n * s2 - s * s) div (n * n)").as("var_milli2"))
      .orderBy(col("dim"))

  val dimVarianceOracle: String =
    """WITH comp AS (
      |  SELECT j - 1 AS dim, cast(floor(e[j] * 1000 + 0.5) AS bigint) AS m
      |  FROM (SELECT e, unnest(generate_series(1, len(e))) AS j
      |        FROM (SELECT embedding::DOUBLE[] AS e FROM embeddings))),
      |agg AS (
      |  SELECT dim, count(*) AS n, sum(m) AS s, sum(m * m) AS s2
      |  FROM comp GROUP BY 1)
      |SELECT cast(dim AS bigint) AS dim,
      |  cast(s // n AS bigint) AS mean_milli,
      |  cast((n * s2 - s * s) // (n * n) AS bigint) AS var_milli2
      |FROM agg ORDER BY 1""".stripMargin

  /** Simplified-silhouette clustering quality (`vec_silhouette`) — per
    * label the centroid-based silhouette score (Hruschka et al.'s
    * simplified silhouette: distances to CENTROIDS, not all pairs — the
    * only form that scales, O(n·k) instead of O(n²)): a = squared distance
    * to the own-label centroid, b = min squared distance to any other
    * centroid, s = (b−a)/max(a,b) in basis points. Mean/min/max s per
    * label plus the misfit count (s<0 ⇔ another centroid is closer ⇔ the
    * vector is on the wrong side of a cluster boundary) — the health
    * report a clustering/ANN pipeline reads before trusting labels as IVF
    * cells.
    *
    * Exactness: embeddings quantize to MILLI-integers, centroids are
    * integer floor-divisions, so every squared distance is an exact
    * bigint computed as dot(x,x) − 2·dot(x,c) + dot(c,c) via the native
    * codegen'd dot kernel (products stay ≪ 2^53 — exact in double, cast
    * back to long); s lands in integer basis points — bit-exact oracle.
    * Plan: the \|labels\|×dims centroid model aggregates small and
    * broadcasts back; the corpus side is ONE map pass producing
    * \|vecs\|·k distance rows that immediately partial-agg to \|vecs\|
    * then \|labels\| rows — nothing quadratic, no corpus shuffle. */
  def silhouette(spark: SparkSession, d: String): DataFrame = {
    val milli = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("label"),
        transform(vecDouble(col("embedding")), v => floor(v * 1000 + lit(0.5)))
          .cast("array<double>").as("m"))
    val cents = milli
      .select(col("label"), posexplode(col("m")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("v").cast("long")).as("s"), count(lit(1)).as("n"))
      .select(col("label").as("clabel"), col("dim"), expr("s div n").as("c"))
    val packed = cents.groupBy(col("clabel"))
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("dc"))
      .select(col("clabel"),
        transform(col("dc"), x => x.getField("c").cast("double")).as("cv"))
      .withColumn("cc", dot(col("cv"), col("cv")))
    val d2 = milli.join(broadcast(packed))
      .select(col("vec_id"), col("label"), col("clabel"),
        (dot(col("m"), col("m")) - lit(2.0) * dot(col("m"), col("cv")) + col("cc"))
          .cast("long").as("d2"))
    val ab = d2.groupBy(col("vec_id"), col("label"))
      .agg(min(when(col("clabel") === col("label"), col("d2"))).as("a2"),
        min(when(col("clabel") =!= col("label"), col("d2"))).as("b2"))
      .select(col("label"),
        expr("(b2 - a2) * 10000 div greatest(a2, b2, 1)").as("s_bp"))
    ab.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(s_bp) div count(1)").as("mean_s_bp"),
        min(col("s_bp")).as("min_s_bp"),
        max(col("s_bp")).as("max_s_bp"),
        sum(when(col("s_bp") < 0, 1L).otherwise(0L)).as("n_misfit"))
      .orderBy(col("label"))
  }

  val silhouetteOracle: String =
    """WITH v AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding::DOUBLE[],
      |      x -> cast(floor(x * 1000 + 0.5) AS bigint)) AS m
      |  FROM embeddings),
      |comp AS (
      |  SELECT vec_id, label, j, m[j] AS val
      |  FROM (SELECT vec_id, label, m,
      |          unnest(generate_series(1, len(m))) AS j FROM v)),
      |cents AS (
      |  SELECT label AS clabel, j, cast(sum(val) // count(*) AS bigint) AS c
      |  FROM comp GROUP BY 1, 2),
      |d2 AS (
      |  SELECT comp.vec_id, comp.label, cents.clabel,
      |    sum((val - c) * (val - c)) AS d2
      |  FROM comp JOIN cents ON comp.j = cents.j
      |  GROUP BY 1, 2, 3),
      |ab AS (
      |  SELECT vec_id, label,
      |    min(CASE WHEN clabel = label THEN d2 END) AS a2,
      |    min(CASE WHEN clabel <> label THEN d2 END) AS b2
      |  FROM d2 GROUP BY 1, 2),
      |s AS (SELECT label,
      |        cast((b2 - a2) * 10000 // greatest(a2, b2, 1) AS bigint) AS s_bp
      |      FROM ab)
      |SELECT label, count(*) AS n_vecs,
      |  cast(sum(s_bp) // count(*) AS bigint) AS mean_s_bp,
      |  min(s_bp) AS min_s_bp, max(s_bp) AS max_s_bp,
      |  cast(sum(CASE WHEN s_bp < 0 THEN 1 ELSE 0 END) AS bigint) AS n_misfit
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  /** IVF-PQ joint tuning grid (`ann_ivfpq_tune_grid`) — recall@k priced
    * against BOTH knobs a compressed-index deployment tunes at once:
    * nprobe (how many IVF cells a query scans → n_scanned ADC candidates)
    * × refine-R (how many ADC-ranked candidates get exact-distance
    * reranking → n_refined full-vector reads; R=0 is ADC-only). Extends
    * the [[ivfNprobeCurve]] probe-rank trick to the compressed index: ONE
    * corpus pass builds every candidate with its probe rank `pr` and
    * exact-integer ADC distance, then all 9 grid points are model-sized
    * re-ranks over the localCheckpoint-pinned candidate frame — the grid
    * is level-count-invariant in corpus passes. The exact-distance pool
    * for the refine axis is looked up from the SAME scored frame that
    * defines the ground truth, so refinement strictly corrects
    * quantization error ([[refineTopK]]'s contract). At 100 TB the truth/
    * refine scan rides the `truthSample` sampled-ground-truth convention;
    * the candidate pass is the IVF-PQ scan itself (m code bytes per
    * candidate). Output: the accuracy/cost frontier a deployment reads to
    * pick its operating point. */
  def ivfPqTuneGrid(spark: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 5, m: Int = 4, kCells: Int = 16, dims: Int = 64,
      nCells: Int = 16, probesMax: Int = 4, refineMax: Int = 25): DataFrame = {
    val sw = dims / m
    val cbLong = pqCodebookLong(spark, d, m, kCells, dims)
    val withCb = ivfAssignments(spark, d, nCells)
      .join(broadcast(pqCodebook(cbLong)))
    val members = (0 until m).foldLeft(withCb) { (df, s) =>
      df.withColumn(s"code_$s",
        nearestCellL2(slice(col("e"), s * sw + 1, sw), element_at(col("cb"), s + 1)))
    }.select(col("vec_id") +: col("cell").cast("long").as("cell") +:
      (0 until m).map(s => col(s"code_$s")): _*)
    // per-query IVF cell probe ranks (the ivfNprobeCurve convention:
    // round-6 centroid cosine, row_number tie-broken by cell)
    val probes = normed(spark, d).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("norm").as("qnorm"))
      .join(broadcast(centroidMatrix(spark, d, nCells)))
      .select(col("query_id"), col("qe"), col("qnorm"),
        posexplode(col("cents")).as(Seq("cell", "carr")))
      .withColumn("ccos",
        round(dot(col("qe"), col("carr")) / (col("qnorm") * vecNorm(col("carr"))), 6))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cell"))))
      .filter(col("pr") <= probesMax)
      .select(col("query_id"), col("cell").cast("long").as("cell"), col("pr"))
    val qdt = pqDistTables(spark, d, nQueries, sw, cbLong)
    val qside = probes.join(qdt, "query_id")
    val cand = members.join(broadcast(qside), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("pr"),
        adistMicroExpr(m).as("adist_micro"))
      .localCheckpoint()
    // exact squared-L2 scores: ONE scan serves both the ground truth and
    // the refine lookups (pqRecall's round-4 dot-identity convention)
    val v = vecs(spark, d)
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val exd = v.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        l2Sq(col("qe"), col("e")).as("d2"))
      .localCheckpoint()
    val truth = exd.transform(topK(k, col("d2")))
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    val probeLevels = Seq(1, 2, probesMax).distinct.filter(_ <= probesMax)
    val refineLevels = Seq(0, 2 * k, refineMax).distinct.filter(_ <= refineMax)
    // ONE exploded-grid pass (r16; was |grid| = 9 unioned branches — 9
    // windows, 9 truth joins, 18 broadcast exchanges, all over the same
    // model-sized pinned frames): each candidate is replicated per probe
    // level (3×, model-sized — the candidate frame is already bounded by
    // nQueries × probesMax × cell occupancy), ADC-ranked once per
    // (query, nprobe) partition, then replicated per refine level and
    // exact-ranked once per (query, nprobe, refine_r) partition. Ranking
    // keys and tie-breaks are identical to the per-branch form, so every
    // grid cell's hit set — and the output rows — are unchanged.
    val byP0 = cand.select(col("query_id"), col("neighbor_id"),
        col("adist_micro"),
        explode(array(probeLevels.map(p => lit(p.toLong)): _*)).as("nprobe"),
        col("pr"))
      .filter(col("pr") <= col("nprobe"))
    val byP = byP0.withColumn("rk", row_number().over(
      Window.partitionBy(col("query_id"), col("nprobe"))
        .orderBy(col("adist_micro"), col("neighbor_id"))))
    // r = 0 keeps the ADC top-k (hit iff rk ≤ k, nothing refined); r > 0
    // keeps the refine pool rk ≤ r and re-ranks it by exact distance
    val byPR = byP.select(col("query_id"), col("neighbor_id"), col("nprobe"),
        col("rk"),
        explode(array(refineLevels.map(r => lit(r.toLong)): _*)).as("refine_r"))
      .filter(col("rk") <=
        when(col("refine_r") === 0L, lit(k.toLong)).otherwise(col("refine_r")))
    val top = byPR.join(exd, Seq("query_id", "neighbor_id"))
      .withColumn("rr", row_number().over(
        Window.partitionBy(col("query_id"), col("nprobe"), col("refine_r"))
          .orderBy(col("d2"), col("neighbor_id"))))
      .filter(when(col("refine_r") === 0L, col("rk") <= k)
        .otherwise(col("rr") <= k))
      .select(col("query_id"), col("neighbor_id"), col("nprobe"),
        col("refine_r"))
    val scanned = byP0.groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_scanned"))
    val refined = byPR.filter(col("refine_r") > 0L)
      .groupBy(col("nprobe"), col("refine_r"))
      .agg(count(lit(1)).as("n_refined"))
    val hits = truth.join(top, Seq("query_id", "neighbor_id"))
      .groupBy(col("nprobe"), col("refine_r")).agg(count(lit(1)).as("n_hits"))
    val nTruth = truth.groupBy().agg(count(lit(1)).as("n_truth"))
    val gridDf = spark.range(1)
      .select(explode(array(probeLevels.map(p => lit(p.toLong)): _*)).as("nprobe"))
      .select(col("nprobe"),
        explode(array(refineLevels.map(r => lit(r.toLong)): _*)).as("refine_r"))
    gridDf
      .join(broadcast(scanned), Seq("nprobe"), "left")
      .join(broadcast(refined), Seq("nprobe", "refine_r"), "left")
      .join(broadcast(hits), Seq("nprobe", "refine_r"), "left")
      .crossJoin(broadcast(nTruth))
      .select(col("nprobe"), col("refine_r"),
        coalesce(col("n_scanned"), lit(0L)).as("n_scanned"),
        coalesce(col("n_refined"), lit(0L)).as("n_refined"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / col("n_truth").cast("double"), 4)
          .as("recall_at_k"))
      .orderBy(col("nprobe"), col("refine_r"))
  }

  val ivfPqTuneGridOracle: String = {
    val grid = for (p <- Seq(1, 2, 4); r <- Seq(0, 10, 25)) yield {
      val top =
        if (r == 0)
          s"""SELECT query_id, neighbor_id FROM (
             |    SELECT query_id, neighbor_id, row_number() OVER
             |      (PARTITION BY query_id ORDER BY adist_micro, neighbor_id) AS rk
             |    FROM cand WHERE pr <= $p) WHERE rk <= 5""".stripMargin
        else
          s"""SELECT query_id, neighbor_id FROM (
             |    SELECT s.query_id, s.neighbor_id, row_number() OVER
             |      (PARTITION BY s.query_id ORDER BY e.d2, s.neighbor_id) AS rr
             |    FROM (SELECT query_id, neighbor_id FROM (
             |        SELECT query_id, neighbor_id, row_number() OVER
             |          (PARTITION BY query_id ORDER BY adist_micro, neighbor_id) AS rk
             |        FROM cand WHERE pr <= $p) WHERE rk <= $r) s
             |    JOIN exd e ON e.query_id = s.query_id
             |      AND e.neighbor_id = s.neighbor_id) WHERE rr <= 5""".stripMargin
      val refined =
        if (r == 0) "cast(0 AS bigint)"
        else
          s"""(SELECT count(*) FROM (
             |    SELECT row_number() OVER
             |      (PARTITION BY query_id ORDER BY adist_micro, neighbor_id) AS rk
             |    FROM cand WHERE pr <= $p) WHERE rk <= $r)""".stripMargin
      s"""SELECT cast($p AS bigint) AS nprobe, cast($r AS bigint) AS refine_r,
         |  (SELECT count(*) FROM cand WHERE pr <= $p) AS n_scanned,
         |  $refined AS n_refined,
         |  cast(count(tk.neighbor_id) AS bigint) AS n_hits,
         |  round(count(tk.neighbor_id) / cast(count(*) AS double), 4) AS recall_at_k
         |FROM truth t
         |LEFT JOIN ($top) tk
         |  ON t.query_id = tk.query_id AND t.neighbor_id = tk.neighbor_id""".stripMargin
    }
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |x AS (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS j FROM v),
       |comp AS (
       |  SELECT vec_id, (j-1) // 16 AS sub, (j-1) % 16 AS sd, e[j] AS val FROM x),
       |cents AS (
       |  SELECT sub, vec_id % 16 AS cell, sd, round(avg(val), 6) AS c
       |  FROM comp GROUP BY 1, 2, 3),
       |dists AS (
       |  SELECT comp.vec_id, comp.sub, cents.cell,
       |    round(sum((val - c) * (val - c)), 6) AS d2
       |  FROM comp JOIN cents ON comp.sub = cents.sub AND comp.sd = cents.sd
       |  GROUP BY 1, 2, 3),
       |codes AS (
       |  SELECT vec_id, sub, cell FROM (
       |    SELECT vec_id, sub, cell,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cell) AS r
       |    FROM dists) WHERE r = 1),
       |icents AS (
       |  SELECT vec_id % 16 AS icell, j AS cj, round(avg(e[j]), 6) AS c
       |  FROM x GROUP BY 1, 2),
       |icnorms AS (SELECT icell, sqrt(sum(c*c)) AS cnorm FROM icents GROUP BY 1),
       |vnorms AS (SELECT vec_id, sqrt(list_dot_product(e, e)) AS norm FROM v),
       |idots AS (
       |  SELECT x.vec_id, icents.icell, sum(e[j] * c) AS dot
       |  FROM x JOIN icents ON x.j = icents.cj GROUP BY 1, 2),
       |iranked AS (
       |  SELECT d.vec_id, d.icell,
       |    row_number() OVER (PARTITION BY d.vec_id
       |      ORDER BY round(d.dot / (vn.norm * cn.cnorm), 6) DESC, d.icell) AS arank
       |  FROM idots d JOIN icnorms cn ON d.icell = cn.icell
       |  JOIN vnorms vn ON d.vec_id = vn.vec_id),
       |iassigned AS (SELECT vec_id, icell FROM iranked WHERE arank = 1),
       |iprobes AS (
       |  SELECT vec_id AS query_id, icell, arank AS pr FROM iranked
       |  WHERE vec_id < 10 AND arank <= 4),
       |qdt AS (
       |  SELECT vec_id AS query_id, sub, cell, d2 FROM dists WHERE vec_id < 10),
       |persub AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id, p.pr, c.sub,
       |    cast(round(q.d2 * 1000000) AS bigint) AS d2u
       |  FROM codes c
       |  JOIN iassigned ia ON ia.vec_id = c.vec_id
       |  JOIN iprobes p ON p.icell = ia.icell
       |  JOIN qdt q ON q.query_id = p.query_id AND c.sub = q.sub AND c.cell = q.cell
       |  WHERE c.vec_id != p.query_id),
       |cand AS (
       |  SELECT query_id, neighbor_id, pr,
       |    (((max(CASE WHEN sub = 0 THEN d2u END)
       |      + max(CASE WHEN sub = 1 THEN d2u END))
       |      + max(CASE WHEN sub = 2 THEN d2u END))
       |      + max(CASE WHEN sub = 3 THEN d2u END)) AS adist_micro
       |  FROM persub GROUP BY 1, 2, 3),
       |q2 AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
       |exd AS (
       |  SELECT query_id, v.vec_id AS neighbor_id,
       |    round(list_dot_product(qe, qe) + list_dot_product(v.e, v.e)
       |      - 2 * list_dot_product(qe, v.e), 4) AS d2
       |  FROM q2, v WHERE v.vec_id != query_id),
       |tr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY d2, neighbor_id) AS rank FROM exd),
       |truth AS (SELECT query_id, neighbor_id FROM tr WHERE rank <= 5)
       |SELECT * FROM (${grid.mkString("\n", "\nUNION ALL\n", "\n")})
       |ORDER BY nprobe, refine_r""".stripMargin
  }

  /** Hard-negative mining (`ann_hard_negatives`) — the contrastive-training
    * data step embedding pipelines run between retrieval and training: for
    * each query vector, the top-k most similar corpus vectors whose LABEL
    * differs from the query's (similar-but-wrong = the gradient-rich
    * negatives; same-label neighbors are presumed positives and excluded).
    * Also reports each negative's same-label rank margin — how many true
    * positives outrank it — since a pipeline typically filters to negatives
    * that beat at least one positive ("in-batch hard"). Same brute-force
    * shape as [[bruteforceTopK]] (broadcast queries, ONE corpus pass, no
    * corpus-side exchange before the per-query WindowGroupLimit top-k); at
    * 100 TB the candidate generator swaps for the IVF ladder and this
    * stays the final exact re-rank over its shortlist. */
  def hardNegatives(spark: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 5): DataFrame = {
    val v = normed(spark, d)
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("label_q"),
        col("e").as("qe"), col("norm").as("qnorm"))
    val scored = v.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("label_q"), col("vec_id").as("neighbor_id"),
        col("label").as("label_n"),
        round(dot(col("qe"), col("e")) / (col("qnorm") * col("norm")), 4).as("cos"))
      .withColumn("r_all", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))))
    scored.filter(col("label_n") =!= col("label_q"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("label_q").cast("long").as("label_q"),
        col("label_n").cast("long").as("label_n"), col("cos"),
        (col("r_all") - col("rank")).cast("long").as("n_pos_above"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  val hardNegativesOracle: String =
    """WITH v AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
      |q AS (SELECT vec_id AS query_id, label AS label_q, e AS qe
      |      FROM v WHERE vec_id < 10),
      |s AS (
      |  SELECT query_id, label_q, v.vec_id AS neighbor_id,
      |    v.label AS label_n,
      |    round(list_cosine_similarity(qe, v.e), 4) AS cos
      |  FROM q, v WHERE v.vec_id != query_id),
      |ra AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |  ORDER BY cos DESC, neighbor_id) AS r_all FROM s),
      |neg AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |  ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM ra WHERE label_n != label_q)
      |SELECT query_id, neighbor_id, cast(label_q AS bigint) AS label_q,
      |  cast(label_n AS bigint) AS label_n, cos,
      |  cast(r_all - rank AS bigint) AS n_pos_above,
      |  cast(rank AS int) AS rank
      |FROM neg WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // -------------------------------------------------------------------------
  // Hybrid retrieval: dense ANN ⊕ sparse BM25 fused by reciprocal-rank fusion
  // -------------------------------------------------------------------------

  /** RRF list depth per system (how far down each ranking contributes). */
  val HybridDepth = 10

  /** Query-term profile size: each query document is represented by its
    * top-T tokens by in-document frequency (tie → lexicographic). */
  val HybridQueryTerms = 5

  /** The RRF constant from Cormack et al. (SIGIR'09): score(d) =
    * Σ_systems 1/(60 + rank_s(d)). */
  val RrfK = 60

  /** Common denominator for EXACT RRF arithmetic: lcm(61..70) =
    * 2⁶·3²·5·7·11·13·17·23·31·61·67. Every per-system contribution
    * `RrfDenom / (60 + rank)` with rank ∈ 1..[[HybridDepth]] is an exact
    * integer, so fused scores are int64 sums — no float addition, no
    * cross-engine rounding hazard in the fusion step (the convention the
    * PQ family set with micro-integer distances). Max possible score is
    * 2·lcm/61 ≈ 4.7e12 — int64-safe with 6 orders of headroom. */
  val RrfDenom = 142813628717760L

  /** Per-query sparse (BM25) ranking of corpus documents, depth
    * [[HybridDepth]]. The query IS a document: its top-[[HybridQueryTerms]]
    * tokens form the term set ("more-like-this" retrieval), and every other
    * document is scored with the same Robertson/Okapi weights as [[
    * graft.operators.TextAnalysis.bm25]] (k1=1.2, b=0.75, +1-floored idf,
    * df from the FULL corpus). Scale shape: the query-term table is
    * query-batch-bounded (nQueries·T rows) and broadcasts; the corpus token
    * stream filters against it BEFORE any shuffle, so the only corpus-wide
    * exchange is the (query_id, doc_id) partial-agg — candidate rows are
    * bounded by occurrences of query terms, not by |corpus|·|queries|. */
  private def sparseRanks(spark: SparkSession, d: String, nQueries: Int,
      depth: Int): DataFrame = {
    val wl = Tables.documents(spark, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("dl"))
    val stats = wl.groupBy().agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val tok = wl.select(col("doc_id"), col("dl"), explode(col("t")).as("token"))
    val qterms = tok.filter(col("doc_id") < nQueries)
      .groupBy(col("doc_id").as("query_id"), col("token"))
      .agg(count(lit(1)).as("qtf"))
      .withColumn("r", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("qtf").desc, col("token"))))
      .filter(col("r") <= HybridQueryTerms)
      .select(col("query_id"), col("token"))
    val qtokens = qterms.select(col("token")).distinct()
    // ONE corpus-token pass for both df and tf (r15): the (doc, token)
    // occurrence counts restricted to the query vocabulary determine both —
    // df(token) = rows per token (the frame is distinct on (doc, token) by
    // construction), tf(query, doc, token) = the count itself, replayed per
    // matching query term. Previously df and tf each re-scanned and
    // re-exploded the whole corpus. The pinned frame is bounded by the
    // postings of ≤ nQueries·T tokens, not by the corpus.
    val base = tok.join(broadcast(qtokens), "token")
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfm = base.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // each query's top-T tokens all lie in qtokens, so ranking the query
    // docs' own pinned rows by the same (count desc, token) key finds the
    // same top-T without scanning and tokenizing the documents again
    val qtermsPinned = base.filter(col("doc_id") < nQueries)
      .withColumn("r", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("token"))))
      .filter(col("r") <= HybridQueryTerms)
      .select(col("doc_id").as("query_id"), col("token"))
    val tf = base.join(broadcast(qtermsPinned), "token")
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"), col("dl"), col("token"), col("tf"))
    val k1 = 1.2; val b = 0.75
    val scored = tf.join(broadcast(dfm), "token").join(broadcast(stats))
      .withColumn("w",
        log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl"))))
    scored.groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("w")), 6).as("score"))
      .withColumn("rs", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rs") <= depth)
      .select(col("query_id"), col("doc_id"), col("rs"))
  }

  /** Dense cosine ranking (exact, depth-limited) over the shared id space:
    * doc_id ≡ vec_id in the testdata contract. At 100 TB the exact scan
    * swaps for the IVF/PQ ladder — the fusion below only consumes
    * (query_id, doc_id, rank) and is generator-agnostic. */
  private def denseRanks(spark: SparkSession, d: String, nQueries: Int,
      depth: Int): DataFrame =
    cosineTopK(spark, d, nQueries, depth, sampleMod = 1)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("rd"))

  /** Hybrid retrieval via reciprocal-rank fusion (`ann_hybrid_rrf`) — the
    * fusion step modern retrieval pipelines run over a dense ANN system and
    * a sparse lexical system: RRF(d) = Σ 1/(60 + rank_s(d)) over the
    * systems that ranked d in their top-[[HybridDepth]] (Cormack et al.,
    * SIGIR'09 — rank-only fusion needs no score calibration between
    * systems, which is why it is the default in hybrid search engines).
    * Scores are EXACT int64 rationals on the common denominator
    * [[RrfDenom]] (`rrf_num`/RrfDenom is the textbook value): no float
    * enters the fusion. The two generators run in Spark and their lists
    * are collected once ([[rankLists]]); the fusion, its sort and the
    * top-k run on the driver, which holds 2·nQueries·[[HybridDepth]] rows
    * (200 at the defaults) — query-batch-sized at any corpus scale, like
    * the tokenizer trainers' vocabulary. r_dense/r_sparse carry each
    * system's rank (0 = not in that system's top-[[HybridDepth]]). */
  def hybridRrf(spark: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 5): DataFrame = {
    import spark.implicits._
    val (dense, sparse) = rankLists(spark, d, nQueries)
    rrfTop(dense, sparse, k)
      .toDF("query_id", "doc_id", "r_dense", "r_sparse", "rrf_num", "rank")
  }

  /** Both systems' depth-[[HybridDepth]] rank lists, collected in ONE job
    * over the union of the two generators: (dense, sparse), each
    * query_id → doc_id → rank. 2·nQueries·[[HybridDepth]] rows at most. */
  private def rankLists(spark: SparkSession, d: String,
      nQueries: Int): (Map[Long, Map[Long, Int]], Map[Long, Map[Long, Int]]) = {
    val rows = denseRanks(spark, d, nQueries, HybridDepth).withColumn("sys", lit(0))
      .unionAll(sparseRanks(spark, d, nQueries, HybridDepth).withColumn("sys", lit(1)))
      .collect()
    def lists(sys: Int): Map[Long, Map[Long, Int]] = rows.filter(_.getInt(3) == sys)
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(r => r.getLong(1) -> r.getInt(2)).toMap }
    (lists(0), lists(1))
  }

  /** Each query's RRF top-k over the two [[rankLists]]: (query_id, doc_id,
    * r_dense, r_sparse, rrf_num, rank), ranked by rrf_num desc, then
    * doc_id, in (query_id, rank) order — each system contributes the exact
    * integer RrfDenom div (RrfK + rank). */
  private def rrfTop(dense: Map[Long, Map[Long, Int]], sparse: Map[Long, Map[Long, Int]],
      k: Int): Seq[(Long, Long, Int, Int, Long, Int)] = {
    def part(r: Int): Long = if (r == 0) 0L else RrfDenom / (RrfK + r)
    (dense.keySet ++ sparse.keySet).toSeq.sorted.flatMap { q =>
      val (dq, sq) = (dense.getOrElse(q, Map.empty[Long, Int]),
        sparse.getOrElse(q, Map.empty[Long, Int]))
      (dq.keySet ++ sq.keySet).toSeq.map { doc =>
        val (rd, rs) = (dq.getOrElse(doc, 0), sq.getOrElse(doc, 0))
        (doc, rd, rs, part(rd) + part(rs))
      }.sortBy { case (doc, _, _, num) => (-num, doc) }.take(k)
        .zipWithIndex.map { case ((doc, rd, rs, num), i) => (q, doc, rd, rs, num, i + 1) }
    }
  }

  private def sparseRanksSql(nQueries: Int, depth: Int): String =
    s"""wl AS (
       |  SELECT doc_id, t, cast(len(t) AS bigint) AS dl
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
       |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM wl),
       |tok AS (SELECT doc_id, dl, unnest(t) AS token FROM wl),
       |qterms AS (
       |  SELECT query_id, token FROM (
       |    SELECT doc_id AS query_id, token, count(*) AS qtf,
       |      row_number() OVER (PARTITION BY doc_id
       |        ORDER BY count(*) DESC, token) AS r
       |    FROM tok WHERE doc_id < $nQueries GROUP BY 1, 2)
       |  WHERE r <= $HybridQueryTerms),
       |dfm AS (
       |  SELECT token, count(*) AS df FROM (
       |    SELECT DISTINCT doc_id, token FROM tok
       |    WHERE token IN (SELECT token FROM qterms)) GROUP BY 1),
       |stf AS (
       |  SELECT query_id, doc_id, dl, qt.token, count(*) AS tf
       |  FROM tok JOIN qterms qt USING (token)
       |  WHERE doc_id != query_id GROUP BY 1, 2, 3, 4),
       |sscored AS (
       |  SELECT query_id, doc_id,
       |    ln((n - df + 0.5) / (df + 0.5) + 1.0) *
       |      (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS w
       |  FROM stf JOIN dfm USING (token), stats),
       |sagg AS (SELECT query_id, doc_id, round(sum(w), 6) AS score
       |         FROM sscored GROUP BY 1, 2),
       |sparse AS (
       |  SELECT query_id, doc_id, rs FROM (
       |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS rs FROM sagg)
       |  WHERE rs <= $depth)""".stripMargin

  private def denseRanksSql(nQueries: Int, depth: Int): String =
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < $nQueries),
       |ds AS (
       |  SELECT query_id, v.vec_id AS doc_id,
       |    round(list_cosine_similarity(qe, v.e), 4) AS cos
       |  FROM q, v WHERE v.vec_id != query_id),
       |dense AS (
       |  SELECT query_id, doc_id, rd FROM (
       |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, doc_id) AS rd FROM ds)
       |  WHERE rd <= $depth)""".stripMargin

  val hybridRrfOracle: String =
    s"""WITH ${denseRanksSql(10, HybridDepth)},
       |${sparseRanksSql(10, HybridDepth)},
       |fused AS (
       |  SELECT coalesce(d.query_id, sp.query_id) AS query_id,
       |    coalesce(d.doc_id, sp.doc_id) AS doc_id, d.rd, sp.rs
       |  FROM dense d FULL OUTER JOIN sparse sp
       |    ON d.query_id = sp.query_id AND d.doc_id = sp.doc_id),
       |rrf AS (
       |  SELECT query_id, doc_id,
       |    cast(coalesce(rd, 0) AS int) AS r_dense,
       |    cast(coalesce(rs, 0) AS int) AS r_sparse,
       |    coalesce($RrfDenom // (${RrfK} + rd), 0)
       |      + coalesce($RrfDenom // (${RrfK} + rs), 0) AS rrf_num
       |  FROM fused),
       |fr AS (SELECT *, cast(row_number() OVER (PARTITION BY query_id
       |  ORDER BY rrf_num DESC, doc_id) AS int) AS rank FROM rrf)
       |SELECT query_id, doc_id, r_dense, r_sparse, rrf_num, rank
       |FROM fr WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Hybrid-vs-single-system eval (`ann_hybrid_rrf_eval`): for each system
    * (dense exact cosine, sparse BM25, RRF hybrid), the overlap of its
    * top-k with the dense top-k AND with the sparse top-k — the two
    * single-system "truths". Read as: the hybrid row quantifies how much
    * of each pure ranking survives fusion (dense_recall + sparse_recall
    * near 1 each means RRF kept both signals; the pure rows anchor the
    * scale at 1.0 by construction). One collect of both rank lists
    * ([[rankLists]]) feeds all three systems; the fusion and the six
    * exact-integer hit counts over nQueries·k pairs run on the driver,
    * which holds 2·nQueries·[[HybridDepth]] rows. Recalls round like
    * Spark's `round(x, 4)` ([[round4]]). */
  def hybridRrfEval(spark: SparkSession, d: String, nQueries: Int = 10,
      k: Int = 5): DataFrame = {
    import spark.implicits._
    val (dense, sparse) = rankLists(spark, d, nQueries)
    def top(lists: Map[Long, Map[Long, Int]]): Set[(Long, Long)] =
      (for ((q, m) <- lists.toSeq; (doc, r) <- m.toSeq if r <= k) yield (q, doc)).toSet
    val (dTop, sTop) = (top(dense), top(sparse))
    val hybrid = rrfTop(dense, sparse, k).map(r => (r._1, r._2)).toSet
    val denom = (nQueries * k).toDouble
    Seq("dense" -> dTop, "hybrid" -> hybrid, "sparse" -> sTop).map { case (name, sys) =>
      val (hd, hs) = ((sys & dTop).size.toLong, (sys & sTop).size.toLong)
      (name, hd, round4(hd / denom), hs, round4(hs / denom))
    }.toDF("system", "n_hits_dense", "recall_dense", "n_hits_sparse", "recall_sparse")
  }

  /** Spark's `round(x, 4)` on a double (HALF_UP on x's shortest decimal
    * form), for recalls computed on the driver. */
  private[graft] def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  val hybridRrfEvalOracle: String =
    s"""WITH ${denseRanksSql(10, HybridDepth)},
       |${sparseRanksSql(10, HybridDepth)},
       |fused AS (
       |  SELECT coalesce(d.query_id, sp.query_id) AS query_id,
       |    coalesce(d.doc_id, sp.doc_id) AS doc_id, d.rd, sp.rs
       |  FROM dense d FULL OUTER JOIN sparse sp
       |    ON d.query_id = sp.query_id AND d.doc_id = sp.doc_id),
       |rrf AS (
       |  SELECT query_id, doc_id,
       |    coalesce($RrfDenom // (${RrfK} + rd), 0)
       |      + coalesce($RrfDenom // (${RrfK} + rs), 0) AS rrf_num
       |  FROM fused),
       |hybrid AS (
       |  SELECT query_id, doc_id FROM (
       |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf_num DESC, doc_id) AS rank FROM rrf)
       |  WHERE rank <= 5),
       |dtop AS (SELECT query_id, doc_id FROM dense WHERE rd <= 5),
       |stop AS (SELECT query_id, doc_id FROM sparse WHERE rs <= 5),
       |sys AS (
       |  SELECT 'dense' AS system, query_id, doc_id FROM dtop UNION ALL
       |  SELECT 'hybrid', query_id, doc_id FROM hybrid UNION ALL
       |  SELECT 'sparse', query_id, doc_id FROM stop)
       |SELECT s.system,
       |  cast(count(dt.doc_id) AS bigint) AS n_hits_dense,
       |  round(count(dt.doc_id) / 50.0, 4) AS recall_dense,
       |  cast(count(st.doc_id) AS bigint) AS n_hits_sparse,
       |  round(count(st.doc_id) / 50.0, 4) AS recall_sparse
       |FROM sys s
       |LEFT JOIN dtop dt ON s.query_id = dt.query_id AND s.doc_id = dt.doc_id
       |LEFT JOIN stop st ON s.query_id = st.query_id AND s.doc_id = st.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
}
