package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables

/** Similarity search over the embeddings table (SURVEY.md §2d).
  *
  * All cosine math runs on integer-quantized vectors (milli-units):
  * dots and norms are exact longs (≤6.4e13 ≪ 2^53), the final cosine is
  * one double division — bit-identical on Spark and DuckDB, so the
  * brute-force variants are fully oracle-checkable. The LSH variant is
  * the 100 TB path: candidate generation by bucket join, brute force
  * only within buckets.
  */
object Similarity {

  /** embeddings quantized to integer milli-units + exact integer norm
    * (BOTH via native kernels — the quantization was the last
    * interpreted per-corpus-row expression in the family's ingest
    * projection: an ArrayTransform+Round chain per row; quantize_milli
    * is bit-identical — ExpressionsSpec pins it against the transform
    * formulation including half-up boundary values). */
  private def quantized(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        graft.functions.quantize_milli(col("embedding")).as("qv"))
      .withColumn("nrm", graft.functions.sq_norm(col("qv")))

  private val quantizedSql =
    """qn AS (SELECT vec_id, label, qv,
      |  CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS nrm FROM (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0, 0) AS BIGINT)) AS qv
      |  FROM embeddings) z)""".stripMargin

  private def cosine(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** s1_knn_brute — exact top-10 cosine neighbors for query vectors
    * (vec_id < 5): broadcast the tiny query side, stream the corpus,
    * per-query top-k via window. At scale this is the correctness
    * baseline ANN variants are measured against. */
  def s1KnnBrute(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d)
    val queries = q.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("cand_id"))
    q.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        cosine(graft.functions.quantized_dot(col("q_qv"), col("qv")),
          col("q_nrm"), col("nrm")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .orderBy("q_id", "rk")
  }

  val s1Sql: String =
    s"""WITH $quantizedSql,
       |qq AS (SELECT vec_id AS q_id, qv AS q_qv, nrm AS q_nrm FROM qn WHERE vec_id < 5),
       |scored AS (SELECT q_id, vec_id AS cand_id,
       |  CAST(list_sum(list_transform(range(1, len(q_qv) + 1), i -> q_qv[i] * qv[i])) AS DOUBLE)
       |    / (sqrt(CAST(q_nrm AS DOUBLE)) * sqrt(CAST(nrm AS DOUBLE))) AS cos_sim
       |  FROM qn CROSS JOIN qq WHERE vec_id <> q_id)
       |SELECT * FROM (SELECT q_id, cand_id, cos_sim,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, cand_id ASC) AS rk
       |  FROM scored) t
       |WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin

  private val LshTables = 8 // L independent hash tables
  private val LshBits   = 4 // k hyperplanes per table

  /** s2_knn_lsh — multi-table random-hyperplane LSH ANN: L=8 tables of
    * k=4 deterministic pseudo-hyperplanes (sign pattern from xxhash64 of
    * table⊗plane⊗dim — no stored model); a vector lands in one bucket
    * per table, candidates are bucket-mates in ANY table, brute force
    * runs only on candidates. L·k are the recall/cost dials (k grows
    * ~log n with corpus size; on a 100 TB corpus the bucket join is one
    * shuffle keyed on (table, bucket) and candidate counts track bucket
    * density, not corpus²). The seeded sign hashes have no DuckDB twin
    * → rows-only; SimilaritySpec measures overlap vs s1's exact top-10. */

  /** (vec_id, qv, nrm, tbl, bucket): one row per (vector, hash table).
    * Sign of <h_{t,p}, v> with h_{t,p}[i] = ±1 from splitmix64(t,p,i) —
    * computed by the native hyperplane_buckets kernel (sign masks
    * memoized, one codegen'd call per row — the column-level
    * zip_with/aggregate formulation it replaces ran interpreted, and at
    * tables×bits chains per row dominated the corpus scan). No stored
    * model. Shared by s2 (query ANN) and s6 (pairwise candidates). */
  private def hyperplaneBucketed(q: DataFrame, tables: Int, bits: Int): DataFrame =
    q.select(col("vec_id"), col("qv"), col("nrm"),
      posexplode(graft.functions.hyperplane_buckets(col("qv"), tables, bits))
        .as(Seq("tbl", "bucket")))

  def s2KnnLsh(s: SparkSession, d: String): DataFrame = {
    val tabbed = hyperplaneBucketed(quantized(s, d), LshTables, LshBits)
    val queries = tabbed.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"),
        col("tbl").as("q_tbl"), col("bucket").as("q_bucket"))
    val cands = tabbed.join(broadcast(queries),
        col("tbl") === col("q_tbl") && col("bucket") === col("q_bucket") &&
        col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        col("q_qv"), col("q_nrm"), col("qv"), col("nrm"))
      .dropDuplicates("q_id", "cand_id")
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("cand_id"))
    cands
      .select(col("q_id"), col("cand_id"),
        cosine(graft.functions.quantized_dot(col("q_qv"), col("qv")),
          col("q_nrm"), col("nrm")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .orderBy("q_id", "rk")
  }

  /** s3_pairwise_topsim — globally most-similar pairs above 0.25 on the
    * deterministic 1-in-10 sample, top 50. Exact all-pairs — the
    * oracle-checkable small-SF twin; the unsampled scale path is
    * s6_pairwise_lsh (hyperplane-bucketed candidates). */
  def s3PairwiseTopsim(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d).filter(pmod(col("vec_id"), lit(10)) === 0)
    q.as("a").join(q.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosine(graft.functions.quantized_dot(col("a.qv"), col("b.qv")),
          col("a.nrm"), col("b.nrm")).as("cos_sim"))
      .filter(col("cos_sim") >= 0.25)
      .orderBy(desc("cos_sim"), asc("vec_a"), asc("vec_b"))
      .limit(50)
  }

  val s3Sql: String =
    s"""WITH $quantizedSql,
       |sampled AS (SELECT * FROM qn WHERE vec_id % 10 = 0),
       |scored AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
       |    / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos_sim
       |  FROM sampled a JOIN sampled b ON a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= 0.25
       |ORDER BY cos_sim DESC, vec_a ASC, vec_b ASC LIMIT 50""".stripMargin

  /** s4_centroid — per-label centroids + farthest members. Distance is
    * kept in the exact integer domain: ‖n·v − Σv‖² (i.e. n²·‖v−μ‖²),
    * so ranking needs no float at all; longs stay < 2^63. */
  def s4Centroid(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d)
    val counts = q.groupBy(col("label")).agg(count(lit(1)).as("n"))
    // dim-wise sums via posexplode (one shuffle on (label, dim))
    val sums = q.select(col("label"), posexplode(col("qv")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("v")).as("sv"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("sv")))),
        e => e.getField("sv")).as("sumv"))
    val w = Window.partitionBy(col("label")).orderBy(desc("scaled_dist"), asc("vec_id"))
    q.join(broadcast(counts), "label")
      .join(broadcast(sums), "label")
      .withColumn("scaled_dist",
        aggregate(zip_with(col("qv"), col("sumv"),
          (v, sv) => (col("n") * v - sv) * (col("n") * v - sv)), lit(0L), _ + _))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("label", "vec_id", "n", "scaled_dist", "rk")
      .orderBy("label", "rk")
  }

  val s4Sql: String =
    s"""WITH $quantizedSql,
       |dimsums AS (SELECT label, dim, CAST(SUM(v) AS BIGINT) AS sv FROM (
       |  SELECT label, unnest(qv) AS v, generate_subscripts(qv, 1) AS dim FROM qn) x
       |  GROUP BY label, dim),
       |sums AS (SELECT label, list(sv ORDER BY dim ASC) AS sumv FROM dimsums GROUP BY label),
       |cnt AS (SELECT label, COUNT(*) AS n FROM qn GROUP BY label),
       |scored AS (SELECT qn.label, vec_id, n,
       |  CAST(list_sum(list_transform(range(1, len(qv) + 1),
       |    i -> (n * qv[i] - sumv[i]) * (n * qv[i] - sumv[i]))) AS BIGINT) AS scaled_dist
       |  FROM qn JOIN sums ON qn.label = sums.label JOIN cnt ON qn.label = cnt.label)
       |SELECT * FROM (SELECT label, vec_id, n, scaled_dist,
       |  ROW_NUMBER() OVER (PARTITION BY label ORDER BY scaled_dist DESC, vec_id ASC) AS rk
       |  FROM scored) t
       |WHERE rk <= 3 ORDER BY label, rk""".stripMargin

  private val PairTables = 32  // L: independent hash tables for s6
  /** k (hyperplanes per table) grows ~log n so expected bucket
    * occupancy stays ~PairBucketTarget at any corpus size — candidate
    * cost is O(n²·L/2^k), so a fixed k re-quadratifies under growth. */
  private val PairBitsFloor    = 4
  private val PairBucketTarget = 32.0
  private def pairBits(n: Long): Int =
    math.max(PairBitsFloor,
      math.ceil(math.log(n / PairBucketTarget) / math.log(2.0)).toInt)
  /** "strong pair" threshold for the bucketed pairwise path. */
  val PairTau = 0.45

  /** s6_pairwise_lsh — the unsampled scale path behind d5/s3: strong
    * similar pairs (cos ≥ PairTau) over the FULL corpus with hyperplane-
    * bucketed candidate generation. A pair is a candidate iff it shares
    * a (table, bucket) in ANY of the L=32 sign-hash tables; exact cosine
    * runs only within buckets — no cartesian/nested-loop join anywhere
    * in the plan (PlanSpec asserts), so candidate cost tracks bucket
    * density, not corpus². Recall is governed by the L/k dials: for a
    * pair at angle θ, P(miss) = (1 − (1 − θ/π)^k)^L — at cos 0.45,
    * k=4, L=32 that is ~2e-3, and it vanishes toward cos 1 where true
    * near-dups live. k adapts to corpus size (pairBits): at test SF it
    * is the floor 4 (where the τ=0.45 equality spec holds); on a grown
    * corpus buckets stay ~32 vectors wide and the threshold with
    * near-certain recall rises toward the 0.9+ regime real near-dup
    * dedup uses (k=11, L=32 ⇒ P(miss at 0.9) ≈ 7e-6).
    * Signs are seed-fixed → deterministic; rows-only (xxhash-free but
    * 32-table bucketing has no tractable SQL twin); SimilaritySpec
    * proves bucketed output EQUALS the exact all-pairs answer at test
    * SF, and subset-correctness (every emitted cosine is exact) holds
    * by construction at any SF. */
  def s6PairwiseLsh(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d).cache()
    // candidate generation shuffles ONLY (vec_id, tbl, bucket) triples —
    // 24 B rows; the (≈512 B) vectors are joined back onto the deduped
    // pair list afterwards (stats/AQE pick broadcast here, sort-merge on
    // vec_id at corpus scale), so neither the bucket self-join nor the
    // pair distinct ever shuffles vector payloads
    val bits = pairBits(q.count()) // cached relation — cheap
    val tabbed = q.select(col("vec_id"),
      posexplode(graft.functions.hyperplane_buckets(col("qv"), PairTables, bits))
        .as(Seq("tbl", "bucket")))
    val pairs = tabbed.as("a").join(tabbed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    pairs
      .join(q.select(col("vec_id").as("vec_a"), col("qv").as("qv_a"), col("nrm").as("nrm_a")), "vec_a")
      .join(q.select(col("vec_id").as("vec_b"), col("qv").as("qv_b"), col("nrm").as("nrm_b")), "vec_b")
      .withColumn("cos_sim",
        cosine(graft.functions.quantized_dot(col("qv_a"), col("qv_b")),
          col("nrm_a"), col("nrm_b")))
      .filter(col("cos_sim") >= PairTau)
      .select("vec_a", "vec_b", "cos_sim")
      .orderBy("vec_a", "vec_b")
  }

  private val IvfLists  = 16 // coarse-quantizer cells
  private val IvfProbes = 2  // cells searched per query

  /** Session-memoized coarse quantizer: s5 and s12 train the IDENTICAL
    * model (same input plan — quantized vectors as floats — same K,
    * seed and iteration budget), so one fit serves both, the same
    * within-session sharing discipline as the dedup pair memos
    * (BASELINE.md documents the session-memoized artifact set).
    * Whichever query runs first pays the fit; the model object is
    * driver-held (IvfLists×dim doubles — KB). */
  private val coarseMemo =
    new graft.SessionMemo[org.apache.spark.ml.clustering.KMeansModel]
  private def coarseModel(s: SparkSession, d: String,
      fq: DataFrame): org.apache.spark.ml.clustering.KMeansModel =
    coarseMemo.getOrElseUpdate(s, s"coarse:$d") {
      new org.apache.spark.ml.clustering.KMeans()
        .setK(IvfLists).setSeed(7L).setMaxIter(10)
        .setFeaturesCol("fvec").setPredictionCol("cell").fit(fq)
    }

  /** s5_knn_ivf — IVF-style ANN: a KMeans coarse quantizer (fixed seed)
    * partitions the corpus into inverted lists; each query probes only
    * its IvfProbes nearest cells and brute-forces within them. The
    * complement of s2's LSH: data-adaptive cells (better recall on
    * clustered corpora) at the cost of training a codebook. At 100 TB
    * the codebook is tiny and broadcast; the corpus shuffles once on
    * cell id — queries then touch IvfProbes/IvfLists of the data.
    * Iterative float training → rows-only; SimilaritySpec measures
    * recall vs s1. */
  def s5KnnIvf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val q = quantized(s, d)
      .withColumn("fvec", array_to_vector(
        transform(col("qv"), v => v.cast("double"))))
      .cache()
    val model = coarseModel(s, d, q)
    val assigned = model.transform(q).select("vec_id", "label", "qv", "nrm", "cell")
    // probe assignment is fully distributed: the IvfLists-row codebook
    // (the only thing that is ever driver-side — it's the model) becomes
    // a broadcast DataFrame; queries cross-join it, compute L2 to every
    // centroid, and a per-query window keeps the IvfProbes nearest
    // cells. No collect of query vectors — works at any query volume.
    val centroids = {
      import s.implicits._
      model.clusterCenters.toSeq.zipWithIndex
        .map { case (c, i) => (i, c.toArray.toSeq) }
        .toDF("probe_cell", "cvec")
    }
    val pw = Window.partitionBy(col("q_id")).orderBy(asc("cdist"), asc("probe_cell"))
    val probes = assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("qv"))
      .crossJoin(broadcast(centroids))
      // same accumulation order as a sequential loop over dims → the
      // double distances (and hence probe choice) are deterministic
      .withColumn("cdist", aggregate(
        zip_with(col("qv"), col("cvec"),
          (v, c) => (v.cast("double") - c) * (v.cast("double") - c)),
        lit(0.0), _ + _))
      .withColumn("prk", row_number().over(pw))
      .filter(col("prk") <= IvfProbes)
      .select("q_id", "probe_cell")
    val qSide = assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))
      .join(probes, "q_id")
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("cand_id"))
    assigned.join(broadcast(qSide),
        col("cell") === col("probe_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        cosine(graft.functions.quantized_dot(col("q_qv"), col("qv")),
          col("q_nrm"), col("nrm")).as("cos_sim"))
      .dropDuplicates("q_id", "cand_id")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .orderBy("q_id", "rk")
  }

  private[graft] val Sq8Shortlist = 40

  /** s7_knn_sq8 — two-stage scalar-quantized ANN (the FAISS SQ8+refine
    * shape): vectors are re-quantized to int8 range with one corpus-wide
    * symmetric scale (max |component|, an exact integer aggregate), the
    * shortlist pass scores ALL candidates on the int8 representation,
    * and only the Sq8Shortlist survivors per query have their FULL-
    * precision vectors fetched for the exact re-rank to top-10. Both
    * stages are integer dot products + one double division → fully
    * oracle-checkable, unlike the randomized s2/s5 paths.
    *
    * Scale shape: at 100 TB the int8 corpus is the memory-resident scan
    * side (4-8× smaller than the float vectors; here the narrow `q8`
    * projection), queries are broadcast, and the full-precision table is
    * touched only through the shortlist join — 40·|queries| lookups, not
    * a second corpus scan. Recall cost of SQ8 is bounded rounding error;
    * the re-rank restores exact ordering among survivors (s7's top-10
    * matches s1 wherever the true neighbor reaches the shortlist —
    * SimilaritySpec measures it). */
  def s7KnnSq8(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d)
    // corpus-wide symmetric scale in exact integer domain
    val mx = q.agg(max(array_max(transform(col("qv"), v => abs(v))))).head().getLong(0)
    val q8 = q.select(col("vec_id"),
        transform(col("qv"),
          v => round(v.cast("double") * 127.0 / lit(mx.toDouble), 0).cast("long")).as("q8"))
      .withColumn("n8", graft.functions.sq_norm(col("q8")))
    val queries8 = q8.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("q8").as("q_q8"), col("n8").as("q_n8"))
    val w8 = Window.partitionBy(col("q_id")).orderBy(desc("cos8"), asc("cand_id"))
    val shortlist = q8.join(broadcast(queries8), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        cosine(graft.functions.quantized_dot(col("q_q8"), col("q8")),
          col("q_n8"), col("n8")).as("cos8"))
      .withColumn("rk8", row_number().over(w8))
      .filter(col("rk8") <= Sq8Shortlist)
      .select("q_id", "cand_id")
    val qq = q.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val cand = q.select(col("vec_id").as("cand_id"), col("qv"), col("nrm"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("cand_id"))
    shortlist.join(cand, "cand_id").join(broadcast(qq), "q_id")
      .select(col("q_id"), col("cand_id"),
        cosine(graft.functions.quantized_dot(col("q_qv"), col("qv")),
          col("q_nrm"), col("nrm")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .orderBy("q_id", "rk")
  }

  val s7Sql: String =
    s"""WITH $quantizedSql,
       |mx AS (SELECT MAX(list_max(list_transform(qv, v -> abs(v)))) AS m FROM qn),
       |q8n AS (SELECT vec_id,
       |  list_transform(qv, v -> CAST(round(CAST(v AS DOUBLE) * 127.0 / CAST(m AS DOUBLE), 0) AS BIGINT)) AS q8
       |  FROM qn CROSS JOIN mx),
       |q8 AS (SELECT vec_id, q8,
       |  CAST(list_sum(list_transform(q8, v -> v * v)) AS BIGINT) AS n8 FROM q8n),
       |qq8 AS (SELECT vec_id AS q_id, q8 AS q_q8, n8 AS q_n8 FROM q8 WHERE vec_id < 5),
       |short AS (SELECT q_id, cand_id FROM (
       |  SELECT q_id, vec_id AS cand_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
       |      CAST(list_sum(list_transform(range(1, len(q_q8) + 1), i -> q_q8[i] * q8[i])) AS DOUBLE)
       |        / (sqrt(CAST(q_n8 AS DOUBLE)) * sqrt(CAST(n8 AS DOUBLE))) DESC, vec_id ASC) AS rk8
       |  FROM q8 CROSS JOIN qq8 WHERE vec_id <> q_id) t WHERE rk8 <= $Sq8Shortlist),
       |qq AS (SELECT vec_id AS q_id, qv AS q_qv, nrm AS q_nrm FROM qn WHERE vec_id < 5),
       |rer AS (SELECT s.q_id, s.cand_id,
       |  CAST(list_sum(list_transform(range(1, len(q_qv) + 1), i -> q_qv[i] * qv[i])) AS DOUBLE)
       |    / (sqrt(CAST(q_nrm AS DOUBLE)) * sqrt(CAST(nrm AS DOUBLE))) AS cos_sim
       |  FROM short s JOIN qn c ON s.cand_id = c.vec_id JOIN qq ON s.q_id = qq.q_id)
       |SELECT * FROM (SELECT q_id, cand_id, cos_sim,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, cand_id ASC) AS rk
       |  FROM rer) t
       |WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin

  private[graft] val MmrLambda = 0.7
  private[graft] val MmrPool = 40
  private[graft] val MmrK = 10

  /** Exact integer dot product — the plain-Scala twin of the
    * quantized_dot kernel, for per-group greedy code. */
  private[graft] def dotL(a: Seq[Long], b: Seq[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** s8_mmr_rerank — diversified retrieval: Maximal Marginal Relevance
    * over each query's top-MmrPool exact candidates. Greedy: pick
    * argmax of λ·sim(q, c) − (1−λ)·max_{s∈selected} sim(c, s), ties by
    * cand_id — the rerank step between an ANN shortlist and what a
    * retrieval consumer actually wants (relevant AND non-redundant).
    * The greedy loop is inherently sequential per query, so it runs
    * inside `mapGroups` over a BOUNDED candidate set (MmrPool rows per
    * key — per-group state is O(pool), never corpus-shaped), with
    * queries distributed across tasks. Deterministic; no SQL twin
    * (iterative greedy) → rows-only; SimilaritySpec pins determinism,
    * top-1 agreement with s1, and the diversity win over plain top-k. */
  def s8MmrRerank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = quantized(s, d)
    val queries = q.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), asc("cand_id"))
    val pool = q.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"), col("qv"), col("nrm"),
        cosine(graft.functions.quantized_dot(col("q_qv"), col("qv")),
          col("q_nrm"), col("nrm")).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= MmrPool)
      .select("q_id", "cand_id", "qv", "nrm", "sim")
      .as[(Long, Long, Seq[Long], Long, Double)]
    pool.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val cs = it.toArray.sortBy(c => (-c._5, c._2)) // by sim desc, id asc
      def cosCC(a: (Long, Long, Seq[Long], Long, Double),
          b: (Long, Long, Seq[Long], Long, Double)): Double =
        dotL(a._3, b._3).toDouble / (math.sqrt(a._4.toDouble) * math.sqrt(b._4.toDouble))
      val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
      while (selected.length < math.min(MmrK, cs.length)) {
        var best = -1; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < cs.length) {
          if (!selected.contains(i)) {
            val redundancy =
              if (selected.isEmpty) 0.0
              else selected.map(j => cosCC(cs(i), cs(j))).max
            val score = MmrLambda * cs(i)._5 - (1.0 - MmrLambda) * redundancy
            // strict > with id tiebreak: deterministic at equal scores
            if (score > bestScore ||
                (score == bestScore && best >= 0 && cs(i)._2 < cs(best)._2)) {
              best = i; bestScore = score
            }
          }
          i += 1
        }
        selected += best
        out += ((qid, selected.length, cs(best)._2,
          math.rint(bestScore * 1e6) / 1e6))
      }
      out.iterator
    }.toDF("q_id", "rk", "cand_id", "mmr")
      .orderBy("q_id", "rk")
  }

  /** s9's similarity floor. */
  private[graft] val S9Tau = 0.22

  /** s9_range_search — RANGE query over the embedding space: every
    * corpus vector within a cosine radius of each query (vec_id < 5),
    * not a fixed top-k. The retrieval mode RAG filtering and
    * contamination sweeps actually run ("give me everything closer
    * than τ", cardinality unknown a priori). Same execution shape as
    * s1: broadcast the tiny query side, ONE streaming pass over the
    * corpus, a codegen'd integer dot per (query, candidate) — no
    * shuffle at all before the final ordering, so the scan
    * parallelizes perfectly at any corpus size; for large query sets
    * the LSH path (s2) bounds the candidate fan-in instead. Exact
    * integer math → fully oracle-checked. */
  def s9RangeSearch(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d)
    val queries = q.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    q.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        cosine(graft.functions.quantized_dot(col("q_qv"), col("qv")),
          col("q_nrm"), col("nrm")).as("cos_sim"))
      .filter(col("cos_sim") >= S9Tau)
      .orderBy("q_id", "cand_id")
  }

  val s9Sql: String =
    s"""WITH $quantizedSql,
       |qq AS (SELECT vec_id AS q_id, qv AS q_qv, nrm AS q_nrm FROM qn WHERE vec_id < 5),
       |scored AS (SELECT q_id, vec_id AS cand_id,
       |  CAST(list_sum(list_transform(range(1, len(q_qv) + 1), i -> q_qv[i] * qv[i])) AS DOUBLE)
       |    / (sqrt(CAST(q_nrm AS DOUBLE)) * sqrt(CAST(nrm AS DOUBLE))) AS cos_sim
       |  FROM qn CROSS JOIN qq WHERE vec_id <> q_id)
       |SELECT q_id, cand_id, cos_sim FROM scored
       |WHERE cos_sim >= $S9Tau ORDER BY q_id, cand_id""".stripMargin

  // ---- s10_knn_graph: graph ANN (NN-descent + graph expansion) -----

  /** Graph degree (top-K neighbors kept per vertex per round) and the
    * NN-descent round count. One round of neighbor-of-neighbor
    * refinement closes most of the LSH init's recall gap at test SF;
    * rounds is the recall dial at scale (each costs one self-join of
    * the bounded-degree edge list). */
  private val GraphK = 10
  private val GraphRounds = 1
  /** Per-vertex fresh-candidate budget per NN-descent round (the
    * literature's ρK sampling) — bounds the round's scored pairs at
    * V·cap regardless of neighbor-of-neighbor density. */
  private val GraphCandCap = 60
  private val GraphInitTables = 4
  private val GraphInitBits = 4
  /** LSH bits for the graph init/seed buckets, grown ~log2(n) so
    * bucket DENSITY stays ~[[GraphBucketTarget]] as the corpus grows —
    * the bucket-mate join is density-quadratic per bucket, and a fixed
    * bits dial would make init cost corpus-quadratic (the m5 lesson;
    * the per-source cap bounds scoring but not the join's row
    * production). One count() prices this. */
  private val GraphBucketTarget = 128.0
  private def graphBits(n: Long): Int =
    math.max(GraphInitBits, math.ceil(
      math.log((n / GraphBucketTarget).max(1.0)) / math.log(2.0)).toInt)

  /** Per-source top-K edges by cosine (stable tiebreak). */
  private def topKEdges(edges: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("src")).orderBy(desc("cos_sim"), asc("nbr"))
    edges.withColumn("rk", row_number().over(w)).filter(col("rk") <= k).drop("rk")
  }

  /** Score candidate (src, nbr) id pairs by joining the vectors back
    * in — two hash joins keyed on vec_id, then the codegen'd integer
    * dot. The pair list is always bounded (bucket-capped init,
    * degree-bounded expansion), so this never scores corpus². */
  private def scorePairs(pairs: DataFrame, q: DataFrame): DataFrame =
    pairs
      .join(q.select(col("vec_id").as("src"), col("qv").as("s_qv"),
        col("nrm").as("s_nrm")), "src")
      .join(q.select(col("vec_id").as("nbr"), col("qv").as("n_qv"),
        col("nrm").as("n_nrm")), "nbr")
      .select(col("src"), col("nbr"),
        cosine(graft.functions.quantized_dot(col("s_qv"), col("n_qv")),
          col("s_nrm"), col("n_nrm")).as("cos_sim"))

  /** The approximate K-NN GRAPH over the whole corpus: LSH-bucketed
    * init (bounded bucket fan-out) refined by [[GraphRounds]] rounds
    * of NN-descent (Dong et al. 2011): a neighbor of my neighbor is
    * my candidate — one self-join of the UNDIRECTED bounded-degree
    * edge list per round, re-scored and re-topped. Every stage is a
    * hash-keyed join on vec_id or (tbl,bucket); per-vertex state is
    * K edges, so a round is O(V·K²) candidate pairs regardless of
    * corpus skew — the graph-build shape HNSW-class systems pay once
    * and amortize over queries. */
  private[graft] def knnGraph(s: SparkSession, d: String): DataFrame = {
    // (vec_id, qv, nrm) only — label is never consumed by the graph
    // build, so it must not ride the checkpoint or the scan (ReadSchema
    // narrows at the parquet source)
    val q = quantized(s, d).select("vec_id", "qv", "nrm").localCheckpoint(true)
    buildGraph(q, hyperplaneBucketed(q, GraphInitTables, graphBits(q.count()))
      .select("vec_id", "tbl", "bucket"))
  }

  /** The NN-descent build over an already-staged corpus (`q`
    * checkpointed, `tabbed` its bucket assignment) — shared by
    * [[knnGraph]] and [[s10KnnGraph]] so the query path stages the
    * corpus ONCE instead of re-quantizing per phase (r14 review). */
  private def buildGraph(q: DataFrame, tabbed: DataFrame): DataFrame = {
    // init: bucket-mate pairs, capped per source by the top-K keep
    // bucket-mate pairs are bucket-density-QUADRATIC if left uncapped
    // (the m5 lesson): cap the ID-ONLY candidate list per source in a
    // deterministic hash order before any vector joins — the init is
    // only a seeding heuristic, NN-descent's refinement recovers what
    // the cap drops. In production the bits dial also grows ~log n so
    // bucket density stays bounded; the cap is the hard backstop.
    // ONE exchange (hash on src) serves the whole init chain: a
    // partitioning on src satisfies the (src, nbr) dedup's clustering
    // requirement (subset rule) AND the per-source cap window AND
    // topKEdges' window below — without it the chain pays three
    // exchanges (dedup on (src,nbr), cap window on src, top-K window
    // on src). Pure exchange elimination: the dedup'd SET and the
    // deterministic (__ch, nbr) tiebreaks are partitioning-independent,
    // so the kept edges are identical.
    val init = tabbed.as("a").join(tabbed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("nbr"))
      .repartition(col("src"))
      .dropDuplicates("src", "nbr")
      .withColumn("__ch", xxhash64(col("src"), col("nbr")))
      .withColumn("__cr", row_number().over(
        Window.partitionBy(col("src")).orderBy(asc("__ch"), asc("nbr"))))
      .filter(col("__cr") <= GraphCandCap)
      .drop("__ch", "__cr")
    var graph = topKEdges(scorePairs(init, q), GraphK).localCheckpoint(true)
    (1 to GraphRounds).foreach { _ =>
      val undirected = graph.select("src", "nbr")
        .unionByName(graph.select(col("nbr").as("src"), col("src").as("nbr")))
        .dropDuplicates("src", "nbr")
      val non = undirected.as("e1").join(undirected.as("e2"),
          col("e1.nbr") === col("e2.src") && col("e1.src") =!= col("e2.nbr"))
        .select(col("e1.src").as("src"), col("e2.nbr").as("nbr"))
        // same one-exchange discipline as the init chain: hash on src
        // up front and the dedup, the cap window and the re-top window
        // all reuse it (set semantics unchanged)
        .repartition(col("src"))
        .dropDuplicates("src", "nbr")
        // drop pairs already in the graph — only fresh candidates score
        .join(graph.select("src", "nbr"), Seq("src", "nbr"), "left_anti")
        // NN-descent's candidate SAMPLING (the ρK cap): at most
        // GraphCandCap fresh candidates score per vertex per round,
        // in a deterministic hash order — the ID-ONLY pair list is
        // capped BEFORE the wide vector join, so the scoring shuffle
        // is bounded at V·cap rows no matter how dense the
        // neighbor-of-neighbor expansion gets
        .withColumn("__ch", xxhash64(col("src"), col("nbr")))
        .withColumn("__cr", row_number().over(
          Window.partitionBy(col("src")).orderBy(asc("__ch"), asc("nbr"))))
        .filter(col("__cr") <= GraphCandCap)
        .drop("__ch", "__cr")
      graph = topKEdges(
        graph.unionByName(scorePairs(non, q)), GraphK).localCheckpoint(true)
    }
    graph
  }

  /** s10_knn_graph — GRAPH ANN (the HNSW-class taxonomy entry beside
    * LSH s2, IVF s5, SQ8 s7): answer the standard query set over the
    * NN-descent K-NN graph. Seeds = the query's LSH bucket-mates;
    * expansion = one hop through the (undirected) graph from the
    * seeds — the bounded-beam analogue of HNSW's layer-0 walk,
    * expressed as two hash joins instead of a sequential traversal
    * (at 100 TB the graph is an edge table co-partitioned on src;
    * expansion cost is seeds×K, query-proportional, never O(corpus)).
    * Candidates = seeds ∪ expanded, scored exactly, per-query top-10.
    * Seeded hashes + iterative refinement have no DuckDB twin →
    * rows-only; SimilaritySpec measures recall vs s1's exact top-10
    * and pins graph degree bounds + determinism. */
  def s10KnnGraph(s: SparkSession, d: String): DataFrame = {
    // the corpus is staged ONCE (checkpointed quantization, one count
    // for the density-scaled bits, one bucket assignment) and shared
    // by the graph build and the seed lookup — the pre-review shape
    // re-quantized per phase (r14 review). Projected to (vec_id, qv,
    // nrm) BEFORE the checkpoint: label is never consumed anywhere in
    // s10, so it must not ride the pinned blocks, the scorePairs joins
    // or the parquet scan (ReadSchema narrows — VERDICT r21 #9)
    val q = quantized(s, d).select("vec_id", "qv", "nrm").localCheckpoint(true)
    val tabbed = hyperplaneBucketed(q, GraphInitTables, graphBits(q.count()))
      .select("vec_id", "tbl", "bucket").localCheckpoint(true)
    val graph = buildGraph(q, tabbed)
    val qIds = tabbed.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("tbl"), col("bucket"))
    // seeds are NOT pre-deduped: the final candidate dedup below makes
    // the set identical either way, and the intermediate dedup's
    // exchange cost more than the small duplicate factor it removed
    // (a seed repeats only when a pair shares several hash tables).
    val seeds = tabbed.join(broadcast(qIds), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"))
    val undirected = graph.select("src", "nbr")
      .unionByName(graph.select(col("nbr").as("src"), col("src").as("nbr")))
      .dropDuplicates("src", "nbr")
    val expanded = seeds.join(undirected, col("cand_id") === col("src"))
      .filter(col("nbr") =!= col("q_id"))
      .select(col("q_id"), col("nbr").as("cand_id"))
    // one exchange (hash on q_id) serves the dedup AND the final
    // per-query top-k window — the (q_id, cand_id) set is
    // partitioning-independent
    val cands = seeds.unionByName(expanded)
      .repartition(col("q_id"))
      .dropDuplicates("q_id", "cand_id")
    val queries = q.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("cand_id"))
    cands
      .join(q.select(col("vec_id").as("cand_id"), col("qv"), col("nrm")), "cand_id")
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("cand_id"),
        cosine(graft.functions.quantized_dot(col("q_qv"), col("qv")),
          col("q_nrm"), col("nrm")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .orderBy("q_id", "rk")
  }

  private[graft] val PqM = 4
  private[graft] val PqK = 32
  private[graft] val PqShortlist = 128

  /** TRAINED per-subspace PQ codebooks (r20): [[PqM]] seed-pinned
    * KMeans fits of [[PqK]] codewords each, over the corpus's j-th
    * subvectors of `vecCol` (a double-array column) — distributed
    * fits, only the PqK×subLen centroid matrices reach the driver
    * (KB-scale constants). Shared by s11 (raw vectors) and s12
    * (coarse-quantizer residuals). */
  private def trainedSubCodebooks(df: DataFrame, vecCol: String, subLen: Int,
      seedBase: Long): Seq[Seq[Seq[Double]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // The PqM fits are INDEPENDENT jobs over disjoint subvector slices;
    // actions are only sequential because the driver calls them
    // sequentially (guide §2.6), so the fits run concurrently, one
    // branch each — each fit's input, seed, partitioning and math
    // are untouched, so the codebooks are bit-identical to the
    // sequential run, and FIFO scheduling back-fills one fit's
    // iteration-job tails with the next fit's tasks. An iterative
    // KMeans fit is dozens of small jobs; serializing PqM of them was
    // pure driver-side wait.
    graft.Branches.run(df.sparkSession) { b =>
      val fits = (0 until PqM).map { j =>
        b.fork(s"pq-fit-$j") {
          val sub = df.select(array_to_vector(
            slice(col(vecCol), j * subLen + 1, subLen)).as("sv"))
          new KMeans().setK(PqK).setSeed(seedBase + j).setMaxIter(10)
            .setFeaturesCol("sv").setPredictionCol("c")
            .fit(sub).clusterCenters.toSeq.map(_.toArray.toSeq)
        }
      }
      fits.map(b.await)
    }
  }

  /** s11_knn_pq — PRODUCT-QUANTIZATION ANN (the remaining classic in
    * the taxonomy beside s2 LSH / s5 IVF / s7 SQ8 / s10 graph): the
    * vector splits into [[PqM]] subspaces, each subvector ENCODES to
    * its nearest of [[PqK]] per-subspace codewords (ties to the lowest
    * code; the `||v||²` term is per-vector constant so the argmin
    * drops it), and the corpus thereafter is PqM small codes per
    * vector — at 100 TB the encoded corpus is ~PqM bytes/vector
    * instead of 4·dim, and the query-time scan is the ADC shape: the
    * query precomputes a PqM×PqK lookup table ONCE, every corpus row
    * costs PqM table lookups (never a dim-length dot), the shortlist
    * re-ranks exactly (s7's two-stage discipline) so quantization
    * error can demote, not fabricate, neighbors. Codebooks are
    * TRAINED (r20, closing VERDICT r19 #8): per-subspace seed-pinned
    * KMeans on the corpus's subvectors — [[trainedSubCodebooks]],
    * s5's machinery — replacing the r19 anchor samples; the encode
    * and ADC plan shapes are unchanged. Iterative float training has
    * no SQL twin → rows-only; the spec pins recall vs s1 (floor
    * raised to the anchor version's measured 0.80), determinism, and
    * the exact-re-rank contract. */
  def s11KnnPq(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d)
    val dim = q.select(size(col("qv"))).head().getInt(0)
    require(dim % PqM == 0, s"PQ: dim $dim must split into $PqM subspaces")
    val subLen = dim / PqM
    val fq = q.withColumn("fv",
      transform(col("qv"), v => v.cast("double"))).cache()
    val cb: Seq[Seq[Seq[Double]]] = trainedSubCodebooks(fq, "fv", subLen, 131L)
    val cbn: Seq[Seq[Double]] = cb.map(_.map(w => w.map(x => x * x).sum))
    val cbnL = typedLit(cbn)
    // ENCODE: per subspace the argmin-distance codeword — ||cb||² −
    // 2·dot, first minimum wins so ties break to the lowest code
    // deterministically. The native pq_encode kernel replaces the
    // interpreted HOF chain (PqM×PqK×subLen element_at calls per row
    // over the WHOLE corpus — the one scan here that is
    // corpus-proportional at 100 TB); same fold order, same tiebreak,
    // bit-identical codes.
    val encoded = q.select(col("vec_id"), col("qv"), col("nrm"),
      graft.functions.pq_encode(col("qv"), cb).as("codes"))
    // the query side precomputes its ADC LOOKUP TABLE once (PqM×PqK
    // subspace dots, the native pq_lut kernel — same fold order as the
    // HOF chain it replaces, bit-identical dots) — the scan below
    // never touches full vectors
    val queries = encoded.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))
      .withColumn("lut", graft.functions.pq_lut(col("q_qv"), cb))
      .select("q_id", "q_qv", "q_nrm", "lut")
    // ADC + reconstruction norm per CORPUS row: the pq_adc kernel
    // (Σ_j table[j][code_j], same left-fold order → bit-identical
    // doubles) replaces the interpreted aggregate(sequence(...)) HOFs
    // that ran per shortlist-scan row — with pq_encode this was the
    // last interpreted expression on the corpus-proportional path
    val adc = graft.functions.pq_adc(col("lut"), col("codes"))
    val npq = graft.functions.pq_adc(cbnL, col("codes"))
    val wPq = Window.partitionBy(col("q_id")).orderBy(desc("cos_pq"), asc("cand_id"))
    val shortlist = encoded.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        cosine(adc, col("q_nrm"), npq).as("cos_pq"))
      .withColumn("rkp", row_number().over(wPq))
      .filter(col("rkp") <= PqShortlist)
      .select("q_id", "cand_id")
    // exact re-rank on the shortlist: s7's discipline — quantization
    // error can demote a true neighbor out of the pool, never
    // fabricate a false one into the answer
    val qq = q.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val cand = q.select(col("vec_id").as("cand_id"), col("qv"), col("nrm"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("cand_id"))
    shortlist.join(cand, "cand_id").join(broadcast(qq), "q_id")
      .select(col("q_id"), col("cand_id"),
        cosine(graft.functions.quantized_dot(col("q_qv"), col("qv")),
          col("q_nrm"), col("nrm")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .orderBy("q_id", "rk")
  }

  private[graft] val IvfPqProbes = 6 // lists searched per query (of IvfLists)

  /** s12_knn_ivfpq — IVF-PQ, the production FAISS composition (r20):
    * s5's KMeans coarse quantizer assigns each vector to one of
    * [[IvfLists]] inverted lists; the vector's RESIDUAL against its
    * list centroid is product-quantized with TRAINED per-subspace
    * codebooks ([[PqM]] seed-pinned KMeans fits of [[PqK]] codewords
    * each — k-means on subvectors, not s11's anchor samples); the
    * query-time scan touches ONLY its [[IvfPqProbes]] nearest lists
    * and scores each encoded row by ADC: dot(q, x̂) = dot(q, centroid)
    * (one per probed list) + Σⱼ lut[j][codeⱼ] (PqM table lookups per
    * row — never a dim-length dot); the [[PqShortlist]]-deep exact
    * re-rank restores true ordering among survivors (s7/s11's
    * discipline). At 100 TB: the encoded corpus is ~PqM bytes+cell per
    * vector, shuffled ONCE on cell id; a query reads IvfPqProbes/
    * IvfLists of it; codebooks are driver-held constants (IvfLists×dim
    * + PqM×PqK×(dim/PqM) doubles — KB, broadcast). Iterative float
    * training has no SQL twin → rows-only; OperatorsSpec pins validity,
    * determinism and the recall floor vs s1. */
  def s12KnnIvfPq(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val q = quantized(s, d)
    val dim = q.select(size(col("qv"))).head().getInt(0)
    require(dim % PqM == 0, s"IVF-PQ: dim $dim must split into $PqM subspaces")
    val subLen = dim / PqM
    val fq = q.withColumn("fvec",
      array_to_vector(transform(col("qv"), v => v.cast("double")))).cache()
    // coarse quantizer: s5's machinery verbatim (same K, same seed) —
    // the session-memoized model, trained once for s5 AND s12
    val model = coarseModel(s, d, fq)
    val cents: Seq[Seq[Double]] = model.clusterCenters.toSeq.map(_.toArray.toSeq)
    val centL = typedLit(cents)
    val assigned = model.transform(fq).select("vec_id", "qv", "nrm", "cell")
    // residual r = v − centroid[cell] (double domain — centroids are
    // means). Cached: the PqM codebook fits AND the encode scan all
    // read the residuals — without the pin each consumer re-runs
    // model.transform + the zip_with from fq.
    val withRes = assigned.withColumn("res",
      zip_with(col("qv"), element_at(centL, col("cell") + 1),
        (v, c) => v.cast("double") - c))
      .cache()
    // TRAINED per-subspace codebooks on the residuals: each fit is a
    // distributed KMeans over the corpus's j-th subvectors; only the
    // PqK×subLen centroid matrix ever reaches the driver
    val cb: Seq[Seq[Seq[Double]]] = trainedSubCodebooks(withRes, "res", subLen, 11L)
    // ENCODE: per subspace the argmin-distance codeword over the
    // residual — ||cb||² − 2·dot, first minimum wins (deterministic).
    // Native pq_encode kernel (see s11): the corpus-proportional scan
    // stays inside codegen instead of an interpreted HOF chain;
    // bit-identical codes.
    val encoded = withRes.select(col("vec_id"), col("nrm"), col("cell"),
      graft.functions.pq_encode(col("res"), cb).as("codes"))
    // query side: probe selection (s5's distributed shape — centroids
    // broadcast, window keeps the nearest lists) + the per-query ADC
    // lookup table and per-probe dot(q, centroid)
    val centroids = {
      import s.implicits._
      cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("probe_cell", "cvec")
    }
    val pw = Window.partitionBy(col("q_id")).orderBy(asc("cdist"), asc("probe_cell"))
    val probes = q.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("qv"), col("nrm").as("q_nrm"))
      .crossJoin(broadcast(centroids))
      .withColumn("cdist", aggregate(
        zip_with(col("qv"), col("cvec"),
          (v, c) => (v.cast("double") - c) * (v.cast("double") - c)),
        lit(0.0), _ + _))
      .withColumn("qcdot", aggregate(
        zip_with(col("qv"), col("cvec"), (v, c) => v.cast("double") * c),
        lit(0.0), _ + _))
      .withColumn("prk", row_number().over(pw))
      .filter(col("prk") <= IvfPqProbes)
      // the per-query LUT via the native pq_lut kernel (same fold
      // order as the HOF chain it replaces — bit-identical dots)
      .withColumn("lut", graft.functions.pq_lut(col("qv"), cb))
      .select("q_id", "probe_cell", "qcdot", "lut", "q_nrm")
    // ADC over PROBED lists only: equi join on cell id — the corpus
    // side reads IvfPqProbes/IvfLists of the table; per row the score
    // is PqM lookups + adds (dot(q, x̂) = dot(q, cent) + Σ lut[code]),
    // now one codegen'd pq_adc kernel call instead of the interpreted
    // aggregate(sequence(...)) HOF per scanned row
    val adcRes = graft.functions.pq_adc(col("lut"), col("codes"))
    val wPq = Window.partitionBy(col("q_id")).orderBy(desc("cos_pq"), asc("cand_id"))
    val shortlist = encoded.join(broadcast(probes),
        col("cell") === col("probe_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        ((col("qcdot") + adcRes) /
          (sqrt(col("q_nrm").cast("double")) * sqrt(col("nrm").cast("double"))))
          .as("cos_pq"))
      .withColumn("rkp", row_number().over(wPq))
      .filter(col("rkp") <= PqShortlist)
      .select("q_id", "cand_id")
    // exact re-rank on the shortlist (quantization can demote true
    // neighbors out of the pool, never fabricate false ones in)
    val qq = q.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val cand = q.select(col("vec_id").as("cand_id"), col("qv"), col("nrm"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("cand_id"))
    shortlist.join(cand, "cand_id").join(broadcast(qq), "q_id")
      .select(col("q_id"), col("cand_id"),
        cosine(graft.functions.quantized_dot(col("q_qv"), col("qv")),
          col("q_nrm"), col("nrm")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .orderBy("q_id", "rk")
  }

  val entries: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "s12_knn_ivfpq" -> (s12KnnIvfPq _, None),
    "s11_knn_pq" -> (s11KnnPq _, None),
    "s10_knn_graph" -> (s10KnnGraph _, None),
    "s9_range_search" -> (s9RangeSearch _, Some(s9Sql)),
    "s8_mmr_rerank" -> (s8MmrRerank _, None),
    "s7_knn_sq8" -> (s7KnnSq8 _, Some(s7Sql)),
    "s5_knn_ivf" -> (s5KnnIvf _, None),
    "s6_pairwise_lsh" -> (s6PairwiseLsh _, None),
    "s1_knn_brute" -> (s1KnnBrute _, Some(s1Sql)),
    "s2_knn_lsh" -> (s2KnnLsh _, None),
    "s3_pairwise_topsim" -> (s3PairwiseTopsim _, Some(s3Sql)),
    "s4_centroid" -> (s4Centroid _, Some(s4Sql)),
  )
}
