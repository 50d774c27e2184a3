package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables

/** Deduplication family for LLM-training corpora (SURVEY.md §2c).
  *
  * Scale story (§5): nothing here is all-pairs. Exact dedup is one
  * hash-groupBy; the fuzzy variants all go shingle/signature → bucket →
  * pair-join *within buckets only*, with a document-frequency cap on
  * shingles (stop-shingle removal) so boilerplate text can't create a
  * quadratic hot bucket. That is the shape that survives 100 TB — the
  * candidate-pair count tracks true-duplicate density, not corpus².
  */
object Dedup {

  /** Shingles with document frequency above the cap are dropped before
    * any pair join (boilerplate/stop-shingles — they carry no dedup
    * signal and all of the skew). The cap is corpus-relative —
    * max(DfCapFloor, DfCapFrac × |docs|) — a fixed cap silently drops
    * every shingle once the corpus (or its duplication rate) outgrows
    * it: at 8× replication of sf0.1 a fixed cap of 50 yields ZERO
    * candidate pairs. */
  val DfCapFloor = 50L
  val DfCapFrac  = 0.01
  /** Verified-Jaccard output threshold for d2/d3. */
  val JaccardTau = 0.3

  /** d1_dedup_exact — exact duplicate groups by md5 of normalized text
    * (md5 is bit-identical across engines). One groupBy, no joins: the
    * 100 TB path is a single shuffle on a 16-byte key. */
  def d1DedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(to_binary(lower(trim(col("text"))), lit("utf-8"))).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies", "text_hash")
      .orderBy("keep_id")

  val d1Sql: String =
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
      |  md5(lower(trim(text))) AS text_hash
      |FROM documents GROUP BY md5(lower(trim(text)))
      |ORDER BY keep_id""".stripMargin

  /** Per-doc array of distinct 3-token shingle HASHES via the native
    * codegen'd `shingle_hashes` expression (graft.functions) — one
    * static-kernel call per row inside WholeStageCodegen, no interpreted
    * higher-order-function chain. Cached: ~50 longs × |docs|, shared by
    * every dedup query in the session.
    *
    * The DuckDB oracle works on the shingle *strings* (window LEAD
    * construction); hash vs string identity differs only on hash
    * collisions (~1e-9 per corpus). */
  private def shingleArrays(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), graft.functions.shingle_hashes(col("text")).as("sh_arr"))
      .filter(size(col("sh_arr")) > 0)
      .cache()

  /** Exploded distinct (doc_id, shingle-hash) rows for inverted-index
    * joins — 8-byte keys, codegen-friendly. */
  private def shingles(s: SparkSession, d: String): DataFrame =
    shingleArrays(s, d)
      .select(col("doc_id"), explode(col("sh_arr")).as("h"))
      // matches the SQL twin's DISTINCT (doc_id, shingle): the kernel
      // dedups per ROW, so this only differs if a doc_id repeats
      .distinct()

  private val shinglesSql =
    """sh AS (SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id,
      |    term || ' ' || LEAD(term, 1) OVER w || ' ' || LEAD(term, 2) OVER w AS shingle,
      |    LEAD(term, 2) OVER w AS t2
      |  FROM (SELECT doc_id, rid, unnest(string_split(text, ' ')) AS term,
      |        generate_subscripts(string_split(text, ' '), 1) AS pos
      |        FROM (SELECT *, row_number() OVER () AS rid FROM documents) dd) x
      |  WHERE term <> ''
      |  WINDOW w AS (PARTITION BY rid ORDER BY pos)) y
      |  WHERE t2 IS NOT NULL)""".stripMargin

  /** d2_dedup_ngram_jaccard — n-gram Jaccard near-dup pairs: distinct
    * shingle sets, df-capped inverted index, pair-join on shared
    * shingles, exact Jaccard ≥ τ. Both the intersection AND the set
    * sizes are computed over the df-capped shingle space (a shingle
    * over the cap is excluded from numerator and denominator alike), so
    * the ratio is internally consistent however hot the corpus is; when
    * no shingle hits the cap this is plain full-set Jaccard and agrees
    * exactly with d3's array-intersect verify. The division is two exact
    * ints in IEEE double → bit-identical across engines. */
  /** Per-(session, op:dir) memo of MATERIALIZED pair tables: a dedup
    * pipeline computes its pair table once and every consumer (the
    * pair query itself, CC clustering d6/d7, curation t7/t8, the
    * parity specs) reads that materialization — recomputing the
    * candidate-generation join per consumer is pure waste at any
    * scale. localCheckpoint pins the rows and truncates lineage;
    * eviction on application end via [[graft.SessionMemo]]. */
  private val pairsMemo = new graft.SessionMemo[DataFrame]

  def d2DedupNgramJaccard(s: SparkSession, d: String): DataFrame =
    pairsMemo.getOrElseUpdate(s, s"d2:$d") { d2Compute(s, d).localCheckpoint(true) }

  private def d2Compute(s: SparkSession, d: String): DataFrame = {
    // inverted index on hashed shingles (8-byte join keys). df-cap
    // enforced by broadcast ANTI join against the tiny over-cap reject
    // list (the heavy hitters), so the index never shuffles for
    // filtering. Per-doc capped set size rides along via a doc_id
    // window count — one extra long per row instead of joining a
    // per-document sizes table back in afterwards (which at corpus
    // scale would either broadcast a document-sized table or add two
    // more shuffles). The capped index is MATERIALIZED once
    // (localCheckpoint): plan-level exchange reuse between the self-
    // join's sides is a planner coincidence that measurably does NOT
    // fire here, and without the pin the anti-join + window re-run per
    // side. d2 runs once per session (its output is memoized), so the
    // materialization cost is paid once. Everything below is codegen.
    val sh = shingles(s, d)
    val nDocs = shingleArrays(s, d).count() // cached relation — cheap
    val dfCap = math.max(DfCapFloor, math.ceil(DfCapFrac * nDocs).toLong)
    val reject = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("h")
    val idx = sh.join(broadcast(reject), Seq("h"), "left_anti")
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .localCheckpoint(true)
    idx.as("a").join(idx.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"),
        min(col("a.sz")).as("sz_a"), min(col("b.sz")).as("sz_b"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("sz_a") + col("sz_b") - col("shared")))
      .filter(col("jaccard") >= JaccardTau)
      .select("doc_a", "doc_b", "shared", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  val d2Sql: String =
    s"""WITH $shinglesSql,
       |keep AS (SELECT shingle FROM sh GROUP BY shingle
       |  HAVING COUNT(*) <= GREATEST($DfCapFloor,
       |    CAST(ceil($DfCapFrac * (SELECT COUNT(DISTINCT doc_id) FROM sh)) AS BIGINT))),
       |idx AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep ON sh.shingle = keep.shingle),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM idx GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
       |  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT doc_a, doc_b, shared,
       |  CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) AS jaccard
       |FROM pairs JOIN sizes sa ON pairs.doc_a = sa.doc_id
       |JOIN sizes sb ON pairs.doc_b = sb.doc_id
       |WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= $JaccardTau
       |ORDER BY doc_a, doc_b""".stripMargin

  private val MinhashK = 32
  private val Bands = 8 // 8 bands × 4 rows

  /** d3_dedup_minhash_lsh — MinHash signatures (k=32, xxhash64 seeded per
    * permutation) → 8-band LSH bucketing → candidate pairs only within
    * buckets → exact-Jaccard verification. This is the 100 TB dedup
    * path: the quadratic step is confined to hash buckets whose size
    * tracks duplicate density. xxhash64 has no DuckDB twin → rows-only;
    * DedupSpec checks recall against d2's exact pairs. */
  def d3DedupMinhashLsh(s: SparkSession, d: String): DataFrame =
    pairsMemo.getOrElseUpdate(s, s"d3:$d") { d3Compute(s, d).localCheckpoint(true) }

  private def d3Compute(s: SparkSession, d: String): DataFrame = {
    val docs = shingleArrays(s, d)
    // k=32 signature in ONE native-kernel pass per doc (codegen'd
    // MinHashSignature expression), then band columns off the array
    val sigCols = (0 until MinhashK).map { i =>
      element_at(col("sig"), i + 1).as(s"h$i")
    }
    val sigs = docs
      .select(col("doc_id"),
        graft.functions.minhash_signature(col("sh_arr"), MinhashK).as("sig"))
      .select(Seq(col("doc_id")) ++ sigCols: _*)
    val bandCols = (0 until Bands).map { b =>
      xxhash64((0 until MinhashK / Bands)
        .map(r => col(s"h${b * (MinhashK / Bands) + r}")): _*)
        .as(s"band$b")
    }
    val exploded = sigs.select(Seq(col("doc_id")) ++ bandCols: _*)
      .select(col("doc_id"),
        posexplode(array((0 until Bands).map(b => col(s"band$b")): _*)).as(Seq("band_idx", "band_hash")))
    val cands = exploded.as("a").join(exploded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // exact-Jaccard verify on candidate pairs only: pull both shingle
    // arrays and intersect per-row — the quadratic step never leaves
    // the candidate set
    cands
      .join(docs.select(col("doc_id").as("doc_a"), col("sh_arr").as("arr_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh_arr").as("arr_b")), "doc_b")
      .withColumn("shared", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .withColumn("jaccard",
        col("shared").cast("double") / (size(col("arr_a")) + size(col("arr_b")) - col("shared")))
      .filter(col("jaccard") >= JaccardTau)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** d4_dedup_simhash — 64-bit SimHash kept as 4×16-bit bands (band
    * equality is the LSH bucket key for hamming≤3 candidate search —
    * by pigeonhole any pair within hamming 3 shares at least one band).
    * xxhash64 bit votes → rows-only; DedupSpec pins determinism. */
  def d4DedupSimhash(s: SparkSession, d: String): DataFrame = {
    // one native-kernel pass per doc (codegen'd SimHashBands): token
    // hashes vote ±1 per bit, majority wins, packed into 4×16-bit bands
    // — no explode/groupBy for signature construction at all
    val sims = Tables.documents(s, d)
      .select(col("doc_id"), graft.functions.simhash_bands(col("text")).as("bands"))
      .select(col("doc_id"),
        element_at(col("bands"), 1).as("band0"), element_at(col("bands"), 2).as("band1"),
        element_at(col("bands"), 3).as("band2"), element_at(col("bands"), 4).as("band3"))
    val exploded = sims.select(col("doc_id"),
      posexplode(array(col("band0"), col("band1"), col("band2"), col("band3")))
        .as(Seq("band_idx", "band_val")))
    val cands = exploded.as("a").join(exploded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val withSig = cands
      .join(sims.select(col("doc_id").as("doc_a"),
        col("band0").as("a0"), col("band1").as("a1"), col("band2").as("a2"), col("band3").as("a3")), "doc_a")
      .join(sims.select(col("doc_id").as("doc_b"),
        col("band0").as("b0"), col("band1").as("b1"), col("band2").as("b2"), col("band3").as("b3")), "doc_b")
    withSig
      .withColumn("hamming",
        bit_count(col("a0").bitwiseXOR(col("b0"))) + bit_count(col("a1").bitwiseXOR(col("b1"))) +
        bit_count(col("a2").bitwiseXOR(col("b2"))) + bit_count(col("a3").bitwiseXOR(col("b3"))))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** d5_dedup_embedding — embedding-cosine near-dup pairs on a
    * deterministic systematic sample. Embeddings are quantized to
    * integer milli-units, so dot and norms are exact integer math and
    * the final cosine is a deterministic double on both engines (dots
    * ≤ 6.4e13 ≪ 2^53). The sample bounds the pair count; the unsampled
    * scale path is s2's LSH bucketing. */
  def d5DedupEmbedding(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id"),
        // native quantization kernel — bit-identical to the
        // transform+round chain (ExpressionsSpec parity)
        graft.functions.quantize_milli(col("embedding")).as("qv"))
      .withColumn("nrm", graft.functions.sq_norm(col("qv")))
    q.as("a").join(q.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        graft.functions.quantized_dot(col("a.qv"), col("b.qv")).as("dot"),
        col("a.nrm").as("nrm_a"), col("b.nrm").as("nrm_b"))
      .withColumn("cos_sim",
        col("dot").cast("double") / (sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))
      .filter(col("cos_sim") >= 0.25)
      .select("vec_a", "vec_b", "cos_sim")
      .orderBy("vec_a", "vec_b")
  }

  val d5Sql: String =
    """WITH q AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0, 0) AS BIGINT)) AS qv
      |  FROM embeddings WHERE vec_id % 10 = 0),
      |n AS (SELECT vec_id, qv, CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS nrm FROM q),
      |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot,
      |  a.nrm AS nrm_a, b.nrm AS nrm_b
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b,
      |  CAST(dot AS DOUBLE) / (sqrt(CAST(nrm_a AS DOUBLE)) * sqrt(CAST(nrm_b AS DOUBLE))) AS cos_sim
      |FROM p
      |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(nrm_a AS DOUBLE)) * sqrt(CAST(nrm_b AS DOUBLE))) >= 0.25
      |ORDER BY vec_a, vec_b""".stripMargin

  // d6_dedup_clusters — the verdict a dedup pipeline actually writes:
  // connected components over the near-dup pair graph → one canonical
  // keeper (min doc_id) per cluster, every document labeled.

  /** Converged (doc_id, lbl) min-labels over an undirected near-dup
    * pair graph, via min-label propagation with POINTER DOUBLING: each
    * round a node takes the min over (its label, its neighbors' labels,
    * its label's label). The label-through-label hop squares the reach
    * per round, so rounds ≈ log₂(diameter) instead of diameter — on a
    * length-d chain plain one-hop propagation needs d rounds (each an
    * action + 2 Spark jobs); doubling needs ~log₂(d).
    * `localCheckpoint` truncates the growing lineage each round.
    * Returns (labels, rounds).
    * THROWS if the cap is hit unconverged: returning (or memoizing)
    * partial labels would silently corrupt every downstream keeper
    * verdict. The 20-round cap covers diameter 2^20. */
  private[graft] def propagateLabels(pairs: DataFrame): (DataFrame, Int) = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .cache()
    // convergence is detected by the exact LABEL-MASS invariant instead
    // of a per-round labels⋈labels change join: labels ride the union
    // feeding each round's min, so every doc's label is monotone
    // non-increasing over a FIXED doc set — the label sum (exact
    // decimal(38,0), no overflow at any id domain) strictly decreases
    // until the fixed point. One narrow agg over the just-checkpointed
    // frame replaces the old change join AND its extra action; the
    // checkpoint itself is LAZY so the mass agg is also the job that
    // materializes it — one action per round where there were two.
    // (count, sum) rather than sum alone: a decimal(38,0) overflow
    // nulls the sum, and a null reading as "unchanged" would report
    // convergence on round 1 and silently emit wrong labels (ADVICE
    // r21) — so a non-empty frame with a null sum throws loudly. The
    // empty-graph case ((0, None) == (0, None)) still converges
    // immediately, which is correct: no edges, no labels to settle.
    def lblMass(df: DataFrame): (Long, Option[java.math.BigDecimal]) = {
      val r = df.agg(count(lit(1)), sum(col("lbl").cast("decimal(38,0)"))).head()
      val cnt = r.getLong(0)
      val s = Option(r.getDecimal(1))
      if (cnt > 0 && s.isEmpty)
        throw new IllegalStateException(
          "label-mass sum overflowed decimal(38,0) — convergence undetectable, " +
            "refusing to emit cluster labels")
      (cnt, s)
    }
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("lbl", col("doc_id"))
      .localCheckpoint(false)
    var mass = lblMass(labels)
    var converged = false
    var iter = 0
    val maxRounds = 20
    try {
      while (!converged && iter < maxRounds) {
        val prop = edges.join(labels, col("doc_id") === col("src"))
          .select(col("dst").as("doc_id"), col("lbl"))
        val grown =
          // round 1's jump is the identity (every label is its own doc_id),
          // so the label-through-label join only joins from round 2 on
          if (iter == 0) labels.union(prop)
          else {
            val jump = labels.as("x").join(labels.as("p"), col("x.lbl") === col("p.doc_id"))
              .select(col("x.doc_id").as("doc_id"), col("p.lbl").as("lbl"))
            labels.union(prop).union(jump)
          }
        val next = grown
          .groupBy("doc_id").agg(min(col("lbl")).as("lbl"))
          .localCheckpoint(false)
        val nextMass = lblMass(next)
        converged = nextMass == mass
        mass = nextMass
        labels = next
        iter += 1
      }
    } finally edges.unpersist() // released even if a round's job throws
    if (!converged)
      throw new IllegalStateException(
        s"near-dup label propagation did not converge in $maxRounds rounds " +
          "— refusing to emit partial cluster labels")
    (labels, iter)
  }

  /** Memoized per (session, pairSource:dir): d6 and t7 both need the
    * labels and the propagation loop's checkpointed frames are not
    * CacheManager-dedupable across calls (fresh checkpoint lineage), so
    * one run of the loop serves both. Session-scoped (evicted on
    * SparkContext end) via [[graft.SessionMemo]]. */
  private[graft] val labelsMemo = new graft.SessionMemo[DataFrame]

  private def clusterLabels(s: SparkSession, d: String, pairSource: String): DataFrame =
    labelsMemo.getOrElseUpdate(s, s"$pairSource:$d") {
      val pairs = pairSource match {
        case "d3" => d3DedupMinhashLsh(s, d).select("doc_a", "doc_b")
        case _    => d2DedupNgramJaccard(s, d).select("doc_a", "doc_b")
      }
      propagateLabels(pairs)._1
    }

  /** Label/keeper verdict over any id universe: left-join propagated
    * labels (singletons are their own cluster), flag the minimum-id
    * representative. One shape for every modality — d6/d7 (text) and
    * m8 (image) emit structurally identical cluster tables. */
  private[graft] def clusterVerdict(universe: DataFrame, labels: DataFrame): DataFrame =
    universe.join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .withColumn("is_keeper", (col("cluster_id") === col("doc_id")).cast("long"))
      .orderBy("doc_id")

  private def clustersOver(s: SparkSession, d: String, pairSource: String): DataFrame =
    clusterVerdict(Tables.documents(s, d).select("doc_id"),
      clusterLabels(s, d, pairSource))

  /** Oracle-gated form: pairs from d2's exact capped-space Jaccard, so
    * the DuckDB WITH RECURSIVE closure can hash-check end-to-end. */
  def d6DedupClusters(s: SparkSession, d: String): DataFrame =
    clustersOver(s, d, "d2")

  /** The 100 TB form: the SAME propagation loop over d3's LSH-bucketed
    * pairs — pair generation cost tracks duplicate density instead of
    * going quadratic under replication (measured on 8×/16× replicas:
    * d3 sublinear, d2 quadratic-ish; SURVEY §5). DedupSpec pins its
    * clustering against the d2-sourced labels at test SF. */
  def d6DedupClustersLsh(s: SparkSession, d: String): DataFrame =
    clustersOver(s, d, "d3")

  val d6Sql: String =
    s"""WITH RECURSIVE $shinglesSql,
       |keep AS (SELECT shingle FROM sh GROUP BY shingle
       |  HAVING COUNT(*) <= GREATEST($DfCapFloor,
       |    CAST(ceil($DfCapFrac * (SELECT COUNT(DISTINCT doc_id) FROM sh)) AS BIGINT))),
       |idx AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep ON sh.shingle = keep.shingle),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM idx GROUP BY doc_id),
       |p0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
       |  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |pairs AS (SELECT doc_a, doc_b FROM p0
       |  JOIN sizes sa ON p0.doc_a = sa.doc_id JOIN sizes sb ON p0.doc_b = sb.doc_id
       |  WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= $JaccardTau),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |walk(a, b) AS (SELECT src, dst FROM edges
       |  UNION SELECT w.a, e.dst FROM walk w JOIN edges e ON w.b = e.src),
       |cc AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM walk GROUP BY a)
       |SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
       |  CASE WHEN COALESCE(cc.cluster_id, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS is_keeper
       |FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** d8's span width (words) and cross-doc repeat threshold. Spans are
    * NON-overlapping 4-word windows: the smallest unit at which the
    * synthetic corpus (and real boilerplate — headers, license blocks,
    * nav chrome) actually repeats across documents, while 1-word grain
    * would flag ordinary vocabulary. */
  private[graft] val D8SpanWords = 4
  private[graft] val D8MinDf = 2L

  /** Core of d8 over any (doc_id, text) frame — separated so the spec
    * can plant boilerplate fixtures. Span construction is entirely
    * row-local (split once, slice W-word windows, array_distinct), so
    * the first shuffle already carries only (doc_id, n_spans, span-hash)
    * = 24-byte rows; span df is a count window over the hash — the
    * t13-style one-scan df discipline, no self-join, no string in any
    * exchange. Hash-vs-string identity differs from the oracle only on
    * xxhash64 collisions (~1e-8 per corpus). */
  private[graft] def d8Core(docs: DataFrame): DataFrame = {
    val W = D8SpanWords
    val spans = docs
      .withColumn("w", split(trim(col("text")), " "))
      .select(col("doc_id"), expr(
        s"""array_distinct(CASE WHEN size(w) >= $W
           |  THEN transform(sequence(0, size(w) div $W - 1),
           |    i -> array_join(slice(w, i*$W+1, $W), ' '))
           |  ELSE array() END)""".stripMargin).as("spans"))
    val exploded = spans
      .select(col("doc_id"), size(col("spans")).cast("long").as("n_spans"),
        explode(col("spans")).as("span"))
      .select(col("doc_id"), col("n_spans"), xxhash64(col("span")).as("sh"))
    val per = exploded
      .withColumn("ndocs", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .groupBy(col("doc_id"))
      .agg(max(col("n_spans")).as("n_spans"),
        sum(when(col("ndocs") >= D8MinDf, 1L).otherwise(0L)).as("n_repeated"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"),
        when(coalesce(col("n_spans"), lit(0L)) === 0L, lit(0.0))
          .otherwise(col("n_repeated").cast("double") / col("n_spans"))
          .as("boilerplate_share"))
      .orderBy("doc_id")
  }

  /** d8_dedup_substring — sub-document (span-grain) dedup verdicts, the
    * Lee-et-al-style pass that whole-document dedup (d1-d5) cannot
    * express: a document is mostly-unique yet carries REPEATED SPANS
    * (boilerplate) shared with other documents. Emits, per document, the
    * span count, how many of its spans occur in ≥ [[D8MinDf]] documents,
    * and the boilerplate share — the score a curation pipeline trims or
    * drops on. Fully oracle-checked (exact counts; the only divergence
    * channel is a span-hash collision). */
  def d8DedupSubstring(s: SparkSession, d: String): DataFrame =
    d8Core(Tables.documents(s, d))

  val d8Sql: String = {
    val W = D8SpanWords
    s"""WITH c AS (
       |  SELECT doc_id, unnest(list_transform(range(0, len(string_split(trim(text), ' ')) // $W),
       |    i -> array_to_string(list_slice(string_split(trim(text), ' '), i*$W+1, i*$W+$W), ' '))) AS span
       |  FROM documents
       |), s AS (SELECT DISTINCT doc_id, span FROM c),
       |d AS (SELECT span, COUNT(*) AS ndocs FROM s GROUP BY span),
       |per AS (SELECT s.doc_id, COUNT(*) AS n_spans,
       |    CAST(SUM(CASE WHEN d.ndocs >= $D8MinDf THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated
       |  FROM s JOIN d USING (span) GROUP BY s.doc_id)
       |SELECT doc.doc_id AS doc_id,
       |  COALESCE(per.n_spans, 0) AS n_spans,
       |  COALESCE(per.n_repeated, 0) AS n_repeated,
       |  CASE WHEN COALESCE(per.n_spans, 0) = 0 THEN 0.0
       |    ELSE CAST(per.n_repeated AS DOUBLE) / per.n_spans END AS boilerplate_share
       |FROM documents doc LEFT JOIN per ON doc.doc_id = per.doc_id
       |ORDER BY doc.doc_id""".stripMargin
  }

  val entries: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "d8_dedup_substring" -> (d8DedupSubstring _, Some(d8Sql)),
    "d6_dedup_clusters" -> (d6DedupClusters _, Some(d6Sql)),
    "d7_dedup_clusters_lsh" -> (d6DedupClustersLsh _, None),
    "d1_dedup_exact" -> (d1DedupExact _, Some(d1Sql)),
    "d2_dedup_ngram_jaccard" -> (d2DedupNgramJaccard _, Some(d2Sql)),
    "d3_dedup_minhash_lsh" -> (d3DedupMinhashLsh _, None),
    "d4_dedup_simhash" -> (d4DedupSimhash _, None),
    "d5_dedup_embedding" -> (d5DedupEmbedding _, Some(d5Sql)),
  )
}
