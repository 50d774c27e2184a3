package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Engine/scale demonstrations (SURVEY.md §2h): the source/sink surface
  * and the scale techniques (skew salting, partitioned writes) that the
  * rest of the library leans on, each expressed as an oracle-checkable
  * query so the driver's gate covers them too.
  */
object Engine {

  /** Fixed per-operator sink dirs (overwrite mode bounds disk use across
    * repeated Verify/Bench rounds — fresh createTempDirectory per call
    * would accumulate table copies forever). */
  private[graft] def tmpDir(prefix: String): String = {
    val p = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_sinks", prefix)
    Files.createDirectories(p)
    p.toString
  }

  /** Entries of a directory, via a CLOSED stream — a bare
    * `Files.list(p)` leaks a directory handle per call. Missing dir =
    * empty. */
  private[graft] def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val st = Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.toList
      } finally st.close()
    }

  /** Recursive delete (children first), closing the walk stream;
    * tolerates files and directories alike. */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      } finally st.close()
    }

  /** Swap a fully-staged partition directory into a live table via two
    * same-filesystem renames (live → trash, staged → live). A
    * concurrent reader sees EITHER the complete old partition or the
    * complete new one — never a half-written file; the worst case is a
    * sub-millisecond window between the renames where the partition is
    * absent from a listing. Single-syscall atomicity plus multi-
    * partition snapshot isolation is a table format's job (Delta /
    * Iceberg, or renameat2(RENAME_EXCHANGE)); this staging+rename
    * discipline is the primitive those formats build on, and is what
    * replaces x6's previous in-place overwrite (under which a reader
    * mid-rewrite saw a torn table). */
  private[graft] def swapPartition(tableRoot: String, partName: String,
      stagedDir: String): Unit = {
    val live = java.nio.file.Paths.get(tableRoot, partName)
    // dot-prefixed: Spark's file index ignores hidden dirs, so readers
    // never list the trash or a staged dir as data
    val trash = java.nio.file.Paths.get(tableRoot, s".trash_$partName")
    deleteRecursively(trash)
    if (Files.exists(live))
      Files.move(live, trash, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Files.move(java.nio.file.Paths.get(stagedDir), live,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(trash)
  }

  /** x1_csv_roundtrip — write the customer dim to CSV (header, explicit
    * schema on readback — never infer in production) and aggregate from
    * the readback. Oracle aggregates the original table: the round-trip
    * must be lossless for the gate to pass. */
  def x1CsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = tmpDir("graft_csv")
    val c = Tables.customer(s, d)
    c.write.mode("overwrite").option("header", "true").csv(out)
    s.read.schema(c.schema).option("header", "true").csv(out)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast("decimal(18,6)")).cast("double").as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  val x1Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_cust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** x2_json_roundtrip — JSON-lines sink+source round-trip over orders
    * (timestamps forced to DATE first: JSON carries no parquet logical
    * types, so normalize before writing — the pattern for interchange
    * with non-columnar consumers). */
  def x2JsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = tmpDir("graft_json")
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), to_date(col("o_orderdate")).as("order_date"))
    o.write.mode("overwrite").json(out)
    s.read.schema(o.schema).json(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        max(col("order_date")).as("last_date"))
      .orderBy("o_orderstatus")
  }

  val x2Sql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  MAX(CAST(o_orderdate AS DATE)) AS last_date
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** x12_orc_roundtrip — ORC sink+source round-trip over the part dim:
    * the other columnar interchange format big estates actually hold
    * (Hive-era lakes are ORC). Same discipline as x1: explicit schema
    * on readback, aggregate from the readback, oracle aggregates the
    * original parquet — lossless round-trip or the gate fails. ORC
    * carries the same logical types as parquet so no normalization
    * step is needed (contrast x2's JSON date coercion). */
  def x12OrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = tmpDir("graft_orc")
    val p = Tables.part(s, d)
    p.write.mode("overwrite").orc(out)
    s.read.schema(p.schema).orc(out)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("p_retailprice").cast("decimal(18,6)")).cast("double").as("sum_price"),
        max(col("p_size")).as("max_size"))
      .orderBy("p_brand")
  }

  val x12Sql: String =
    """SELECT p_brand, COUNT(*) AS n_parts,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
      |  MAX(p_size) AS max_size
      |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** x3_salted_agg — two-phase skew-salted aggregation: salt the key
    * space ×16, partial-aggregate on (key, salt), then final-aggregate
    * on key. Result is provably identical to the direct groupBy (the
    * oracle computes it directly) while the first shuffle spreads any
    * hot key over 16 reducers — the manual fallback when AQE skew
    * handling can't see a skewed aggregation. */
  def x3SaltedAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .withColumn("salt", pmod(col("l_orderkey") * 31L + col("l_linenumber"), lit(16)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(count(lit(1)).as("pc"),
        sum(col("l_quantity").cast("decimal(18,6)")).as("pq"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("pc")).as("n_rows"),
        sum(col("pq")).cast("double").as("sum_qty"))
      .orderBy("l_returnflag")

  val x3Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** x4_partitioned_write — the reference's daily incremental layout:
    * write events day-partitioned (partition column in the directory
    * layout), read back ONE day with a partition filter (pruned scan —
    * only that directory is touched), aggregate it. Oracle computes the
    * same day directly from the source table. */
  def x4PartitionedWrite(s: SparkSession, d: String): DataFrame = {
    val out = tmpDir("graft_part")
    val ev = Tables.events(s, d)
      .withColumn("ep", expr("ts div 1000000000"))
      .withColumn("day", date_add(lit("1970-01-01").cast("date"),
        expr("ep div 86400").cast("int")))
    ev.select("event_id", "user_id", "event_type", "value", "ep", "day")
      .write.mode("overwrite").partitionBy("day").parquet(out)
    s.read.parquet(out)
      .filter(col("day") === "2024-01-05")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("event_type")
  }

  val x4Sql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events
      |WHERE CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)
      |    = CAST(FLOOR(epoch(TIMESTAMP '2024-01-05') / 86400) AS BIGINT)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** x5_kmeans_embeddings — MLlib KMeans (k=10, fixed seed) over the
    * embeddings table: cluster sizes + intra-cluster cost shape. The
    * reference family's unsupervised stage; rows-only (iterative float
    * math has no SQL twin), EngineSpec pins determinism. */
  def x5KmeansEmbeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val data = Tables.embeddings(s, d)
      .select(col("vec_id"),
        array_to_vector(col("embedding").cast("array<double>")).as("features"))
      .coalesce(4).cache()
    val model = new KMeans().setK(10).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("features").fit(data)
    model.transform(data)
      .groupBy(col("prediction").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("cluster")
  }

  /** x6_incremental_merge — the reference's daily incremental load:
    * merge a "new day" batch into an existing day-partitioned snapshot,
    * last-writer-wins per key. The snapshot is a real partitioned table
    * (the x4 layout); the merge's dedupe-window union touches ONLY the
    * re-ingested day — the partition filter prunes the snapshot scan to
    * that one directory (PlanSpec asserts), and every untouched day
    * flows straight to the final aggregate with no dedupe shuffle. At
    * 100 TB that is the difference between shuffling one day and
    * shuffling the whole table every night. Here: day-29 events
    * re-ingested with value+100 must replace the originals; the oracle
    * computes the expected post-merge aggregate. */
  private[graft] val X6LastDay = 19751L // 2024-01-29

  /** Step 1: materialize the day-partitioned snapshot table. */
  private[graft] def x6WriteSnapshot(s: SparkSession, d: String): String = {
    val out = tmpDir("graft_merge_snapshot")
    Tables.events(s, d)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .select("event_id", "user_id", "event_type", "value", "ep_day")
      .write.mode("overwrite").partitionBy("ep_day").parquet(out)
    out
  }

  /** The merged affected-day frame: dedupe window over (affected
    * partition ∪ re-ingested batch), last-writer-wins per event_id. The
    * snapshot scan is PRUNED to the one day partition (PlanSpec) — at
    * 100 TB the nightly merge reads one day, never the table. */
  private[graft] def x6MergedDay(s: SparkSession, d: String, snapshotDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val snapshot = s.read.parquet(snapshotDir)
    val newBatch = Tables.events(s, d)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .select("event_id", "user_id", "event_type", "value", "ep_day")
      .filter(col("ep_day") === X6LastDay)
      .withColumn("value", col("value") + 100.0)
      .withColumn("batch", lit(1L))
    val affected = snapshot.filter(col("ep_day") === X6LastDay)
      .withColumn("batch", lit(0L))
    val w = Window.partitionBy(col("event_id")).orderBy(desc("batch"))
    affected.unionByName(newBatch)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .drop("rk", "batch")
  }

  /** Step 2: write the merged day to a hidden staging dir INSIDE the
    * table root (same filesystem — the swap renames must be atomic).
    * Readers of the table keep seeing the old partition untouched while
    * this runs, however long the write takes. */
  private[graft] def x6StageMergedDay(s: SparkSession, d: String, snapshotDir: String): String = {
    val staged = s"$snapshotDir/.staged_ep_day=$X6LastDay"
    x6MergedDay(s, d, snapshotDir)
      .drop("ep_day") // partition value lives in the directory name
      .write.mode("overwrite").parquet(staged)
    staged
  }

  def x6IncrementalMerge(s: SparkSession, d: String): DataFrame = {
    val out = x6WriteSnapshot(s, d)
    val staged = x6StageMergedDay(s, d, out)
    swapPartition(out, s"ep_day=$X6LastDay", staged)
    s.read.parquet(out)
      // the partition-dir column reads back type-inferred (int) — pin
      // the output grain to the oracle's BIGINT
      .groupBy(col("ep_day").cast("long").as("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("ep_day")
  }

  val x6Sql: String =
    """WITH e AS (SELECT event_id,
      |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day,
      |  CASE WHEN CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) = 19751
      |    THEN value + 100.0 ELSE value END AS value
      |  FROM events)
      |SELECT ep_day, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM e GROUP BY ep_day ORDER BY ep_day""".stripMargin

  /** x7_data_quality — the validation pass the reference runs on
    * ingested GA data: per-table null/range/duplicate audits, one row
    * per check. Pure aggregations — a single scan per table at scale. */
  def x7DataQuality(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val li = Tables.lineitem(s, d)
    val evChecks = ev.agg(
      count(lit(1)).as("row_count"),
      count(when(col("user_id").isNull, 1)).as("null_keys"),
      count(when(col("value") < 0.0, 1)).as("range_violations"),
      (count(lit(1)) - countDistinct(col("event_id"))).as("duplicate_keys"))
      .withColumn("tbl", lit("events"))
    val liChecks = li.agg(
      count(lit(1)).as("row_count"),
      count(when(col("l_orderkey").isNull, 1)).as("null_keys"),
      count(when(col("l_discount") < 0.0 || col("l_discount") > 1.0, 1)).as("range_violations"),
      (count(lit(1)) - countDistinct(concat_ws(":", col("l_orderkey"), col("l_linenumber"))))
        .as("duplicate_keys"))
      .withColumn("tbl", lit("lineitem"))
    evChecks.union(liChecks)
      .select("tbl", "row_count", "null_keys", "range_violations", "duplicate_keys")
      .orderBy("tbl")
  }

  val x7Sql: String =
    """SELECT 'events' AS tbl, COUNT(*) AS row_count,
      |  COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS null_keys,
      |  COUNT(CASE WHEN value < 0.0 THEN 1 END) AS range_violations,
      |  COUNT(*) - COUNT(DISTINCT event_id) AS duplicate_keys
      |FROM events
      |UNION ALL
      |SELECT 'lineitem' AS tbl, COUNT(*) AS row_count,
      |  COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) AS null_keys,
      |  COUNT(CASE WHEN l_discount < 0.0 OR l_discount > 1.0 THEN 1 END) AS range_violations,
      |  COUNT(*) - COUNT(DISTINCT l_orderkey || ':' || l_linenumber) AS duplicate_keys
      |FROM lineitem
      |ORDER BY tbl""".stripMargin

  /** x8_bucketed_join — co-located fact-fact join: lineitem and orders
    * written bucketed by the join key (8 buckets) via saveAsTable, then
    * joined WITHOUT a shuffle — the physical plan has no Exchange on
    * either side (EngineSpec asserts this). This is the 100 TB answer to
    * the one unavoidable fact-fact shuffle in q3/q5: pay the shuffle
    * once at write time, never again at read time. */
  def x8BucketedJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
    s.sql("DROP TABLE IF EXISTS graft_li_bucketed")
    s.sql("DROP TABLE IF EXISTS graft_o_bucketed")
    // a stale warehouse dir (from a previous metastore instance) blocks
    // managed-table creation even after DROP TABLE — remove locations
    val warehouse = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("graft_li_bucketed", "graft_o_bucketed").foreach { t =>
      deleteRecursively(java.nio.file.Paths.get(warehouse, t))
    }
    // the two bucketed writes are independent jobs on disjoint tables —
    // run them concurrently (guide §2.6: actions are only sequential
    // because the driver calls them sequentially; the second write's
    // tasks back-fill the first's tail). Each table's content, bucket
    // spec and sort are untouched.
    graft.Branches.run(s) { b =>
      b.fork("li-bucketed")(li.write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("graft_li_bucketed"))
      b.fork("o-bucketed")(o.write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("graft_o_bucketed"))
    }
    s.table("graft_li_bucketed")
      .join(s.table("graft_o_bucketed"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)"))
          .cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  val x8Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** x9_external_ingest — the reference's ingestion-connector stage
    * (its GA→Cassandra loader) re-expressed as a generic incremental
    * external-batch loader: an external system drops date-stamped CSV
    * batch directories; the loader reads them with an EXPLICIT schema
    * (never infer in production), selects batches relative to a stored
    * high-watermark month purely via partition pruning (only the new
    * directories are even listed into the scan), validates keys, and
    * lands them in the day-partitioned warehouse table. Run in its two
    * real phases — initial load (months ≤ watermark) then incremental
    * (months > watermark) — so the gate can check the landed table
    * equals the source exactly. At scale each nightly run reads only
    * the new batch dirs and appends new partitions: no rewrite of
    * landed data, no full-feed scan. */
  def x9ExternalIngest(s: SparkSession, d: String): DataFrame = {
    val feed = tmpDir("graft_extern_feed")
    val target = tmpDir("graft_extern_target")
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), to_date(col("o_orderdate")).as("order_date"))
      .withColumn("batch_month", date_format(col("order_date"), "yyyy-MM"))
    // the "external system": a month-batched CSV drop zone
    o.write.mode("overwrite").option("header", "true")
      .partitionBy("batch_month").csv(feed)

    val feedSchema = "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, order_date DATE"
    val watermarkMonth = "1996-12" // stored high-watermark of the last run
    // ONE relation (one directory listing / file index) serves both
    // phases — re-reading per phase re-listed the whole feed tree
    // (guide §6: listing is driver-side, per-scan work); the month
    // predicate still prunes partition directories per phase
    val feedDf = s.read.schema(feedSchema).option("header", "true")
      .option("basePath", feed).csv(feed)
    def load(pred: org.apache.spark.sql.Column, mode: String): Unit =
      feedDf
        .filter(pred)
        .filter(col("o_orderkey").isNotNull && col("order_date").isNotNull)
        .write.mode(mode).partitionBy("batch_month").parquet(target)
    load(col("batch_month") <= watermarkMonth, "overwrite") // initial load
    load(col("batch_month") > watermarkMonth, "append")     // nightly increment

    s.read.parquet(target)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("sum_price"),
        max(col("order_date")).as("last_date"))
      .orderBy("o_orderstatus")
  }

  val x9Sql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
      |  MAX(CAST(o_orderdate AS DATE)) AS last_date
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** x10's fragmented input, staged once per session+dir: in production
    * the drip-fed 64-shard table already EXISTS when the maintenance
    * job runs — staging it is fixture synthesis, not compaction work,
    * so it is memoized like the other table fixtures (statsTable,
    * bloomTable). Profiling the r11→r12 x10 drift showed the staging
    * write absorbing session-first-run codegen/write-path warmup
    * (1.8 s cold vs 0.6 s warm at sf0.1), which benched as a phantom
    * compaction regression. */
  private val fragMemo = new graft.SessionMemo[String]
  private[graft] def fragTable(s: SparkSession, d: String): String =
    fragMemo.getOrElseUpdate(s, d) {
      val frag = tmpDir("graft_frag")
      Tables.events(s, d).select("event_id", "user_id", "event_type", "value")
        .repartition(64).write.mode("overwrite").parquet(frag)
      frag
    }

  /** x10_compaction — small-file compaction, the table-maintenance job
    * every long-lived 100 TB layout needs: a fragmented table (64
    * shards here, thousands of drip-fed files in production) is
    * rewritten into a handful of right-sized files with a plain
    * repartition — no shuffle-free shortcut exists, but the rewrite is
    * a single linear pass and runs per-partition in production. Output
    * aggregates the compacted readback; the oracle aggregates the
    * source, so the gate proves compaction lost nothing. EngineSpec
    * asserts the file count actually dropped. */
  def x10Compaction(s: SparkSession, d: String): DataFrame = {
    val frag = fragTable(s, d)
    val compact = tmpDir("graft_compact")
    s.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compact)
    s.read.parquet(compact)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("event_type")
  }

  val x10Sql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Parquet part-file counts for the two x10 sink dirs (spec helper). */
  def x10FileCounts(): (Int, Int) = {
    def parts(p: String): Int =
      listDir(java.nio.file.Paths.get(p))
        .count(_.getFileName.toString.endsWith(".parquet"))
    (parts(tmpDir("graft_frag")), parts(tmpDir("graft_compact")))
  }

  /** x11_skew_join — the AQE runtime answer to join skew (x3 is the
    * manual salting answer for aggregations): a fact stream where a
    * third of all rows hammer ONE key joins the customer dim. Under
    * production settings with a big dim this is a sort-merge join whose
    * hot partition AQE splits at runtime (OptimizeSkewedJoin) — no
    * salting code, no plan change; EngineSpec forces the shuffled path
    * with tiny skew thresholds and asserts `skew=true` appears in the
    * final adaptive plan. The query itself is oracle-checked like any
    * other. */
  def x11SkewJoin(s: SparkSession, d: String): DataFrame = {
    // the props payload rides through the join (and is aggregated, so
    // column pruning can't drop it): the hot key is skewed in BYTES,
    // which is what AQE's skew detector actually measures
    val ev = Tables.events(s, d)
      .withColumn("uid",
        when(pmod(col("event_id"), lit(3)) === 0, 1L).otherwise(col("user_id")))
      .select("uid", "value", "props")
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    ev.join(c, col("uid") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"),
        sum(length(col("props"))).as("props_chars"))
      .orderBy("c_mktsegment")
  }

  val x11Sql: String =
    """WITH e AS (SELECT CASE WHEN event_id % 3 = 0 THEN 1 ELSE user_id END AS uid,
      |  value, props FROM events)
      |SELECT c_mktsegment, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
      |  CAST(SUM(length(props)) AS BIGINT) AS props_chars
      |FROM e JOIN customer ON uid = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** x13_runtime_filter — Catalyst's runtime bloom-filter join pruning
    * (InjectRuntimeFilter): a selective dim-side predicate (urgent
    * orders only) is turned into a bloom filter BUILT AT RUNTIME from
    * the creation side and applied as `might_contain` on the fact scan,
    * so lineitem rows for non-urgent orders die at the scan instead of
    * riding the shuffle into the join — on a 100 TB fact table this is
    * the difference between shuffling the table and shuffling the ~1/5
    * that can match. Injection is stats-gated: production defaults
    * require a >10 GB application side, so this demo lowers the
    * thresholds (restored after planning) to make the same rewrite fire
    * at test SF; PlanSpec asserts `might_contain` reached the final
    * plan. The rewrite is semantics-preserving — the oracle is the
    * plain join. */
  def x13RuntimeFilter(s: SparkSession, d: String): DataFrame = {
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled" -> "false",
      // InjectRuntimeFilter only fires for shuffle joins (a broadcast
      // join needs no bloom) — at 100 TB a fact-fact join shuffles
      // naturally; at test SF force it so the demo shows the real plan
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_quantity"))
      // materialized EAGERLY (localCheckpoint) so both planning and
      // execution happen under the lowered thresholds — a lazily
      // returned frame would re-plan after the confs are restored and
      // silently lose the rewrite this operator demonstrates
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
        .localCheckpoint(true)
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  val x13Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** x13's final executed plan under the lowered thresholds (PlanSpec
    * helper — asserts the bloom filter actually reached the fact scan). */
  def x13Plan(s: SparkSession, d: String): String = {
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val j = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
      j.queryExecution.executedPlan.toString
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** The bucketed join's plan (join only, before the final aggregation —
    * the agg legitimately exchanges on its own group key), for
    * shuffle-freedom assertions. Assumes x8BucketedJoin already created
    * the bucketed tables. */
  def x8Plan(s: SparkSession, d: String): String = {
    x8BucketedJoin(s, d).count() // ensure tables exist
    s.table("graft_li_bucketed")
      .join(s.table("graft_o_bucketed"), col("l_orderkey") === col("o_orderkey"))
      .queryExecution.executedPlan.toString
  }

  /** Build the x26 fixture API from the event log: one NDJSON page set
    * per day, page size scaled so every SF paginates (~5 pages/day),
    * every 7th request throttled. The server is the test double; the
    * collect here builds ITS in-memory content, not the client's. */
  private[graft] def x26Serve(s: SparkSession, d: String)
      : (graft.sources.ApiFixtureServer, Seq[Long]) = {
    val rows = Tables.events(s, d)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .select("event_id", "user_id", "event_type", "value", "ep_day")
      .collect()
    val byDay = rows.groupBy(_.getLong(4)).map { case (day, rs) =>
      day -> rs.sortBy(_.getLong(0)).map(x26Json).toIndexedSeq
    }
    val pageSize = math.max(50, rows.length / (byDay.size * 5))
    (new graft.sources.ApiFixtureServer(byDay, pageSize, quotaEvery = 7),
      byDay.keys.toSeq.sorted)
  }

  private[graft] def x26Json(r: org.apache.spark.sql.Row): String =
    s"""{"event_id":${r.getLong(0)},"user_id":${r.getLong(1)},""" +
      s""""event_type":"${r.getString(2)}","value":${r.getDouble(3)},""" +
      s""""ep_day":${r.getLong(4)}}"""

  private val X26Schema =
    "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, ep_day BIGINT"

  /** Pull `days` from the fixture API — day-sharded across executors,
    * paginated + backoff inside each day ([[graft.sources.ApiIngest]]) —
    * and land them in the day-partitioned warehouse under DYNAMIC
    * partition overwrite: only the pulled days' partitions are
    * replaced, which is exactly what makes a day re-pull idempotent
    * (and a revised day a clean supersede, never a duplicate). */
  private[graft] def x26Land(s: SparkSession, port: Int, warehouse: String,
      days: Seq[Long]): Unit = {
    import s.implicits._
    val base = s"http://127.0.0.1:$port"
    val pulled = s.createDataset(days)
      .repartition(math.min(8, math.max(1, days.size)))
      .mapPartitions(_.flatMap(day => graft.sources.ApiIngest.pullDay(base, day)))
    val saved = s.conf.get("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try s.read.schema(X26Schema).json(pulled)
      .write.mode("overwrite").partitionBy("ep_day").parquet(warehouse)
    finally s.conf.set("spark.sql.sources.partitionOverwriteMode", saved)
  }

  /** x26_api_ingest — the reference's PRIMARY ingest shape (GA Core
    * Reporting): a paginated, quota-limited, day-scoped API pull into
    * the day-partitioned warehouse, with a re-pull of the newest day
    * (analytics APIs finalize recent days late; a correct client
    * re-pulls them, and dynamic partition overwrite makes that replace,
    * not duplicate). The full pull + re-pull must land the log exactly
    * once — the DuckDB oracle recomputes the same day aggregate from
    * the raw table. ApiIngestSpec drives the revision and throttle
    * paths the gate fixture keeps deterministic. */
  def x26ApiIngest(s: SparkSession, d: String): DataFrame = {
    val warehouse = tmpDir("graft_x26_wh")
    listDir(java.nio.file.Paths.get(warehouse)).foreach(deleteRecursively)
    val (server, days) = x26Serve(s, d)
    try {
      x26Land(s, server.port, warehouse, days)      // nightly backfill
      x26Land(s, server.port, warehouse, Seq(days.max)) // late-data re-pull
    } finally server.stop()
    s.read.parquet(warehouse)
      .groupBy(col("ep_day").cast("long").as("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("ep_day")
  }

  val x26Sql: String =
    """WITH e AS (SELECT user_id, value,
      |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events)
      |SELECT ep_day, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM e GROUP BY ep_day ORDER BY ep_day""".stripMargin

  /** StructType → Avro record schema JSON for the flat long/double/
    * string frames the interchange surface carries (nullability via
    * union-with-null, Avro's standard encoding). */
  private[graft] def avroSchemaJson(schema: org.apache.spark.sql.types.StructType,
      name: String): String = {
    import org.apache.spark.sql.types._
    val fields = schema.fields.map { f =>
      val t = f.dataType match {
        case LongType => "\"long\""
        case IntegerType => "\"int\""
        case DoubleType => "\"double\""
        case StringType => "\"string\""
        case other => sys.error(s"avro interchange: unsupported type $other for ${f.name}")
      }
      s"""{"name":"${f.name}","type":["null",$t]}"""
    }
    s"""{"type":"record","name":"$name","fields":[${fields.mkString(",")}]}"""
  }

  /** x27_avro_roundtrip — Avro container-file interchange, completing
    * the CSV/JSON/ORC/parquet matrix (x1/x2/x12). The distribution
    * ships no spark-avro DataSource, only the core Avro library, so the
    * sink/source are built directly on the PUBLIC Avro file API with
    * Spark-native plumbing: the write is one container file PER TASK
    * PARTITION (executors encode GenericRecords; the driver never sees
    * a row), the read parallelizes the file list and decodes per file —
    * the same per-partition shape the real spark-avro module executes.
    * Round-trips the customer dim and re-aggregates; oracle = the same
    * aggregate over the raw table. */
  /** Avro SINK: one container file per task partition, encoded on the
    * executors (the driver never sees a row). */
  private[graft] def avroWrite(df: DataFrame, dir: String): Unit = {
    import org.apache.avro.generic.{GenericData, GenericRecord}
    listDir(java.nio.file.Paths.get(dir)).foreach(deleteRecursively)
    val schema = df.schema
    val avroJson = avroSchemaJson(schema, "row")
    df.rdd.mapPartitionsWithIndex { (pid, rows) =>
      val avro = new org.apache.avro.Schema.Parser().parse(avroJson)
      val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
        new org.apache.avro.generic.GenericDatumWriter[GenericRecord](avro))
      w.create(avro, new java.io.File(dir, f"part-$pid%05d.avro"))
      var n = 0L
      try rows.foreach { r =>
        val rec = new GenericData.Record(avro)
        schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
          rec.put(f, if (r.isNullAt(i)) null else r.get(i)) }
        w.append(rec); n += 1
      } finally w.close()
      Iterator(n)
    }.count() // materialize the distributed write
  }

  /** Avro SOURCE: the file list parallelized, each container decoded on
    * an executor; `schema` is the caller's contract (same explicit-
    * schema discipline as x1/x2's readers). */
  private[graft] def avroRead(s: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.avro.generic.GenericRecord
    val files = listDir(java.nio.file.Paths.get(dir))
      .map(_.toString).filter(_.endsWith(".avro")).sorted
    val rowRdd = s.sparkContext.parallelize(files, math.max(1, files.size)).flatMap { path =>
      val reader = new org.apache.avro.file.DataFileReader[GenericRecord](
        new java.io.File(path),
        new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
      import scala.jdk.CollectionConverters._
      try reader.iterator().asScala.map { rec =>
        org.apache.spark.sql.Row.fromSeq(schema.fieldNames.map { f =>
          rec.get(f) match {
            case u: org.apache.avro.util.Utf8 => u.toString
            case v => v
          }
        }.toIndexedSeq)
      }.toVector
      finally reader.close()
    }
    s.createDataFrame(rowRdd, schema)
  }

  def x27AvroRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = tmpDir("graft_x27_avro")
    val src = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
    avroWrite(src, out)
    avroRead(s, out, src.schema)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        countDistinct(col("c_custkey")).as("n_keys"),
        sum(col("c_acctbal").cast("decimal(18,6)")).cast("double").as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  val x27Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_cust, COUNT(DISTINCT c_custkey) AS n_keys,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  val entries: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "x26_api_ingest" -> (x26ApiIngest _, Some(x26Sql)),
    "x27_avro_roundtrip" -> (x27AvroRoundtrip _, Some(x27Sql)),
    "x8_bucketed_join" -> (x8BucketedJoin _, Some(x8Sql)),
    "x6_incremental_merge" -> (x6IncrementalMerge _, Some(x6Sql)),
    "x7_data_quality" -> (x7DataQuality _, Some(x7Sql)),
    "x1_csv_roundtrip" -> (x1CsvRoundtrip _, Some(x1Sql)),
    "x2_json_roundtrip" -> (x2JsonRoundtrip _, Some(x2Sql)),
    "x3_salted_agg" -> (x3SaltedAgg _, Some(x3Sql)),
    "x4_partitioned_write" -> (x4PartitionedWrite _, Some(x4Sql)),
    "x5_kmeans_embeddings" -> (x5KmeansEmbeddings _, None),
    "x9_external_ingest" -> (x9ExternalIngest _, Some(x9Sql)),
    "x10_compaction" -> (x10Compaction _, Some(x10Sql)),
    "x11_skew_join" -> (x11SkewJoin _, Some(x11Sql)),
    "x12_orc_roundtrip" -> (x12OrcRoundtrip _, Some(x12Sql)),
    "x13_runtime_filter" -> (x13RuntimeFilter _, Some(x13Sql)),
  )
}
