package graft.operators

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.SnapshotSink

/** c21_daily_pipeline — the reference's ORCHESTRATOR role (public
  * MorphL shape, SURVEY §1 step 4): one idempotent, re-runnable daily
  * job that chains every stage the engine already has through the
  * snapshot-table warehouse:
  *
  *   ingest (x9/st8 role)   raw day-slice → exactly-once append into
  *                          the bronze events table (batch id rides the
  *                          manifest commit, replay = no-op)
  *   rollup (c8 role)       day-grain metrics FOR THE SLICE, computed
  *                          from the warehouse read — appended
  *                          exactly-once to the day-keyed rollup table
  *   score  (c9/c13 role)   EVERY user ingested so far re-scored with
  *                          the session's memoized churn model over
  *                          features-as-of-today, merged (copy-on-
  *                          write, user-keyed) into the scores table —
  *                          the write-back the reference lands in
  *                          Cassandra for the publisher to query
  *
  * Idempotence contract: each stage records the cycle id in its table's
  * manifest metadata atomically with the commit; re-running a cycle
  * replays all three stages as no-ops (PipelineSpec proves versions and
  * content are unchanged). The gate oracle proves the orchestration
  * CONVERGES: after the last cycle the rollup table's end-state equals
  * the one-shot batch recompute over the whole span (c8's SQL, run by
  * DuckDB over the raw parquet) — and PipelineSpec proves the scores
  * end-state equals the one-shot c9 scoring.
  *
  * Scale shape: ingest and rollup are append-only (no rewrite, commits
  * are O(batch)); scoring rewrites the user-keyed scores table
  * copy-on-write — O(users) per day, the same cost the reference pays
  * to refresh its serving store daily. Feature recompute over
  * ingested-so-far is O(warehouse) per day, batch-proportional at the
  * day grain a 100 TB deployment would partition by. The model fit
  * reads only the static corpus: it starts with the first cycle,
  * overlaps that cycle's ingest and rollup, and is memoized for the
  * session's later cycles (periodic retrain, daily predict).
  */
object Pipeline {

  /** Cycle boundaries (epoch days): the three nightly ingest slices,
    * aligned with st8's feed cuts so the warehouse tables this builds
    * are comparable with the streaming-ingest twins. Day-aligned cuts
    * guarantee each (day, event_type) rollup row is computed whole
    * within one cycle. */
  private[graft] val Cuts: Seq[(Long, Long)] = {
    val c1 = SnapshotSink.St8Cut1; val c2 = SnapshotSink.St8Cut2
    Seq((Long.MinValue, c1), (c1, c2), (c2, Long.MaxValue))
  }

  private val LastBatchKey = "last_batch"

  private def freshRoot(name: String): String = {
    val root = Engine.tmpDir(name)
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    root
  }

  private[graft] case class Warehouse(bronze: String, rollup: String, scores: String)

  private[graft] def freshWarehouse(tag: String): Warehouse = Warehouse(
    freshRoot(s"graft_${tag}_bronze"),
    freshRoot(s"graft_${tag}_rollup"),
    freshRoot(s"graft_${tag}_scores"))

  /** The raw feed (what the ingest stage pulls for one day range). */
  private def feed(s: SparkSession, d: String): DataFrame =
    Churn.ev(s, d).select("event_id", "user_id", "event_type", "value", "ep", "ep_day")

  /** Merge `changes` (op=u upserts keyed by user_id) into `root` exactly
    * once per cycle: the cycle id is committed atomically with the merge
    * and a replayed cycle is skipped before any compute. A racing
    * duplicate driver running the SAME cycle loses the commit CAS; the
    * loser re-reads the table, sees its cycle id already applied, and
    * reports a replay no-op — a CAS loss to anything ELSE re-raises so
    * the caller retries against the new state (never a silent lost
    * update, never a crash on the benign duplicate-driver race). */
  private def mergeOnce(s: SparkSession, root: String, changes: DataFrame,
      cycleId: Long): Boolean = {
    val ST = SnapshotTable
    val v = ST.currentVersion(root)
    val last =
      if (v == 0) -1L
      else ST.manifestMeta(root, v).get(LastBatchKey).map(_.toLong).getOrElse(-1L)
    if (cycleId <= last) return false
    try {
      if (v == 0) {
        // first cycle creates the table (merge needs a base version);
        // statsCol makes every later merge read key-prunable
        val tag = f"c$cycleId%05d_${ST.uniqueTag()}"
        val data = changes.filter(col("op") =!= "d").drop("op")
        val entries = ST.writeDataFiles(data, root, tag)
          .map(ST.footerEntry(root, _, "user_id"))
        ST.commitEntries(root, 0, entries, shardSize = 4,
          Map("statsCol" -> "user_id", LastBatchKey -> cycleId.toString))
      } else
        ST.merge(s, root, "user_id", "user_id", changes,
          extraMeta = Map(LastBatchKey -> cycleId.toString))
      true
    } catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        val nv = ST.currentVersion(root)
        val applied = nv > 0 &&
          ST.manifestMeta(root, nv).get(LastBatchKey).exists(_.toLong >= cycleId)
        if (!applied) throw e
        false // the racing duplicate driver already applied this cycle
    }
  }

  /** Run ONE daily cycle end-to-end. Returns the stages that actually
    * committed (all false = full replay no-op).
    *
    * The model fit reads only the static corpus, never the warehouse,
    * so it starts with the cycle and runs beside ingest and rollup; the
    * score stage waits for it. Rollup and score both read the
    * POST-INGEST bronze state and write DISJOINT tables, so they run
    * concurrently too. Each stage's computation, commit protocol and
    * cycle-id idempotence are untouched. The background branches run
    * through [[graft.Branches]]: a failed cycle returns or throws only
    * after every branch has ended, so no in-flight commit races its
    * retry. */
  private[graft] def runCycle(s: SparkSession, d: String, w: Warehouse,
      cycleId: Int): (Boolean, Boolean, Boolean) = graft.Branches.run(s) { br =>
    val ST = SnapshotTable
    val (lo, hi) = Cuts(cycleId)
    // 0. fit: memoized per session, so later cycles find it done
    val fitted = br.fork("fit")(graft.ml.ChurnModel.fitOnTrainFold(s, d))
    // 1. ingest: the day-slice of the raw feed, exactly once
    val slice = feed(s, d).filter(col("ep_day") >= lo && col("ep_day") < hi)
    val ingested = SnapshotSink.appendBatch(w.bronze, slice, cycleId, keyCol = "ep_day")
    // 2. rollup: day-grain metrics computed FROM THE WAREHOUSE (the
    //    orchestrator trusts its own tables, not the upstream feed),
    //    appended exactly once — day-keyed, so downstream day queries
    //    stats-prune to the new files
    val rolled = br.fork("rollup") {
      val rows = ST.read(s, w.bronze)
        .filter(col("ep_day") >= lo && col("ep_day") < hi)
        .groupBy(col("ep_day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      SnapshotSink.appendBatch(w.rollup, rows, cycleId, keyCol = "ep_day")
    }
    // 3. score: every user ingested so far, features as of today,
    //    the fitted model; merged copy-on-write into the serving table
    br.await(fitted)
    val soFar = ST.read(s, w.bronze)
    val changes = graft.ml.ChurnModel.dailyScores(s, d, soFar)
      .select(col("user_id"), col("churn_prob"), col("prediction"),
        col("churned"), col("is_test"))
      .withColumn("score_day", lit(cycleId.toLong))
      .withColumn("op", lit("u"))
    val scored = mergeOnce(s, w.scores, changes, cycleId)
    (ingested, br.await(rolled), scored)
  }

  /** The session's completed daily cadence (built once per session+dir;
    * c21 reads its rollup, c22 serves its scores). */
  private val warehouseMemo = new graft.SessionMemo[Warehouse]
  private[graft] def warehouse(s: SparkSession, d: String): Warehouse =
    warehouseMemo.getOrElseUpdate(s, d) {
      val w = freshWarehouse("c21")
      Cuts.indices.foreach(i => runCycle(s, d, w, i))
      w
    }

  /** Run the full daily cadence (all cycles) against a fresh warehouse
    * and return the rollup end-state — the frame the DuckDB oracle
    * checks against the ONE-SHOT batch recompute (c8's SQL). */
  def c21DailyPipeline(s: SparkSession, d: String): DataFrame = {
    val w = warehouse(s, d)
    SnapshotTable.read(s, w.rollup)
      .withColumn("day", date_add(lit("1970-01-01").cast("date"), col("ep_day").cast("int")))
      .select(col("day"), col("event_type"), col("n_events"), col("n_users"),
        col("value_sum"))
      .orderBy("day", "event_type")
  }

  val c21Sql: String =
    """WITH e AS (SELECT user_id, event_type, value,
      |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events)
      |SELECT DATE '1970-01-01' + CAST(ep_day AS INT) AS day, event_type,
      |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM e GROUP BY day, event_type ORDER BY day, event_type""".stripMargin

  /** Serving-layout width: enough user-range files that a keyed lookup
    * has pruning headroom at gate scale; at 100 TB this is files-per-
    * user-shard and grows with the table. */
  private[graft] val ServeFiles = 5

  /** Publish (once per session+dir) the pipeline's scores into the
    * SERVING layout — the reference's Cassandra role: user-range-
    * clustered files, each written with a parquet BLOOM filter on
    * user_id, committed through the manifest with user_id stats. A
    * keyed fetch then touches one file by range stats or bloom — never
    * the table. */
  private val serveMemo = new graft.SessionMemo[String]
  private[graft] def servingTable(s: SparkSession, d: String): String =
    serveMemo.getOrElseUpdate(s, d) {
      val ST = SnapshotTable
      val w = warehouse(s, d)
      val root = freshRoot("graft_c22_serving")
      val scratch = freshRoot("graft_c22_scratch")
      ST.read(s, w.scores)
        .repartitionByRange(ServeFiles, col("user_id"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#user_id", "true")
        .parquet(scratch)
      val entries = Engine.listDir(Paths.get(scratch))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(_.getFileName.toString)
        .zipWithIndex.map { case (part, i) =>
          val rel = s"scores_u$i.parquet"
          java.nio.file.Files.move(part, Paths.get(root, rel),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          ST.footerEntry(root, rel, "user_id")
        }
      ST.commitEntries(root, 0, entries, shardSize = 3, Map("statsCol" -> "user_id"))
      root
    }

  /** The serving request fixture: a deterministic ~1% sample of active
    * users (user_id ≡ 0 mod [[LookupMod]]) — the keyed batch a
    * publisher-facing API would hand the serving layer. The id list is
    * collected because a POINT LOOKUP's keys are planning-time inputs
    * (they come from the request, not from a table scan) — bounded by
    * the request batch, never O(users). */
  private[graft] val LookupMod = 17L

  /** The serving request's batch size: the id list is a PLANNING-TIME
    * input collected to the driver, so it must be bounded by the
    * request contract, not by the user population — at 100× users an
    * unbounded ~1% sample is a multi-million-id driver collect inside
    * the gate query (r12 verdict). First [[RequestBatch]] matching ids
    * in id order, deterministic on both engine and oracle. */
  private[graft] val RequestBatch = 1024

  /** c22_score_serving — keyed score fetch against the published
    * serving table via [[SnapshotTable.readPointLookup]] (parquet
    * blooms route each id to its file; range stats would too — the
    * table is user-clustered — but blooms keep the path exact on
    * non-cluster lookups as well). The gate checks the SQL-derivable
    * columns (churned label, test-fold membership) against DuckDB's
    * full-scan recompute; PipelineSpec pins churn_prob ≡ one-shot c9
    * for the same users and counts the files a lookup opens. */
  def c22ScoreServing(s: SparkSession, d: String): DataFrame = {
    val root = servingTable(s, d)
    // orderBy+limit plans as TakeOrdered: the driver receives at most
    // RequestBatch ids regardless of table scale
    val ids = Tables.events(s, d)
      .select(col("user_id")).where(pmod(col("user_id"), lit(LookupMod)) === 0L)
      .distinct().orderBy("user_id").limit(RequestBatch)
      .collect().map(_.getLong(0)).toIndexedSeq
    SnapshotTable.readPointLookup(s, root, "user_id", ids)
      .select(col("user_id"), col("churned"), col("is_test"))
      .orderBy("user_id")
  }

  val c22Sql: String =
    s"""WITH e AS (SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep FROM events),
       |lab AS (SELECT user_id,
       |  CASE WHEN FLOOR(((SELECT MAX(ep) FROM e) - MAX(ep)) / 86400.0) >= 1
       |    THEN 1 ELSE 0 END AS churned
       |  FROM e GROUP BY user_id)
       |SELECT user_id, CAST(churned AS BIGINT) AS churned,
       |  CAST(CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_test
       |FROM lab WHERE user_id % 17 = 0 ORDER BY user_id
       |LIMIT $RequestBatch""".stripMargin

  val entries: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "c21_daily_pipeline" -> (c21DailyPipeline _, Some(c21Sql)),
    "c22_score_serving" -> (c22ScoreServing _, Some(c22Sql)))
}
