package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Churn / event analytics — the reference's own domain re-expressed
  * Spark-first: the MorphL churning-users pipeline's GA-hit → session →
  * per-user-feature → churn-label stages (its PySpark preprocessing jobs)
  * over the `events` stream table.
  *
  * Scale design (SURVEY.md §5): everything here keys on `user_id`. Each
  * query shuffles on user_id at most once (the window/groupBy), and all
  * downstream per-user steps reuse that clustering. At 100 TB the events
  * table would be written bucketed by user_id so even that shuffle
  * disappears.
  *
  * Oracle conventions: `events.ts` is a nanos-since-epoch LONG on the
  * Spark side (Tables.events) and TIMESTAMP (µs-truncated) in DuckDB —
  * both floor to identical epoch seconds; all arithmetic stays integer
  * until a final double division, with explicit FLOOR (never cast-to-int,
  * whose tie behavior differs between engines).
  */
object Churn {

  val SessionGapS = 14400L // 4h — median inter-event gap in this data is ~7.7h
  val ChurnDays   = 1L     // recency threshold; data spans 30d, max recency 2d

  private def dec(c: Column): Column = c.cast(DecimalType(18, 6))
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** events + integer epoch seconds / epoch days. */
  private[graft] def ev(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("ep", expr("ts div 1000000000"))
      .withColumn("ep_day", expr("ep div 86400"))

  /** DuckDB-side equivalent of `ev` as a CTE. */
  private val evSql =
    """e AS (SELECT event_id, user_id, event_type, value,
      |  CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep,
      |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events)""".stripMargin

  private def userWindow = Window.partitionBy(col("user_id"))
    .orderBy(asc("ep"), asc("event_id"))

  /** Sessions per user: gap > SessionGapS starts a new session. One
    * shuffle (user_id window); session_seq = running count of
    * session-starts — the standard lag+cumsum sessionizer. */
  private def sessions(s: SparkSession, d: String): DataFrame = {
    val w = userWindow
    ev(s, d)
      .withColumn("prev_ep", lag(col("ep"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ep").isNull || col("ep") - col("prev_ep") > SessionGapS, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  private val sessionsSql =
    s"""$evSql,
       |m AS (SELECT *, LAG(ep) OVER (PARTITION BY user_id ORDER BY ep, event_id) AS prev_ep FROM e),
       |sn AS (SELECT *, CASE WHEN prev_ep IS NULL OR ep - prev_ep > $SessionGapS
       |  THEN 1 ELSE 0 END AS is_new FROM m),
       |sess AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
       |  ORDER BY ep, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM sn)""".stripMargin

  /** c1_sessionize — per-session rollup. */
  def c1Sessionize(s: SparkSession, d: String): DataFrame =
    sessions(s, d)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ep")).as("start_ep"),
        max(col("ep")).as("end_ep"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("session_value"))
      .orderBy("user_id", "session_seq")

  val c1Sql: String =
    s"""WITH $sessionsSql
       |SELECT user_id, session_seq, MIN(ep) AS start_ep, MAX(ep) AS end_ep,
       |  COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
       |FROM sess GROUP BY user_id, session_seq
       |ORDER BY user_id, session_seq""".stripMargin

  /** c16_range_join — a large-large INTERVAL join, the operator class
    * Spark has no native physical plan for: every event paired with
    * every session (any user) open at that instant — the concurrency
    * overlay an ops team reads during incident review. A naive
    * `a.start <= b.ep AND b.ep <= a.end` join plans a nested-loop
    * cartesian; the scale shape here is the standard BUCKETED range
    * join: each session explodes to the hour buckets it covers (span-
    * proportional fan-out, shuffle-keyed on the bucket), each event
    * lives in exactly ONE bucket, so the equi-join on bucket is a plain
    * shuffle join and the range predicate is a post-join filter — and
    * each qualifying pair matches exactly once (the event's single
    * bucket), so no dedup pass is needed. PlanSpec asserts no
    * cartesian/nested-loop reached the physical plan. */
  def c16RangeJoin(s: SparkSession, d: String): DataFrame = {
    val sess = c1Sessionize(s, d)
      .select(col("user_id").as("s_user"), col("session_seq"),
        col("start_ep"), col("end_ep"))
      .withColumn("bkt",
        explode(sequence(expr("start_ep div 3600"), expr("end_ep div 3600"))))
    val e = ev(s, d)
      .select(col("event_id"), col("event_type"), col("ep"))
      .withColumn("bkt", expr("ep div 3600"))
    e.join(sess, Seq("bkt"))
      .filter(col("ep") >= col("start_ep") && col("ep") <= col("end_ep"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_open_pairs"),
        countDistinct(col("event_id")).as("n_events_covered"))
      .orderBy("event_type")
  }

  val c16Sql: String =
    s"""WITH $sessionsSql,
       |iv AS (SELECT user_id, session_seq, MIN(ep) AS start_ep, MAX(ep) AS end_ep
       |  FROM sess GROUP BY user_id, session_seq)
       |SELECT e.event_type, COUNT(*) AS n_open_pairs,
       |  COUNT(DISTINCT e.event_id) AS n_events_covered
       |FROM e JOIN iv ON e.ep >= iv.start_ep AND e.ep <= iv.end_ep
       |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  /** c2_user_features — the reference's per-user feature matrix: event
    * mix, monetary stats, activity span, recency vs dataset horizon. */
  def c2UserFeatures(s: SparkSession, d: String): DataFrame =
    c2UserFeaturesOf(ev(s, d))

  /** c2 over an arbitrary events frame (user_id, event_type, value, ep,
    * ep_day) — the daily pipeline runs it over the WAREHOUSE table's
    * ingested-so-far state, not the raw corpus dir. */
  private[graft] def c2UserFeaturesOf(e: DataFrame): DataFrame =
    c2Aggregate(e).orderBy("user_id")

  /** c2's per-user aggregate, unsorted, with `extra` aggregates
    * appended after c2's columns in the SAME aggregation — the one
    * definition of c2's features, shared with the churn model's
    * feature matrix (which adds its per-event-type counts here rather
    * than in a second aggregate joined back on user_id). */
  private[graft] def c2Aggregate(e: DataFrame, extra: Seq[Column] = Nil): DataFrame = {
    val horizon = e.agg(max(col("ep")).as("g_max"))
    e.crossJoin(broadcast(horizon))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (Seq(
          count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
          count(when(col("event_type") === "error", 1)).as("n_errors"),
          dsum(col("value")).as("total_value"),
          (sum(dec(col("value"))).cast("double") / count(lit(1))).as("avg_value"),
          min(col("ep")).as("first_ep"),
          max(col("ep")).as("last_ep"),
          countDistinct(col("ep_day")).as("active_days"),
          floor((max(col("g_max")) - max(col("ep"))) / lit(86400.0)).cast("long")
            .as("recency_days")) ++ extra): _*)
  }

  val c2Sql: String =
    s"""WITH $evSql
       |SELECT user_id, COUNT(*) AS n_events,
       |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
       |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_value,
       |  MIN(ep) AS first_ep, MAX(ep) AS last_ep,
       |  COUNT(DISTINCT ep_day) AS active_days,
       |  CAST(FLOOR(((SELECT MAX(ep) FROM e) - MAX(ep)) / 86400.0) AS BIGINT) AS recency_days
       |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin

  /** c3_churn_label — the reference's target variable: inactive for more
    * than ChurnDays vs the dataset horizon ⇒ churned. */
  def c3ChurnLabel(s: SparkSession, d: String): DataFrame =
    c3ChurnLabelOf(ev(s, d))

  /** c3 over an arbitrary events frame — see [[c2UserFeaturesOf]]. */
  private[graft] def c3ChurnLabelOf(e: DataFrame): DataFrame = {
    val horizon = e.agg(max(col("ep")).as("g_max"))
    e.crossJoin(broadcast(horizon))
      .groupBy(col("user_id"))
      .agg(
        max(col("ep")).as("last_ep"),
        floor((max(col("g_max")) - max(col("ep"))) / lit(86400.0)).cast("long").as("recency_days"))
      .withColumn("churned", when(col("recency_days") >= ChurnDays, 1L).otherwise(0L))
      .orderBy("user_id")
  }

  val c3Sql: String =
    s"""WITH $evSql
       |SELECT user_id, MAX(ep) AS last_ep,
       |  CAST(FLOOR(((SELECT MAX(ep) FROM e) - MAX(ep)) / 86400.0) AS BIGINT) AS recency_days,
       |  CASE WHEN FLOOR(((SELECT MAX(ep) FROM e) - MAX(ep)) / 86400.0) >= $ChurnDays
       |    THEN 1 ELSE 0 END AS churned
       |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin

  /** c4_session_stats — per-user session-shape features (the engagement
    * metrics the reference derives from GA session dims). Builds on the
    * same single user_id shuffle as c1. */
  def c4SessionStats(s: SparkSession, d: String): DataFrame =
    c1Sessionize(s, d)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("end_ep") - col("start_ep")).as("total_session_secs"),
        max(col("n_events")).as("max_session_events"),
        (sum(col("n_events")).cast("double") / count(lit(1))).as("avg_session_events"))
      .orderBy("user_id")

  val c4Sql: String =
    s"""WITH $sessionsSql,
       |per AS (SELECT user_id, session_seq, MIN(ep) AS start_ep, MAX(ep) AS end_ep,
       |  COUNT(*) AS n_events FROM sess GROUP BY user_id, session_seq)
       |SELECT user_id, COUNT(*) AS n_sessions,
       |  CAST(SUM(end_ep - start_ep) AS BIGINT) AS total_session_secs,
       |  MAX(n_events) AS max_session_events,
       |  CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS avg_session_events
       |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin

  /** c5_retention_cohorts — weekly cohort × week-offset retained-user
    * counts. Weeks are integer (epoch − global min) div 7d: engine-
    * agnostic, no calendar-week dialect drift. */
  def c5RetentionCohorts(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d)
    val origin = e.agg(min(col("ep")).as("g_min"))
    val weekly = e.crossJoin(broadcast(origin))
      .withColumn("week_idx", floor((col("ep") - col("g_min")) / lit(604800.0)).cast("long"))
    val cohorts = weekly.groupBy(col("user_id"))
      .agg(min(col("week_idx")).as("cohort_week"))
    weekly.join(cohorts, "user_id")
      .withColumn("week_offset", col("week_idx") - col("cohort_week"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  val c5Sql: String =
    s"""WITH $evSql,
       |w AS (SELECT user_id,
       |  CAST(FLOOR((ep - (SELECT MIN(ep) FROM e)) / 604800.0) AS BIGINT) AS week_idx FROM e),
       |c AS (SELECT user_id, MIN(week_idx) AS cohort_week FROM w GROUP BY user_id)
       |SELECT cohort_week, week_idx - cohort_week AS week_offset,
       |  COUNT(DISTINCT w.user_id) AS n_users
       |FROM w JOIN c ON w.user_id = c.user_id
       |GROUP BY cohort_week, week_idx - cohort_week
       |ORDER BY cohort_week, week_offset""".stripMargin

  /** c6_funnel — ordered signup→view→purchase funnel. Each stage's first
    * epoch must follow the previous stage's; three conditional aggs over
    * the same user_id clustering, dims joined back broadcast. */
  def c6Funnel(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).select("user_id", "event_type", "ep")
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ep")).as("signup_ep"))
    val s2 = e.join(s1, "user_id")
      .filter(col("event_type") === "view" && col("ep") >= col("signup_ep"))
      .groupBy(col("user_id")).agg(min(col("ep")).as("view_ep"))
    val s3 = e.join(s2, "user_id")
      .filter(col("event_type") === "purchase" && col("ep") >= col("view_ep"))
      .groupBy(col("user_id")).agg(min(col("ep")).as("purchase_ep"))
    val users = e.select("user_id").distinct()
    users
      .join(s1.select(col("user_id"), lit(1L).as("reached_signup")), Seq("user_id"), "left_outer")
      .join(s2.select(col("user_id"), lit(1L).as("reached_view")), Seq("user_id"), "left_outer")
      .join(s3.select(col("user_id"), lit(1L).as("reached_purchase")), Seq("user_id"), "left_outer")
      .agg(
        count(lit(1)).as("n_users"),
        count(col("reached_signup")).as("n_signup"),
        count(col("reached_view")).as("n_view_after_signup"),
        count(col("reached_purchase")).as("n_purchase_after_view"))
  }

  val c6Sql: String =
    s"""WITH $evSql,
       |s1 AS (SELECT user_id, MIN(ep) AS signup_ep FROM e
       |  WHERE event_type = 'signup' GROUP BY user_id),
       |s2 AS (SELECT e.user_id, MIN(ep) AS view_ep FROM e JOIN s1 ON e.user_id = s1.user_id
       |  WHERE event_type = 'view' AND ep >= signup_ep GROUP BY e.user_id),
       |s3 AS (SELECT e.user_id, MIN(ep) AS purchase_ep FROM e JOIN s2 ON e.user_id = s2.user_id
       |  WHERE event_type = 'purchase' AND ep >= view_ep GROUP BY e.user_id)
       |SELECT COUNT(*) AS n_users,
       |  COUNT(s1.user_id) AS n_signup,
       |  COUNT(s2.user_id) AS n_view_after_signup,
       |  COUNT(s3.user_id) AS n_purchase_after_view
       |FROM (SELECT DISTINCT user_id FROM e) u
       |LEFT JOIN s1 ON u.user_id = s1.user_id
       |LEFT JOIN s2 ON u.user_id = s2.user_id
       |LEFT JOIN s3 ON u.user_id = s3.user_id""".stripMargin

  /** Exact NTILE(k) over a unique total order WITHOUT the single-partition
    * global sort `ntile().over(Window.orderBy(...))` plans (which funnels
    * the whole table through one task — the definitive scale-killer at
    * 10⁹ users). Instead: range-repartition on the order key, rank within
    * each range partition, add per-partition rank offsets computed from
    * the tiny (#shuffle-partitions)-row count table via a triangular
    * self-join, then the closed-form NTILE bucket from (rank, n). Every
    * window in the plan is partitioned; the only single-partition work is
    * over ≤ #partitions rows. Identical answer to NTILE(k): with a unique
    * order key, bucket is a pure function of global rank. */
  private[graft] def ntileDistributed(df: DataFrame, order: Seq[Column], k: Int,
      out: String): DataFrame = {
    // Materialize eagerly: repartitionByRange samples with an RDD-id-
    // dependent seed, so the counts branch and the rank branch below would
    // only agree on pid boundaries if the planner happened to deduplicate
    // the exchange (ReusedExchange). Pinning the partitioned frame makes
    // the pid assignment a fact, not a planner coincidence.
    val parted = df.repartitionByRange(order: _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(true)
    val counts = parted.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
    // one tiny (#partitions²) cross join yields BOTH the per-partition
    // rank offset and the global n — a single broadcast back in
    val offsets = counts.as("a").crossJoin(counts.as("b"))
      .groupBy(col("a.pid").as("pid"))
      .agg(sum(when(col("b.pid") < col("a.pid"), col("b.cnt")).otherwise(0L)).as("off"),
        sum(col("b.cnt")).as("n_total"))
    val w = Window.partitionBy(col("pid")).orderBy(order: _*)
    parted
      .withColumn("pr", row_number().over(w).cast("long"))
      .join(broadcast(offsets), "pid")
      .withColumn("rk", col("pr") + col("off"))
      // NTILE(k) on n rows: the first (n % k) buckets hold ceil(n/k) rows,
      // the rest floor(n/k); bucket of rank r follows in closed form.
      .withColumn("qq", expr(s"n_total div $k"))
      .withColumn("rem", pmod(col("n_total"), lit(k.toLong)))
      .withColumn(out,
        when(col("rk") <= col("rem") * (col("qq") + lit(1L)),
          expr("(rk + qq) div (qq + 1)"))
        .otherwise(
          expr("rem + ((rk - rem * (qq + 1) + greatest(qq, 1) - 1) div greatest(qq, 1))"))
        .cast("int"))
      .select(col("user_id"), col(out))
  }

  /** c7_rfm — recency/frequency/monetary quintile scores. NTILE over a
    * total order (metric, user_id) is deterministic on both engines; the
    * Spark side computes it distributed (ntileDistributed) — no global
    * one-partition sort anywhere in the plan. */
  def c7Rfm(s: SparkSession, d: String): DataFrame = {
    val base = c2UserFeatures(s, d)
      .select(col("user_id"), col("recency_days"), col("n_events"), col("total_value"))
      .cache()
    val r = ntileDistributed(base.select("user_id", "recency_days"),
      Seq(asc("recency_days"), asc("user_id")), 5, "r_score")
    val f = ntileDistributed(base.select("user_id", "n_events"),
      Seq(desc("n_events"), asc("user_id")), 5, "f_score")
    val m = ntileDistributed(base.select("user_id", "total_value"),
      Seq(desc("total_value"), asc("user_id")), 5, "m_score")
    base
      .join(r, "user_id")
      .join(f, "user_id")
      .join(m, "user_id")
      .withColumn("rfm", col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy("user_id")
  }

  val c7Sql: String =
    s"""WITH $evSql,
       |f AS (SELECT user_id,
       |  CAST(FLOOR(((SELECT MAX(ep) FROM e) - MAX(ep)) / 86400.0) AS BIGINT) AS recency_days,
       |  COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
       |  FROM e GROUP BY user_id)
       |SELECT user_id, recency_days, n_events, total_value,
       |  CAST(NTILE(5) OVER (ORDER BY recency_days ASC, user_id ASC) AS INT) AS r_score,
       |  CAST(NTILE(5) OVER (ORDER BY n_events DESC, user_id ASC) AS INT) AS f_score,
       |  CAST(NTILE(5) OVER (ORDER BY total_value DESC, user_id ASC) AS INT) AS m_score,
       |  CAST(NTILE(5) OVER (ORDER BY recency_days ASC, user_id ASC) * 100
       |    + NTILE(5) OVER (ORDER BY n_events DESC, user_id ASC) * 10
       |    + NTILE(5) OVER (ORDER BY total_value DESC, user_id ASC) AS INT) AS rfm
       |FROM f ORDER BY user_id""".stripMargin

  /** c8_daily_rollup — the reference's daily incremental batch: day-grain
    * metrics per event type. At scale this is the partition key of the
    * output table (write partitioned by day, process only new days). */
  def c8DailyRollup(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .withColumn("day", date_add(lit("1970-01-01").cast("date"), col("ep_day").cast("int")))
      .groupBy(col("day"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("value_sum"))
      .orderBy("day", "event_type")

  val c8Sql: String =
    s"""WITH $evSql
       |SELECT DATE '1970-01-01' + CAST(ep_day AS INT) AS day, event_type,
       |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
       |FROM e GROUP BY day, event_type ORDER BY day, event_type""".stripMargin

  /** c10_session_asof — as-of join composed from built-ins (SURVEY §2b):
    * each purchase matched to the user's most recent prior signup via an
    * IGNORE-NULLS last_value window — no custom physical operator needed,
    * and only the one user_id shuffle. */
  def c10SessionAsof(s: SparkSession, d: String): DataFrame = {
    val w = userWindow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, d)
      .withColumn("last_signup_ep",
        last(when(col("event_type") === "signup", col("ep")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id"), col("user_id"), col("ep").as("purchase_ep"),
        col("last_signup_ep"),
        (col("ep") - col("last_signup_ep")).as("secs_since_signup"))
      .orderBy("event_id")
  }

  val c10Sql: String =
    s"""WITH $evSql,
       |x AS (SELECT *, LAST_VALUE(CASE WHEN event_type = 'signup' THEN ep END IGNORE NULLS)
       |  OVER (PARTITION BY user_id ORDER BY ep, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ep FROM e)
       |SELECT event_id, user_id, ep AS purchase_ep, last_signup_ep,
       |  ep - last_signup_ep AS secs_since_signup
       |FROM x WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin

  /** c11_props_json — the reference ingests GA hit payloads as JSON;
    * parse `props` and aggregate the extracted field. Integer domain →
    * exact on both engines. */
  def c11PropsJson(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"))
      .orderBy("event_type")

  val c11Sql: String =
    """SELECT event_type,
      |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** c12_typed_agg — the typed Dataset surface: case-class rows,
    * groupByKey, and a custom `Aggregator[IN, BUF, OUT]` (exact decimal
    * accumulation in the buffer). Same answer as the untyped plan —
    * compile-time field safety is the only difference, which is the
    * point of the demo. */
  def c12TypedAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Aggregator
    val orders = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_totalprice"))
      .as[(Long, Double)]
    val spendAgg = new Aggregator[(Long, Double), (java.math.BigDecimal, Long), (Double, Long)] {
      override def zero = (java.math.BigDecimal.ZERO, 0L)
      override def reduce(b: (java.math.BigDecimal, Long), a: (Long, Double)) =
        (b._1.add(new java.math.BigDecimal(a._2).setScale(6, java.math.RoundingMode.HALF_UP)), b._2 + 1)
      override def merge(x: (java.math.BigDecimal, Long), y: (java.math.BigDecimal, Long)) =
        (x._1.add(y._1), x._2 + y._2)
      override def finish(r: (java.math.BigDecimal, Long)) = (r._1.doubleValue(), r._2)
      override def bufferEncoder = Encoders.tuple(Encoders.DECIMAL, Encoders.scalaLong)
      override def outputEncoder = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    }
    orders.groupByKey(_._1)
      .agg(spendAgg.toColumn.name("spend_n"))
      .map { case (custkey, (spend, n)) => (custkey, spend, n) }
      .toDF("o_custkey", "total_spend", "n_orders")
      .orderBy("o_custkey")
  }

  val c12Sql: String =
    """SELECT o_custkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_spend,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** c14_sliding_features — trailing-7-day activity features per
    * (user, active day): a RANGE window frame over the integer day key
    * (6 preceding..current), the rolling-engagement feature family the
    * reference derives per user-day. Built on the pre-aggregated daily
    * grain, so the window slides over ≤ span-days rows per user — one
    * user_id shuffle, bounded frames, no row explosion. The rolling
    * value sum accumulates in decimal → frame-order-independent. */
  def c14SlidingFeatures(s: SparkSession, d: String): DataFrame = {
    val daily = ev(s, d)
      .groupBy(col("user_id"), col("ep_day"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("day_value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ep_day"))
      .rangeBetween(-6, Window.currentRow)
    daily
      .withColumn("t7_events", sum(col("n_events")).over(w))
      .withColumn("t7_active_days", count(lit(1)).over(w))
      .withColumn("t7_value", sum(dec(col("day_value"))).over(w).cast("double"))
      .orderBy("user_id", "ep_day")
  }

  val c14Sql: String =
    s"""WITH $evSql,
       |d AS (SELECT user_id, ep_day, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_value
       |  FROM e GROUP BY user_id, ep_day)
       |SELECT user_id, ep_day, n_events, day_value,
       |  CAST(SUM(n_events) OVER w AS BIGINT) AS t7_events,
       |  CAST(COUNT(*) OVER w AS BIGINT) AS t7_active_days,
       |  CAST(SUM(CAST(day_value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS t7_value
       |FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ep_day
       |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
       |ORDER BY user_id, ep_day""".stripMargin

  /** c17's binning/smoothing constants and period split (first 15 days
    * of the 30-day log = reference window, rest = current window —
    * production: training snapshot vs today's scoring batch). */
  private[graft] val C17Bins = 10
  private[graft] val C17SplitDay = 19738L // first day of the CURRENT window

  /** c17_feature_drift — Population Stability Index monitoring, the
    * production check a deployed churn model runs before trusting a
    * scoring batch: per event_type, bin `value` into C17Bins fixed-width
    * bins over the REFERENCE window's [min, max] (out-of-range current
    * values clamp into the edge bins — drift beyond the reference range
    * must count, not vanish), add-one smooth the bin counts (PSI is
    * undefined on empty bins), and report
    * PSI = Σ (p−q)·ln(p/q) rounded to 6dp. At 100 TB this is two
    * filtered aggregates over the day-partitioned log: bin totals are
    * |event_type|×C17Bins rows, the PSI reduce is trivial; nothing
    * shuffles the raw stream twice. */
  def c17FeatureDrift(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).select(col("event_type"), col("value"), col("ep_day"))
    val refBounds = e.filter(col("ep_day") < C17SplitDay)
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("vlo"), max(col("value")).as("vhi"))
    val binned = e.join(broadcast(refBounds), "event_type")
      // a degenerate reference range (vhi == vlo) puts everything in
      // bin 0 instead of dividing by zero
      .withColumn("bin", when(col("vhi") > col("vlo"),
        least(lit(C17Bins - 1), greatest(lit(0),
          floor((col("value") - col("vlo")) * C17Bins / (col("vhi") - col("vlo")))
            .cast("int")))).otherwise(lit(0)))
      .withColumn("win", when(col("ep_day") < C17SplitDay, "ref").otherwise("cur"))
      .groupBy(col("event_type"), col("win"), col("bin"))
      .agg(count(lit(1)).as("n"))
    // add-one smoothing, shares within each (event_type, window)
    val shares = binned
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("win") === "ref", col("n")).otherwise(0L)).as("nr"),
        sum(when(col("win") === "cur", col("n")).otherwise(0L)).as("nc"))
      .withColumn("nr1", coalesce(col("nr"), lit(0L)) + 1)
      .withColumn("nc1", coalesce(col("nc"), lit(0L)) + 1)
    val w = Window.partitionBy(col("event_type"))
    shares
      .withColumn("p", col("nr1").cast("double") / sum(col("nr1")).over(w))
      .withColumn("q", col("nc1").cast("double") / sum(col("nc1")).over(w))
      .groupBy(col("event_type"))
      .agg(round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6).as("psi"),
        sum(col("nr")).as("n_ref"), sum(col("nc")).as("n_cur"))
      .orderBy("event_type")
  }

  val c17Sql: String =
    s"""WITH e AS (SELECT event_type, value,
      |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events),
      |rb AS (SELECT event_type, MIN(value) AS vlo, MAX(value) AS vhi
      |  FROM e WHERE ep_day < $C17SplitDay GROUP BY event_type),
      |binned AS (SELECT e.event_type,
      |  CASE WHEN ep_day < $C17SplitDay THEN 'ref' ELSE 'cur' END AS win,
      |  CASE WHEN vhi > vlo THEN LEAST($C17Bins - 1, GREATEST(0,
      |    CAST(FLOOR((value - vlo) * $C17Bins / (vhi - vlo)) AS INT))) ELSE 0 END AS bin
      |  FROM e JOIN rb ON e.event_type = rb.event_type),
      |cnt AS (SELECT event_type, bin,
      |  SUM(CASE WHEN win = 'ref' THEN 1 ELSE 0 END) AS nr,
      |  SUM(CASE WHEN win = 'cur' THEN 1 ELSE 0 END) AS nc
      |  FROM binned GROUP BY event_type, bin),
      |sh AS (SELECT event_type, nr, nc,
      |  CAST(nr + 1 AS DOUBLE) / SUM(nr + 1) OVER (PARTITION BY event_type) AS p,
      |  CAST(nc + 1 AS DOUBLE) / SUM(nc + 1) OVER (PARTITION BY event_type) AS q
      |  FROM cnt)
      |SELECT event_type, ROUND(SUM((p - q) * ln(p / q)), 6) AS psi,
      |  CAST(SUM(nr) AS BIGINT) AS n_ref, CAST(SUM(nc) AS BIGINT) AS n_cur
      |FROM sh GROUP BY event_type ORDER BY event_type""".stripMargin

  /** c18's deterministic assignment hash (Knuth multiplicative — plain
    * integer arithmetic so the DuckDB twin computes the identical
    * split) and period boundary. */
  private[graft] val C18Mult = 2654435761L
  private[graft] val C18SplitDay = 19738L

  /** c18_holdout_uplift — the intervention-measurement readout that
    * follows churn scoring in production: users are deterministically
    * hash-split 50/50 into treatment/control (assignment must be a pure
    * function of user_id so every job, backfill, and replay agrees),
    * outcome is purchase value in the post period, and the table
    * reports per-stratum (pre-period activity bucket) counts, means,
    * and uplift — stratification guards the readout against activity
    * imbalance. One pass builds per-user pre/post aggregates (single
    * user_id shuffle, the family's clustering), then a tiny
    * stratum-grain rollup. */
  def c18HoldoutUplift(s: SparkSession, d: String): DataFrame = {
    val perUser = ev(s, d)
      .groupBy(col("user_id"))
      .agg(
        sum((col("ep_day") < C18SplitDay).cast("long")).as("pre_events"),
        sum(when(col("ep_day") >= C18SplitDay && col("event_type") === "purchase",
          dec(col("value"))).otherwise(dec(lit(0.0)))).cast("double").as("post_purchase"))
      // fold user_id below 1e8 BEFORE multiplying: (id * mult) alone
      // overflows ANSI long arithmetic past ~3.5e9 users; the folded
      // product peaks at ~2.7e17, always safe
      .withColumn("treated",
        (pmod(pmod(col("user_id"), lit(100000007L)) * C18Mult, lit(100L)) < 50).cast("long"))
      .withColumn("stratum",
        when(col("pre_events") >= 50, "high")
          .when(col("pre_events") >= 20, "mid")
          .otherwise("low"))
    perUser
      .groupBy(col("stratum"))
      .agg(
        sum(col("treated")).as("n_treated"),
        sum(lit(1L) - col("treated")).as("n_control"),
        // a one-sided stratum (all treated or all control) has no
        // counterfactual: its mean and uplift are NULL, not an error
        round(sum(when(col("treated") === 1, col("post_purchase")).otherwise(0.0))
          / nullif(sum(col("treated")), lit(0L)), 6).as("mean_treated"),
        round(sum(when(col("treated") === 0, col("post_purchase")).otherwise(0.0))
          / nullif(sum(lit(1L) - col("treated")), lit(0L)), 6).as("mean_control"))
      .withColumn("uplift", round(col("mean_treated") - col("mean_control"), 6))
      .orderBy("stratum")
  }

  val c18Sql: String =
    s"""WITH e AS (SELECT user_id, event_type, value,
      |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events),
      |u AS (SELECT user_id,
      |  SUM(CASE WHEN ep_day < $C18SplitDay THEN 1 ELSE 0 END) AS pre_events,
      |  CAST(SUM(CASE WHEN ep_day >= $C18SplitDay AND event_type = 'purchase'
      |    THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0.0 AS DECIMAL(18,6)) END) AS DOUBLE)
      |    AS post_purchase
      |  FROM e GROUP BY user_id),
      |t AS (SELECT *,
      |  CASE WHEN ((user_id % 100000007) * $C18Mult) % 100 < 50 THEN 1 ELSE 0 END AS treated,
      |  CASE WHEN pre_events >= 50 THEN 'high'
      |       WHEN pre_events >= 20 THEN 'mid' ELSE 'low' END AS stratum
      |  FROM u)
      |SELECT stratum,
      |  CAST(SUM(treated) AS BIGINT) AS n_treated,
      |  CAST(SUM(1 - treated) AS BIGINT) AS n_control,
      |  ROUND(SUM(CASE WHEN treated = 1 THEN post_purchase ELSE 0.0 END)
      |    / NULLIF(SUM(treated), 0), 6) AS mean_treated,
      |  ROUND(SUM(CASE WHEN treated = 0 THEN post_purchase ELSE 0.0 END)
      |    / NULLIF(SUM(1 - treated), 0), 6) AS mean_control,
      |  ROUND(ROUND(SUM(CASE WHEN treated = 1 THEN post_purchase ELSE 0.0 END)
      |      / NULLIF(SUM(treated), 0), 6)
      |    - ROUND(SUM(CASE WHEN treated = 0 THEN post_purchase ELSE 0.0 END)
      |      / NULLIF(SUM(1 - treated), 0), 6), 6) AS uplift
      |FROM t GROUP BY stratum ORDER BY stratum""".stripMargin

  /** c19_hazard_curve — the discrete-time churn hazard (Kaplan-Meier
    * style life table) over user lifetimes: per calendar day, how many
    * users were at risk (first_day ≤ t ≤ last_day), how many churned
    * (last_day = t, censored on the final observed day), and the hazard
    * ratio — the curve a retention team reads before any model.
    *
    * Scale shape: ONE data-proportional shuffle (user_id lifetimes);
    * everything after is calendar-bounded — per-day start/end counts,
    * then cumulative at-risk via the c7-style tiny triangular cross
    * join over the day frame (≤ 10⁴ rows for decades of data) instead
    * of an unpartitioned running-sum window, keeping the
    * no-single-partition-window invariant. All counts exact longs, one
    * double division → fully oracle-checked. */
  def c19HazardCurve(s: SparkSession, d: String): DataFrame = {
    val life = Tables.events(s, d)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .groupBy(col("user_id"))
      .agg(min(col("ep_day")).as("first_day"), max(col("ep_day")).as("last_day"))
    val bounds = life.agg(min(col("first_day")), max(col("last_day"))).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val starts = life.groupBy(col("first_day").as("ep_day"))
      .agg(count(lit(1)).as("n_starts"))
    val ends = life.groupBy(col("last_day").as("ep_day"))
      .agg(count(lit(1)).as("n_ends"))
    val dayFrame = s.range(lo, hi + 1).toDF("ep_day")
      .join(starts, Seq("ep_day"), "left").join(ends, Seq("ep_day"), "left")
      .select(col("ep_day"),
        coalesce(col("n_starts"), lit(0L)).as("n_starts"),
        coalesce(col("n_ends"), lit(0L)).as("n_ends"))
    val curve = dayFrame.as("a")
      .crossJoin(broadcast(dayFrame.select(col("ep_day").as("b_day"),
        col("n_starts").as("b_starts"), col("n_ends").as("b_ends"))))
      .groupBy(col("a.ep_day").as("ep_day"), col("a.n_ends").as("n_ends_today"))
      .agg(sum(when(col("b_day") <= col("a.ep_day"), col("b_starts")).otherwise(0L))
          .as("cum_starts"),
        sum(when(col("b_day") < col("a.ep_day"), col("b_ends")).otherwise(0L))
          .as("cum_ends"))
    curve
      .withColumn("at_risk", col("cum_starts") - col("cum_ends"))
      .withColumn("n_churned",
        when(col("ep_day") === hi, lit(0L)).otherwise(col("n_ends_today")))
      .withColumn("hazard",
        when(col("at_risk") === 0L, lit(0.0))
          .otherwise(col("n_churned").cast("double") / col("at_risk")))
      .select("ep_day", "at_risk", "n_churned", "hazard")
      .orderBy("ep_day")
  }

  val c19Sql: String =
    """WITH e AS (SELECT user_id, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day
      |  FROM events),
      |life AS (SELECT user_id, MIN(ep_day) AS first_day, MAX(ep_day) AS last_day
      |  FROM e GROUP BY user_id),
      |bnd AS (SELECT MIN(first_day) AS lo, MAX(last_day) AS hi FROM life),
      |st AS (SELECT first_day AS ep_day, COUNT(*) AS n_starts FROM life GROUP BY first_day),
      |en AS (SELECT last_day AS ep_day, COUNT(*) AS n_ends FROM life GROUP BY last_day),
      |days AS (SELECT unnest(range((SELECT lo FROM bnd), (SELECT hi FROM bnd) + 1)) AS ep_day),
      |f AS (SELECT d.ep_day, COALESCE(st.n_starts, 0) AS n_starts,
      |    COALESCE(en.n_ends, 0) AS n_ends
      |  FROM days d LEFT JOIN st ON d.ep_day = st.ep_day
      |  LEFT JOIN en ON d.ep_day = en.ep_day),
      |c AS (SELECT a.ep_day, a.n_ends AS n_ends_today,
      |    CAST(SUM(CASE WHEN b.ep_day <= a.ep_day THEN b.n_starts ELSE 0 END) AS BIGINT) AS cum_starts,
      |    CAST(SUM(CASE WHEN b.ep_day < a.ep_day THEN b.n_ends ELSE 0 END) AS BIGINT) AS cum_ends
      |  FROM f a CROSS JOIN f b GROUP BY a.ep_day, a.n_ends)
      |SELECT ep_day, cum_starts - cum_ends AS at_risk,
      |  CASE WHEN ep_day = (SELECT hi FROM bnd) THEN 0 ELSE n_ends_today END AS n_churned,
      |  CASE WHEN cum_starts - cum_ends = 0 THEN 0.0
      |    ELSE CAST(CASE WHEN ep_day = (SELECT hi FROM bnd) THEN 0 ELSE n_ends_today END AS DOUBLE)
      |      / (cum_starts - cum_ends) END AS hazard
      |FROM c ORDER BY ep_day""".stripMargin

  /** c20_event_transitions — first-order Markov transition matrix over
    * user journeys: each user's events ordered by time form a path;
    * count (state → next_state) hops and normalize per origin state.
    * The churn team reads this to see which step precedes an exit
    * (`error → churn?`), and it doubles as the input to any
    * journey-simulation model.
    *
    * Scale shape: the lead() window shuffles on user_id — the log's
    * natural key, the same partitioning c1/c10 already use, so at
    * 100 TB it co-partitions with every other per-user pass. The hop
    * counts collapse map-side (|event_types|² partial aggregates per
    * partition) and the output is |event_types|² rows regardless of
    * corpus size; the final per-origin normalization windows over that
    * tiny frame. Tie-break on event_id keeps the path — and the oracle
    * comparison — deterministic when two events share a timestamp. */
  def c20EventTransitions(s: SparkSession, d: String): DataFrame =
    c20Core(Tables.events(s, d))

  /** c20's logic over any (user_id, ts, event_id, event_type) frame —
    * fixture seam. */
  private[graft] def c20Core(events: DataFrame): DataFrame = {
    val wU = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wS = Window.partitionBy("event_type")
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(wU))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prob", col("n").cast("double") / sum("n").over(wS))
      .orderBy("event_type", "next_type")
  }

  val c20Sql: String =
    """WITH j AS (SELECT user_id, event_type,
      |  LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events)
      |SELECT event_type, next_type, COUNT(*) AS n,
      |  CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (PARTITION BY event_type) AS prob
      |FROM j WHERE next_type IS NOT NULL
      |GROUP BY event_type, next_type ORDER BY event_type, next_type""".stripMargin

  val entries: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "c20_event_transitions" -> (c20EventTransitions _, Some(c20Sql)),
    "c19_hazard_curve" -> (c19HazardCurve _, Some(c19Sql)),
    "c18_holdout_uplift" -> (c18HoldoutUplift _, Some(c18Sql)),
    "c17_feature_drift" -> (c17FeatureDrift _, Some(c17Sql)),
    "c14_sliding_features" -> (c14SlidingFeatures _, Some(c14Sql)),
    "c16_range_join" -> (c16RangeJoin _, Some(c16Sql)),
    "c12_typed_agg" -> (c12TypedAgg _, Some(c12Sql)),
    "c11_props_json" -> (c11PropsJson _, Some(c11Sql)),
    "c1_sessionize" -> (c1Sessionize _, Some(c1Sql)),
    "c2_user_features" -> (c2UserFeatures _, Some(c2Sql)),
    "c3_churn_label" -> (c3ChurnLabel _, Some(c3Sql)),
    "c4_session_stats" -> (c4SessionStats _, Some(c4Sql)),
    "c5_retention_cohorts" -> (c5RetentionCohorts _, Some(c5Sql)),
    "c6_funnel" -> (c6Funnel _, Some(c6Sql)),
    "c7_rfm" -> (c7Rfm _, Some(c7Sql)),
    "c8_daily_rollup" -> (c8DailyRollup _, Some(c8Sql)),
    "c10_session_asof" -> (c10SessionAsof _, Some(c10Sql)),
  )
}
