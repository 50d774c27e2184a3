package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Churn
import graft.sources.{ParquetFooters, Tables}

/** The reference's train/predict stage re-expressed on Spark MLlib:
  * per-user features (Churn.c2 + a one-hot event-type spread) + churn
  * label (Churn.c3) → VectorAssembler → LogisticRegression → per-user
  * churn probability. The reference's "scale" step is LR's internal
  * standardization (`standardization=true`, the default): it scales
  * the features during optimization and folds the scaling back into
  * the coefficients, so there is no separate scaler stage. Deterministic:
  * fixed seed, deterministic hash-based train/test split (user_id mod),
  * no sampling.
  *
  * The reference runs training and batch prediction as SEPARATE daily
  * jobs around a persisted model; c13 mirrors that: fit → MLWriter save
  * → MLReader load in a scoring pass → scores written day-partitioned
  * for the downstream consumer (the x4 layout).
  *
  * Scale: feature assembly is one user_id-clustered aggregation (shared
  * with the rest of the churn family); LBFGS does a handful of
  * treeAggregate passes over the feature matrix — linear scans, no
  * shuffles beyond the aggregation, which is how this survives a
  * 10⁹-user table on a real cluster.
  */
object ChurnModel {

  private val NumericCols: Seq[String] = Seq(
    "n_events", "n_purchases", "n_errors", "total_value", "avg_value",
    "active_days", "span_days", "events_per_active_day")
  /** Per-event-type one-hot counts (the q19 pivot shape) — the analog of
    * the reference's device/browser one-hot dims in this schema. */
  private val EventTypes: Seq[String] =
    Seq("click", "view", "purchase", "signup", "error")
  val FeatureCols: Seq[String] = NumericCols ++ EventTypes.map(t => s"evt_$t")

  /** Per-user features + one-hot event-type counts + label matrix
    * (pure DataFrame ops — all keyed and shuffled on user_id once). */
  def featureMatrix(s: SparkSession, d: String): DataFrame =
    featureMatrixOf(Churn.ev(s, d))

  /** The matrix over an arbitrary events frame (user_id, event_type,
    * value, ep, ep_day) — c21's daily scoring runs it over the
    * warehouse's ingested-so-far state, so day-N scores see day-N
    * features/horizon, exactly the daily-cadence contract. */
  private[graft] def featureMatrixOf(e: DataFrame): DataFrame = {
    val evt = EventTypes.map(t => s"evt_$t")
    // the one-hot counts ride c2's own aggregation: count(when(...))
    // is the long a pivot + na.fill(0) gives, with no second per-user
    // aggregate, global sort or join back on user_id (the matrix is
    // built 4× per daily-pipeline run)
    val m = Churn.c2Aggregate(e,
        EventTypes.map(t => count(when(col("event_type") === t, 1)).as(s"evt_$t")))
      // the join on user_id this replaces never matched a null user
      .filter(col("user_id").isNotNull)
      .withColumn("span_days",
        floor((col("last_ep") - col("first_ep")) / lit(86400.0)).cast("long"))
      .withColumn("events_per_active_day",
        col("n_events").cast("double") / col("active_days"))
    m.select((m.columns.filterNot(evt.contains) ++ evt).map(col).toIndexedSeq: _*)
      // the label is c3's definition applied to c2's already-computed
      // recency — value-identical to joining c3ChurnLabelOf(e), minus
      // one whole per-user aggregation + shuffle join (c3 itself stays
      // a first-class gate operator)
      .withColumn("churned",
        when(col("recency_days") >= Churn.ChurnDays, 1L).otherwise(0L))
  }

  private def pipeline: Pipeline = new Pipeline().setStages(Array(
    new VectorAssembler()
      .setInputCols(FeatureCols.toArray)
      .setOutputCol("features"),
    // no explicit StandardScaler stage: LogisticRegression already
    // standardizes internally during optimization (standardization=true
    // by default) and folds the scaling back into the coefficients — an
    // upfront scaler is a redundant fit pass, an extra per-iteration
    // transform, and an extra stage in every MLWriter/MLReader
    // round-trip (c13)
    new LogisticRegression()
      .setMaxIter(25)
      .setRegParam(0.01)
      // 1e-4 halves LBFGS iterations vs 1e-5 at sf0.1 (8 vs 15) for an
      // indistinguishable operating point — the AUC spec gates it
      .setTol(1e-4)
      .setLabelCol("label")
      .setFeaturesCol("features")
      .setProbabilityCol("prob")))

  /** Iterations of the most recent LBFGS fit (profiling aid). */
  private[graft] def lastFitIterations: Int = lastIters
  @volatile private var lastIters: Int = -1

  /** Partition count for the cached LBFGS matrix — data-proportional,
    * not fixed: one partition per `MatrixRowsPerPartition` users (~128MB
    * of features), floor 1. At test SF that resolves to 1 (collapsing
    * per-iteration task overhead, see fitOnTrainFold's doc); at 10⁹
    * users it resolves to ~250 — same pipeline, no single-task stage. */
  private[graft] val MatrixRowsPerPartition = 4L << 20
  private def matrixPartitions(users: Long): Int =
    math.max(1L, (users + MatrixRowsPerPartition - 1) / MatrixRowsPerPartition).toInt

  private val fitMemo = new graft.SessionMemo[(DataFrame, PipelineModel)]

  /** (cached matrix, model fitted on the hash-split train fold).
    * cache: LBFGS iterates over the matrix; without this every pass
    * would recompute the per-user aggregations. The matrix is tiny
    * relative to the event log (one row per user), so collapse to a
    * data-proportional partition count (matrixPartitions: 1 at test SF,
    * ~users/4M at scale) — every LBFGS iteration schedules a
    * treeAggregate over the matrix, and at test size per-iteration cost
    * is pure task overhead (4 partitions = 4x the tasks for zero
    * parallelism gain), while a fixed 1 would serialize a 10⁹-user fit.
    *
    * Memoized per (session, dir): the fit is fully deterministic (fixed
    * seed, hash split, no sampling), so c9/c13/c15 sharing one LBFGS
    * run returns bit-identical scores to refitting — previously each of
    * the three paid its own fit, and the redundant fits were most of
    * c13's bench cost. c13's separated-jobs semantics are untouched: it
    * still round-trips the model through MLWriter/MLReader.
    *
    * The fit reads only the static corpus `d`, so the daily pipeline
    * starts it with the cycle, overlapping that cycle's ingest and
    * rollup (`Pipeline.runCycle`). A caller that asks while another
    * thread fits waits for that fit rather than running a second. */
  private[graft] def fitOnTrainFold(s: SparkSession, d: String): (DataFrame, PipelineModel) =
    fitMemo.getOrElseUpdate(s, d) {
      // users = distinct customers; exact count not needed for sizing —
      // the dim table's row count is the matrix's row count upper bound,
      // read from its footers (metadata, no job)
      val users = ParquetFooters.rowCount(s, Tables.path(d, "customer"))
      val data = featureMatrix(s, d)
        .withColumn("label", col("churned").cast("double"))
        .coalesce(matrixPartitions(users))
        .cache()
      val train = data.filter(pmod(col("user_id"), lit(5)) =!= 0)
      val model = pipeline.fit(train)
      model.stages.collectFirst {
        case lr: org.apache.spark.ml.classification.LogisticRegressionModel =>
          lastIters = lr.summary.totalIterations
          // every scoring closure ships the model: without its summary,
          // not the training frame and session too
          org.apache.spark.ml.GraftMlShim.dropSummary(lr)
      }
      (data, model)
    }

  /** Per-user score frame for a fitted model (unordered — callers sort;
    * c13's sink write shouldn't pay a global sort it doesn't need).
    * `vector_to_array` + element_at keeps probability extraction inside
    * codegen — no UDF. */
  private def scored(model: PipelineModel, data: DataFrame): DataFrame =
    model.transform(data)
      .select(col("user_id"), col("churned"),
        round(element_at(vector_to_array(col("prob")), 2), 6).as("churn_prob"),
        col("prediction").cast("long").as("prediction"),
        (pmod(col("user_id"), lit(5)) === 0).cast("long").as("is_test"))

  /** Daily-cadence scoring for the orchestrated pipeline (c21): score
    * every user visible in `events` (the warehouse's ingested-so-far
    * state) with the session's memoized model — the reference's shape
    * of a periodically-retrained model applied by a daily predict job.
    * Output: user_id, churned, churn_prob, prediction, is_test. */
  private[graft] def dailyScores(s: SparkSession, d: String,
      events: DataFrame): DataFrame = {
    val (_, model) = fitOnTrainFold(s, d)
    scored(model, featureMatrixOf(events))
  }

  /** c9_churn_train_predict — fit on the hash-split train fold, score
    * every user. Output: user_id, churned, churn_prob, prediction. */
  def c9TrainPredict(s: SparkSession, d: String): DataFrame = {
    val (data, model) = fitOnTrainFold(s, d)
    scored(model, data).orderBy("user_id")
  }

  /** c15_model_metrics — the evaluation stage of the reference's daily
    * cycle: held-out-fold confusion-matrix metrics for the churn scorer
    * at a sweep of decision thresholds (the table a deployment reads to
    * pick its operating point). One pass over the scored fold: the
    * 5-row threshold table is broadcast-crossed in, every metric is a
    * conditional aggregate — no per-threshold rescans. rows-only (the
    * probabilities have no SQL twin); spec checks one threshold against
    * an independent plain-Scala confusion matrix and monotonicity of
    * positives across thresholds. */
  def c15ModelMetrics(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scores = c9TrainPredict(s, d)
      .filter(col("is_test") === 1L)
      .select(col("churned"), col("churn_prob"))
    val th = Seq(0.2, 0.35, 0.5, 0.65, 0.8).toDF("threshold")
    scores.crossJoin(broadcast(th))
      .groupBy(col("threshold"))
      .agg(
        sum(when(col("churn_prob") >= col("threshold") && col("churned") === 1L, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("churn_prob") >= col("threshold") && col("churned") === 0L, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("churn_prob") < col("threshold") && col("churned") === 1L, 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("churn_prob") < col("threshold") && col("churned") === 0L, 1L)
          .otherwise(0L)).as("tn"))
      .withColumn("precision", when(col("tp") + col("fp") > 0,
        col("tp").cast("double") / (col("tp") + col("fp"))).otherwise(0.0))
      .withColumn("recall", when(col("tp") + col("fn") > 0,
        col("tp").cast("double") / (col("tp") + col("fn"))).otherwise(0.0))
      .orderBy("threshold")
  }

  /** c13_model_io — the reference's separated daily jobs: train → save
    * the PipelineModel (MLWriter) → reload it (MLReader, as the daily
    * scoring job would) → score → write scores day-partitioned (run_day
    * = dataset horizon day, the x4 layout) → read back through the
    * partitioned table. Output is c9's score frame + run_day; a spec
    * asserts the reloaded model's scores are bit-identical to c9's. */
  def c13ModelIo(s: SparkSession, d: String): DataFrame = {
    val (data, model) = fitOnTrainFold(s, d)
    val modelDir = graft.operators.Engine.tmpDir("graft_churn_model")
    model.write.overwrite().save(modelDir)

    // --- scoring job: knows only the saved model path + the data ---
    val reloaded = PipelineModel.load(modelDir)
    val runDay = data.agg(expr("max(last_ep) div 86400").as("run_day"))
    val scoresDir = graft.operators.Engine.tmpDir("graft_churn_scores")
    // no coalesce: the score frame inherits the matrix's
    // data-proportional partitioning (1 file at test SF, ~users/4M at
    // scale) — a fixed coalesce(1) here was a single-task bottleneck on
    // the daily scoring job at 10⁸+ users
    scored(reloaded, data)
      .crossJoin(broadcast(runDay))
      .write.mode("overwrite").partitionBy("run_day").parquet(scoresDir)
    s.read.parquet(scoresDir)
      // partition-dir columns come back type-inferred (int) — pin to long
      .select(col("user_id"), col("churned"), col("churn_prob"),
        col("prediction"), col("is_test"), col("run_day").cast("long").as("run_day"))
      .orderBy("user_id")
  }
}
