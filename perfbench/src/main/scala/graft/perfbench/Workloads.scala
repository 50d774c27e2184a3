package graft.perfbench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Pipeline, SnapshotTable => ST}

/** One timed call: `kind` is "read" or "write". */
final case class OpSample(pass: Int, phase: String, op: String, kind: String,
    seconds: Double, ok: Boolean)

/** What a pass needs: the pass's own session, the input dir, a seeded
  * random source, and whether this is the untimed checking pass. */
final class PassCtx(val s: SparkSession, val data: String, val pass: Int,
    val phase: String, val rng: Random, val tracer: Tracer, val run: RunState) {
  def checking: Boolean = phase == "check"
  def traced: Boolean = tracer.on

  /** Time one op; an exception is logged and counted, never dropped. */
  def op(name: String, kind: String, layer: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val ok =
      try { tracer.span(name, layer, name)(body); true }
      catch { case e: Throwable => run.fail(name, pass, e); false }
    val sec = (System.nanoTime() - t0) / 1e9
    run.samples += OpSample(pass, phase, name, kind, sec, ok)
    System.err.println(f"[op] pass $pass $name $sec%.3f")
  }

  /** A named operator from graft's registry: call it for its frame, then
    * materialize every output column through the noop sink. On the
    * checking pass the rows are written as parquet for the output check
    * instead. Traced, the call is a span of the operator's layer (of
    * `callLayer` when given: st6 runs its stream inside the call), the
    * frame's analysis phase is recorded for `plans`, and the write is a
    * `spark.exec` span whose own optimization and planning the session's
    * query listener reports. */
  def entry(name: String, kind: String, family: String, callLayer: String = ""): Unit =
    op(name, kind, s"operators.$family") {
      val df = tracer.span(if (callLayer.isEmpty) "operator.call" else s"$callLayer.run",
          if (callLayer.isEmpty) s"operators.$family" else callLayer, name) {
        SparkEntry.queries(name)(s, data)
      }
      if (traced) tracer.phases(df.queryExecution.tracker)
      tracer.span("spark.exec", "spark", name) {
        if (checking) run.saveForCheck(name, df, SparkEntry.oracleSql.get(name))
        else df.write.mode("overwrite").format("noop").save()
      }
    }

  /** Run benchmark-side work outside any op; an exception counts as a
    * failure of `name` and does not end the run. */
  def guard(name: String)(body: => Unit): Unit =
    try body catch { case e: Throwable => run.fail(name, pass, e) }

  /** A benchmark-side output check; a mismatch or an exception counts
    * as a failure. */
  def check(name: String, ok: => Boolean, detail: => String): Unit =
    try { if (!ok) run.mismatch(name, pass, detail) }
    catch { case e: Throwable => run.fail(name, pass, e) }
}

/** Accumulates everything a run reports. */
final class RunState(val checkDir: String) {
  val samples = ArrayBuffer.empty[OpSample]
  val failures = ArrayBuffer.empty[Map[String, Any]]
  val checks = ArrayBuffer.empty[Map[String, Any]]
  val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def fail(op: String, pass: Int, e: Throwable): Unit = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")
    System.err.println(s"[perfbench] op $op failed in pass $pass: ${e.getClass.getName}: $msg")
    failures += Map("op" -> op, "pass" -> pass, "error" -> e.getClass.getName,
      "message" -> msg.take(500))
  }

  def mismatch(op: String, pass: Int, detail: String): Unit = {
    System.err.println(s"[perfbench] op $op output mismatch in pass $pass: $detail")
    failures += Map("op" -> op, "pass" -> pass, "error" -> "OutputMismatch",
      "message" -> detail.take(500))
  }

  /** Write an op's rows for the output check run.py makes: against the
    * DuckDB `oracle` when there is one, else against invariants. */
  def saveForCheck(op: String, df: DataFrame, oracle: Option[String]): Unit = {
    val dir = Paths.get(checkDir, op).toString
    df.write.mode("overwrite").parquet(dir)
    checks += Map("op" -> op, "dir" -> dir, "oracle" -> oracle.orNull)
  }

  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
}

trait Workload {
  def name: String
  /** Untimed fixture staging, once per run. */
  def stage(s: SparkSession, data: String): Unit = ()
  def pass(c: PassCtx): Unit
  /** Untimed passes after the checking pass, so that timing starts once
    * passes are steady. */
  def warmups: Int = 0
  /** Extra traced-only measurements, after the timed passes. */
  def traceExtra(spark: SparkSession, data: String, tracer: Tracer, run: RunState): Unit = ()
}

object Workloads {
  val all: Seq[Workload] = Seq(ChurnDaily, OlapLlm)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name (known: ${all.map(_.name).mkString(", ")})"))
}

/** The paper's daily cadence: ingest -> features -> label -> LR fit and
  * score -> write-back, then serving lookups. */
object ChurnDaily extends Workload {
  val name = "churn_daily"
  val LookupBatches = 8
  /** The first pass after the checking pass still runs 10-15 % slower
    * than the steady ones, while the JIT catches up (olap_llm's does not). */
  override val warmups = 1
  val LookupIds = 64

  private var users = 0L
  /** The warehouse of the latest pass, kept for [[traceExtra]]. */
  private var lastWarehouse: Option[Pipeline.Warehouse] = None

  override def stage(s: SparkSession, data: String): Unit =
    users = graft.sources.Tables.events(s, data).agg(max("user_id")).head().getLong(0) + 1

  def pass(c: PassCtx): Unit = {
    val w = c.tracer.span("fresh_warehouse", "operators.Pipeline", "fresh_warehouse") {
      Pipeline.freshWarehouse("perfbench")
    }
    lastWarehouse = Some(w)
    for (i <- Pipeline.Cuts.indices)
      c.op(s"cycle$i", "write", "operators.Pipeline") {
        val r = Pipeline.runCycle(c.s, c.data, w, i)
        c.check(s"cycle$i", r == ((true, true, true)), s"stages committed: $r")
      }
    c.op("replay", "write", "operators.Pipeline") {
      val r = Pipeline.runCycle(c.s, c.data, w, Pipeline.Cuts.size - 1)
      c.check("replay", r == ((false, false, false)), s"replay committed: $r")
    }
    val versions = Seq(w.bronze, w.rollup, w.scores).map(ST.currentVersion)
    c.check("replay", versions == Seq(3, 3, 3), s"table versions after the pass: $versions")
    val scored =
      if (c.checking) ST.read(c.s, w.scores).select("user_id").collect().map(_.getLong(0)).toSet
      else Set.empty[Long]
    for (b <- 0 until LookupBatches) {
      val ids = Seq.fill(LookupIds)(c.rng.nextLong(users)).distinct.sorted
      c.op(s"lookup$b", "read", "operators.SnapshotTable") {
        val df = c.tracer.span("operator.call", "operators.SnapshotTable", s"lookup$b") {
          ST.readPointLookup(c.s, w.scores, "user_id", ids).select("user_id")
        }
        if (c.traced) c.tracer.phases(df.queryExecution.tracker)
        val rows = c.tracer.span("spark.exec", "spark", s"lookup$b") {
          df.collect().map(_.getLong(0))
        }
        if (c.checking)
          c.check(s"lookup$b", rows.sorted.toSeq == ids.filter(scored),
            s"lookup returned ${rows.length} rows for ${ids.count(scored)} scored ids")
      }
    }
    if (c.checking) {
      // scores end-state == one-shot c9 scoring (same session, same fit)
      lazy val a = scores(ST.read(c.s, w.scores))
      lazy val b = scores(graft.ml.ChurnModel.c9TrainPredict(c.s, c.data))
      lazy val bad = scoreDiffs(a, b)
      c.check("scores", a.nonEmpty && bad == 0,
        s"$bad of ${a.size} served users differ from the one-shot c9 scores")
      // rollup end-state == the one-shot day rollup (DuckDB, c21's SQL)
      c.guard("rollup")(c.run.saveForCheck("rollup", ST.read(c.s, w.rollup)
        .withColumn("day", date_add(lit("1970-01-01").cast("date"), col("ep_day").cast("int")))
        .select("day", "event_type", "n_events", "n_users", "value_sum"),
        Some(Pipeline.c21Sql)))
    }
  }

  /** LR probabilities depend on partition order in the last bits. */
  val ProbTolerance = 1e-9

  /** user -> (churn_prob, the exact columns) of a scores frame */
  private def scores(df: DataFrame): Map[Long, (Double, Seq[Any])] =
    df.select("user_id", "churn_prob", "churned", "prediction", "is_test").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), (2 until 5).map(r.get)))).toMap

  /** Users scored in only one of `a` and `b`, or scored differently. */
  private def scoreDiffs(a: Map[Long, (Double, Seq[Any])],
      b: Map[Long, (Double, Seq[Any])]): Int =
    (a.keySet ++ b.keySet).count { u =>
      (a.get(u), b.get(u)) match {
        case (Some((p, x)), Some((q, y))) => math.abs(p - q) > ProbTolerance || x != y
        case _ => true
      }
    }

  /** Each stage's entry point called in sequence on a fresh warehouse,
    * in a fresh session, so the first score includes the fit. The rollup
    * aggregation and the scores table's first commit are copies of
    * `Pipeline.runCycle`'s (graft has no public entry point for them),
    * so the stage run's end state is compared with the last pass's: a
    * difference means the copies have drifted from graft's code and
    * counts as a failure. */
  override def traceExtra(spark: SparkSession, data: String, tracer: Tracer,
      run: RunState): Unit = {
    val s = spark.newSession()
    val w = Pipeline.freshWarehouse("perfbench_stages")
    def timed[T](k: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally run.add(k, (System.nanoTime() - t0) / 1e9)
    }
    val ev = graft.operators.Churn.ev(s, data)
      .select("event_id", "user_id", "event_type", "value", "ep", "ep_day")
    for ((cut, i) <- Pipeline.Cuts.zipWithIndex) {
      val (lo, hi) = cut
      timed("pipeline.ingest_s") {
        graft.streaming.SnapshotSink.appendBatch(w.bronze,
          ev.filter(col("ep_day") >= lo && col("ep_day") < hi), i, keyCol = "ep_day")
      }
      timed("pipeline.rollup_s") {
        val rows = ST.read(s, w.bronze)
          .filter(col("ep_day") >= lo && col("ep_day") < hi)
          .groupBy(col("ep_day"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"),
            sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
        graft.streaming.SnapshotSink.appendBatch(w.rollup, rows, i, keyCol = "ep_day")
      }
      val changes = timed("ml.score_s") {
        graft.ml.ChurnModel.dailyScores(s, data, ST.read(s, w.bronze))
          .select(col("user_id"), col("churn_prob"), col("prediction"),
            col("churned"), col("is_test"))
          .withColumn("score_day", lit(i.toLong)).withColumn("op", lit("u"))
          .localCheckpoint()
      }
      timed("pipeline.writeback_s") {
        if (ST.currentVersion(w.scores) == 0) {
          val entries = ST.writeDataFiles(changes.drop("op"), w.scores, s"pb$i")
            .map(ST.footerEntry(w.scores, _, "user_id"))
          ST.commitEntries(w.scores, 0, entries, shardSize = 4, Map("statsCol" -> "user_id"))
        } else ST.merge(s, w.scores, "user_id", "user_id", changes)
      }
    }
    run.add("ml.lbfgs_iters", graft.ml.ChurnModel.lastFitIterations.toDouble)
    lastWarehouse.foreach { pw =>
      def rollup(root: String) = ST.read(s, root)
        .select("ep_day", "event_type", "n_events", "n_users", "value_sum")
        .collect().map(_.toString).sorted.toSeq
      val rollupOk = rollup(w.rollup) == rollup(pw.rollup)
      val a = scores(ST.read(s, w.scores))
      val bad = scoreDiffs(a, scores(ST.read(s, pw.scores)))
      if (!rollupOk || bad > 0 || a.isEmpty)
        run.mismatch("stages", -1, s"stage run differs from the last pass: rollup " +
          s"${if (rollupOk) "equal" else "differs"}, $bad of ${a.size} scores differ")
    }
  }
}

/** Read-only work: star-schema analytics, a memo-free churn feature
  * query, the LLM-curation ops that evaluate graft's native kernels, and
  * a stateful streaming sessionizer. One fresh session per pass, shared
  * by every op as one job would, so memos are rebuilt every pass; the
  * op order is seeded per pass. No table commits and no ML fit. */
object OlapLlm extends Workload {
  val name = "olap_llm"
  /** (op, family, layer of the call that returns the frame when it is
    * not the family's own) */
  val Ops: Seq[(String, String, String)] = Seq(
    ("q1_agg", "Relational", ""),
    ("q5_multijoin", "Relational", ""),
    ("c2_user_features", "Churn", ""),
    ("d4_dedup_simhash", "Dedup", ""),
    ("s11_knn_pq", "Similarity", ""),
    ("t17_bpe_tokens", "TextAnalysis", ""),
    ("st6_stream_session_state", "Streams", "streaming"))

  def pass(c: PassCtx): Unit = {
    c.rng.shuffle(Ops).foreach { case (op, family, layer) => c.entry(op, "read", family, layer) }
  }
}
