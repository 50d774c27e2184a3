package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** c21's orchestration contracts — the parts the DuckDB oracle (rollup
  * end-state ≡ one-shot c8 recompute) cannot see: score-table
  * convergence to the one-shot scoring, per-cycle liveness, and replay
  * idempotence of every stage. */
class PipelineSpec extends AnyFunSuite {
  import TestSession._
  val P = graft.operators.Pipeline
  val ST = graft.operators.SnapshotTable
  val Engine = graft.operators.Engine

  test("daily cadence: scores converge to one-shot c9; replays are stage-level no-ops") {
    val w = P.freshWarehouse("c21spec")
    // cycle 0 only: the serving table is live mid-cadence, covering
    // exactly the users ingested so far (the reference's publisher can
    // query scores on day 1, not at end-of-history)
    assert(P.runCycle(spark, sf, w, 0) == ((true, true, true)))
    val sliceUsers = ST.read(spark, w.bronze).select("user_id").distinct().count()
    assert(ST.read(spark, w.scores).count() == sliceUsers,
      "mid-cadence scores must cover exactly the ingested-so-far users")
    // remaining cycles
    assert(P.runCycle(spark, sf, w, 1) == ((true, true, true)))
    assert(P.runCycle(spark, sf, w, 2) == ((true, true, true)))
    val versions = Seq(w.bronze, w.rollup, w.scores).map(ST.currentVersion)
    assert(versions == Seq(3, 3, 3), s"one commit per table per cycle, got $versions")

    // REPLAY: re-running any completed cycle commits nothing anywhere
    assert(P.runCycle(spark, sf, w, 0) == ((false, false, false)))
    assert(P.runCycle(spark, sf, w, 2) == ((false, false, false)))
    assert(Seq(w.bronze, w.rollup, w.scores).map(ST.currentVersion) == versions,
      "replay minted a new version")

    // CONVERGENCE: day-by-day end-state ≡ the one-shot batch scoring.
    // The final cycle re-scored every user over the fully-ingested
    // warehouse, so the serving table must equal c9's frame exactly.
    val oneShot = graft.ml.ChurnModel.c9TrainPredict(spark, sf)
      .select("user_id", "churned", "churn_prob", "prediction", "is_test")
    val served = ST.read(spark, w.scores)
      .select("user_id", "churned", "churn_prob", "prediction", "is_test")
    assert(served.count() == oneShot.count())
    assert(served.except(oneShot).isEmpty && oneShot.except(served).isEmpty,
      "daily-cadence scores drifted from the one-shot recompute")
    // every row carries the last cycle's score_day (all users re-scored)
    assert(ST.read(spark, w.scores).filter(col("score_day") =!= 2L).count() == 0)
  }

  test("a cycle that CRASHED between stages resumes exactly (per-stage replay ids)") {
    import org.apache.spark.sql.functions._
    val w = P.freshWarehouse("c21crash")
    assert(P.runCycle(spark, sf, w, 0) == ((true, true, true)))
    // simulate a driver crash AFTER cycle 1's ingest committed but
    // BEFORE rollup/score ran: commit the ingest stage alone
    val slice1 = graft.operators.Churn.ev(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "ep", "ep_day")
      .filter(col("ep_day") >= P.Cuts(1)._1 && col("ep_day") < P.Cuts(1)._2)
    assert(graft.streaming.SnapshotSink.appendBatch(w.bronze, slice1, 1L, keyCol = "ep_day"))
    // the re-run of cycle 1 must skip ingest (already committed) and
    // run the two missing stages — no duplicate bronze rows, rollup and
    // scores land once
    assert(P.runCycle(spark, sf, w, 1) == ((false, true, true)),
      "crash-resume did not skip the committed stage / run the missing ones")
    assert(P.runCycle(spark, sf, w, 2) == ((true, true, true)))
    val bronzeRows = ST.read(spark, w.bronze).count()
    val rawRows = graft.sources.Tables.events(spark, sf).count()
    assert(bronzeRows == rawRows, s"resume duplicated ingest: $bronzeRows vs $rawRows")
    val oneShot = graft.ml.ChurnModel.c9TrainPredict(spark, sf)
      .select("user_id", "churn_prob")
    val served = ST.read(spark, w.scores).select("user_id", "churn_prob")
    assert(served.except(oneShot).isEmpty && oneShot.except(served).isEmpty,
      "crash-resumed cadence diverged from the one-shot scoring")
  }

  /** After a failed cycle has returned: no Spark job still runs, and
    * no table of `w` moves afterwards. Returns the table versions. */
  private def settled(w: P.Warehouse): Seq[Int] = {
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "a Spark job outlived the failed cycle")
    val versions = Seq(w.bronze, w.rollup, w.scores).map(ST.currentVersion)
    Thread.sleep(1000)
    assert(Seq(w.bronze, w.rollup, w.scores).map(ST.currentVersion) == versions,
      "a table committed after the failed cycle returned")
    versions
  }

  test("a failed fit is rethrown only after the cycle's ingest and rollup have ended") {
    import java.nio.file.{Files, Paths}
    // a corpus copy without the customer table: the fit sizes its matrix
    // from that table's footers, so it fails; ingest and rollup read
    // only the events
    val corpus = Files.createTempDirectory("graft_no_customer")
    try {
      Engine.listDir(Paths.get(sf))
        .filterNot(_.getFileName.toString == "customer.parquet")
        .foreach(f => Files.copy(f, corpus.resolve(f.getFileName)))
      val w = P.freshWarehouse("c21fitfail")
      val e = intercept[java.io.FileNotFoundException](P.runCycle(spark, corpus.toString, w, 0))
      assert(e.getMessage.contains("customer"), e.getMessage)
      // ingest and rollup committed before the error surfaced; score never ran
      assert(settled(w) == Seq(1, 1, 0))
    } finally Engine.deleteRecursively(corpus)
  }

  test("a failed rollup is rethrown only after the cycle's fit, ingest and score have ended") {
    import java.nio.file.{Files, Paths}
    // a plain file where the rollup table's directory belongs
    val w0 = P.freshWarehouse("c21rollupfail")
    val blocker = Paths.get(w0.rollup + "_file")
    Files.deleteIfExists(blocker)
    Files.write(blocker, "not a table".getBytes)
    val w = w0.copy(rollup = blocker.toString)
    try {
      val e = intercept[Exception](P.runCycle(spark, sf, w, 0))
      assert(e.getStackTrace.exists(_.getClassName.startsWith("graft.streaming.SnapshotSink")),
        s"not the rollup's append: $e")
      // ingest and score committed before the error surfaced
      assert(settled(w) == Seq(1, 0, 1))
    } finally Files.deleteIfExists(blocker)
  }

  test("a session that has used Observation still scores a cycle") {
    // an Observation leaves its session holding a field that does not
    // serialize; a scoring closure that reached the session through the
    // fitted model's training summary failed with Task not serializable.
    // A session of its own, so its fit is not the shared session's memo.
    val s2 = spark.newSession()
    val obs = org.apache.spark.sql.Observation("rows")
    s2.range(3).observe(obs, count(lit(1)).as("n")).collect()
    assert(obs.get("n") == 3L)
    val w = P.freshWarehouse("c21observed")
    assert(P.runCycle(s2, sf, w, 0) == ((true, true, true)))
    assert(ST.read(s2, w.scores).count() ==
      ST.read(s2, w.bronze).select("user_id").distinct().count())
  }

  test("c22 serving: looked-up churn_prob ≡ one-shot c9 for the sampled users") {
    val served = P.c22ScoreServing(spark, sf).select("user_id").collect()
      .map(_.getLong(0)).toSet
    assert(served.nonEmpty)
    val root = P.servingTable(spark, sf)
    val probs = ST.readPointLookup(spark, root, "user_id", served.toSeq)
      .select("user_id", "churn_prob").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val oneShot = graft.ml.ChurnModel.c9TrainPredict(spark, sf)
      .filter(col("user_id").isin(served.toSeq: _*))
      .select("user_id", "churn_prob").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(probs == oneShot, "served churn_prob drifted from the one-shot scoring")
  }

  test("c22 serving: a single-user fetch opens one file, not the table") {
    val root = P.servingTable(spark, sf)
    val anyUser = ST.read(spark, root).select("user_id").head().getLong(0)
    val plan = ST.readPointLookup(spark, root, "user_id", Seq(anyUser))
      .queryExecution.sparkPlan
    val scanned = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.toSeq
    }.flatten
    assert(scanned.size <= 2,
      s"point lookup opened ${scanned.size} of ${P.ServeFiles} serving files: $scanned")
    assert(scanned.nonEmpty, "lookup for an existing user pruned to zero files")
  }
}
