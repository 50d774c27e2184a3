package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The failure-mode contracts of the snapshot-table commit protocol:
  * distributed micro-batch writes, metadata carry-forward across every
  * commit kind, stale-claim reclaim (a dead committer cannot wedge the
  * table), empty-task discard safety, and bound saturation at the Long
  * domain edges. These are the paths only a crash or a race exercises —
  * exactly the ones a 1000-executor deployment hits weekly. */
class SnapshotRobustnessSpec extends AnyFunSuite {
  import TestSession._
  val ST = graft.operators.SnapshotTable
  val SS = graft.streaming.SnapshotSink
  val Engine = graft.operators.Engine

  private def freshRoot(name: String): String = {
    val root = Engine.tmpDir(name)
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    root
  }

  private def eventSlice(n: Int) = graft.sources.Tables.events(spark, sf)
    .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
    .select("event_id", "user_id", "event_type", "value", "ep_day")
    .limit(n)

  test("appendBatch writes one data file per task partition, committed as ONE version") {
    val root = freshRoot("graft_sink_multipart")
    assert(SS.appendBatch(root, eventSlice(40).repartition(4), batchId = 0L))
    assert(ST.currentVersion(root) == 1, "multi-file batch must be one commit")
    val entries = ST.manifestEntries(root, 1)
    assert(entries.size == 4, s"expected 4 per-task files, got ${entries.map(_.rel)}")
    assert(ST.read(spark, root).count() == 40)
    assert(ST.manifestMeta(root, 1) - "cts" == Map("last_batch" -> "0"))
  }

  test("upsertBatch: replay is a no-op, keys combine associatively, one version per batch") {
    import spark.implicits._
    val root = freshRoot("graft_sink_upsert")
    def state(rows: (Long, Long, Long, Long)*) =
      rows.toSeq.toDF("user_id", "n_events", "value_micros", "last_ts")
    assert(SS.upsertBatch(spark, root, state((1L, 2L, 100L, 10L), (2L, 1L, 50L, 20L)),
      batchId = 0L, keyCol = "user_id"))
    assert(ST.currentVersion(root) == 1)
    // batch 1 touches user 1 (adds) and user 3 (new)
    assert(SS.upsertBatch(spark, root, state((1L, 3L, 10L, 30L), (3L, 1L, 7L, 5L)),
      batchId = 1L, keyCol = "user_id"))
    assert(ST.currentVersion(root) == 2)
    // replaying batch 1 must not double-apply
    assert(!SS.upsertBatch(spark, root, state((1L, 3L, 10L, 30L), (3L, 1L, 7L, 5L)),
      batchId = 1L, keyCol = "user_id"))
    assert(ST.currentVersion(root) == 2, "replay must not commit a version")
    val got = ST.read(spark, root).orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 5L, 110L, 30L),  // 2+3 events, 100+10 micros, max ts
      (2L, 1L, 50L, 20L),   // untouched by batch 1
      (3L, 1L, 7L, 5L)),    // inserted by batch 1
      s"upsert state wrong: ${got.toSeq}")
  }

  test("upsertBatch reads only may-match files (Delta's MERGE discipline), and records the scan") {
    import spark.implicits._
    val root = freshRoot("graft_sink_upsert_prune")
    // batch 0: keys 1..80, range-clustered into 4 files with disjoint
    // user ranges — the layout repeated key-ranged upserts converge to
    val b0 = (1L to 80L).map(k => (k, 1L, k, k))
      .toDF("user_id", "n_events", "value_micros", "last_ts")
      .repartitionByRange(4, col("user_id"))
    assert(SS.upsertBatch(spark, root, b0, batchId = 0L, keyCol = "user_id"))
    assert(ST.manifestEntries(root, 1).size == 4, "fixture: want 4 range-disjoint files")
    // batch 1 touches keys 5..10 — one file's key range: the combine
    // must NOT scan the whole table (the O(table)-per-micro-batch read
    // this spec exists to forbid)
    val b1 = Seq((5L, 1L, 5L, 99L), (10L, 2L, 10L, 99L))
      .toDF("user_id", "n_events", "value_micros", "last_ts")
    assert(SS.upsertBatch(spark, root, b1, batchId = 1L, keyCol = "user_id"))
    val meta = ST.manifestMeta(root, 2)
    val Array(n, m) = meta("upsert_scan").split("of").map(_.toInt)
    assert(m == 4 && n < m, s"read side not pruned: upsert_scan=${meta.get("upsert_scan")}")
    // pruning must not cost correctness: touched keys combined, the
    // other 78 rows intact
    val got = ST.read(spark, root).filter(col("user_id").isin(5L, 10L))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((5L, 2L, 10L, 99L), (10L, 3L, 20L, 99L)), s"combine wrong: ${got.toSeq}")
    assert(ST.read(spark, root).count() == 80)
    // a batch of entirely NEW keys beyond every file's range: zero
    // may-match files, still a clean exactly-once commit (the growth
    // shape every user-keyed stream eventually sends)
    val b2 = Seq((200L, 1L, 7L, 50L))
      .toDF("user_id", "n_events", "value_micros", "last_ts")
    assert(SS.upsertBatch(spark, root, b2, batchId = 2L, keyCol = "user_id"))
    assert(ST.read(spark, root).count() == 81)
    assert(ST.manifestMeta(root, 3)("upsert_scan") == "0of4", "growth batch must prune to zero")
  }

  test("CommitRetry waits out the reclaim floor before failing loudly") {
    val root = freshRoot("graft_retry_budget")
    var clock = 1000000L
    var slept = 0L
    val retry = new ST.CommitRetry(root, sleep = ms => slept += ms, now = () => clock)
    retry.observed(0)
    val e = new java.nio.file.FileAlreadyExistsException("v1 claim")
    // burn the whole attempt budget in (simulated) under a second: the
    // pre-fix counter-only gate threw here — before a claim left by a
    // committer that died JUST before our first attempt could age past
    // StaleClaimMinAgeMs, making the reclaim path unreachable in that
    // window. The time gate keeps retrying instead.
    (1 to ST.MaxCommitAttempts + 10).foreach { _ => clock += 10; retry.lost(e) }
    assert(slept > 0, "backoff must engage on no-progress losses")
    // once the floor has genuinely elapsed the loud failure comes —
    // a wedge still cannot spin forever
    clock += ST.StaleClaimMinAgeMs
    intercept[IllegalStateException] { retry.lost(e) }
  }

  test("concurrent DSv2 writers race the CAS: losers retry, every append lands once") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val root = freshRoot("graft_dsv2_race")
    val writers = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      // six sessionless-looking writers (six driver threads, the same
      // race two Spark APPLICATIONS run on shared storage) append one
      // row each through the connector simultaneously: every commit
      // CASes the next manifest version, losers re-read and retry
      val futs = (1 to writers).map { i => Future {
        Seq((i.toLong, i * 10.0)).toDF("user_id", "score")
          .coalesce(1).write.format("graft-snapshot").mode("append").save(root)
      }}
      Await.result(Future.sequence(futs), 180.seconds)
    } finally pool.shutdown()
    // one version per writer, consecutive — no lost update, no gap
    assert(ST.currentVersion(root) == writers,
      s"want $writers consecutive versions, got ${ST.currentVersion(root)}")
    val got = ST.read(spark, root).orderBy("user_id").collect().map(_.getLong(0))
    assert(got.toSeq == (1L to writers.toLong), s"rows lost in the race: ${got.toSeq}")
    // every intermediate version stayed readable (time travel intact)
    assert((1 to writers).map(v => ST.readAt(spark, root, v).count()).toSeq ==
      (1 to writers).map(_.toLong))
  }

  test("maintenance and batch commits carry statsCol and streaming watermarks forward") {
    val root = freshRoot("graft_meta_carry")
    // v1: a day-clustered base with a statsCol AND another streaming
    // query's epoch watermark — the metadata a maintenance commit would
    // previously erase (silent pruning loss + broken replay detection)
    val entries = ST.writeDataFiles(eventSlice(200).repartition(2), root, "base")
      .map(ST.footerEntry(root, _, "ep_day"))
    ST.commitEntries(root, 0, entries, shardSize = 8,
      Map("statsCol" -> "ep_day", "epoch:qA" -> "7"))
    // OPTIMIZE: op tag replaced, watermark and statsCol survive
    ST.optimizeClustered(spark, root, "ep_day", targetFiles = 2)
    val afterOpt = ST.manifestMeta(root, ST.currentVersion(root))
    assert(afterOpt.get("epoch:qA").contains("7"), s"optimize dropped the watermark: $afterOpt")
    assert(afterOpt.get("statsCol").contains("ep_day"))
    // MERGE: same guarantee (delete one existing row, id from the table)
    val anyRow = ST.read(spark, root).select("event_id", "user_id", "event_type", "value", "ep_day")
      .limit(1).withColumn("op", lit("d"))
    ST.merge(spark, root, "ep_day", "event_id", anyRow)
    val afterMerge = ST.manifestMeta(root, ST.currentVersion(root))
    assert(afterMerge.get("epoch:qA").contains("7"), s"merge dropped the watermark: $afterMerge")
    assert(afterMerge.get("statsCol").contains("ep_day"))
    assert(afterMerge.contains("merge") && !afterMerge.contains("optimize"),
      "op tags must describe the latest commit only")
    // a foreachBatch append keeps both, and adds its own watermark
    assert(SS.appendBatch(root, eventSlice(5), batchId = 0L))
    val afterBatch = ST.manifestMeta(root, ST.currentVersion(root))
    assert(afterBatch.get("epoch:qA").contains("7") &&
      afterBatch.get("statsCol").contains("ep_day") &&
      afterBatch.get("last_batch").contains("0"), s"batch commit lost metadata: $afterBatch")
  }

  test("merge on a schema-evolved table keeps evolved-column values in the rewrite") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = freshRoot("graft_merge_evolved")
    // mixed widths under one manifest (x18's layout): narrow day-100
    // file, wide day-200 file with evolved column q
    val narrow = (1L to 10L).map(k => (k, 100L)).toDF("k", "day")
    val wide = (11L to 20L).map(k => (k, 200L, k * 0.5)).toDF("k", "day", "q")
    val rels = ST.writeDataFiles(narrow, root, "a") ++ ST.writeDataFiles(wide, root, "b")
    ST.commitEntries(root, 0, rels.map(ST.footerEntry(root, _, "day")), shardSize = 8,
      Map("statsCol" -> "day", "schema" -> "evolved:+q"))
    // a changeset spanning BOTH days pulls both widths into the merge's
    // rewrite set — the case where a single-footer read silently nulls
    // q for every surviving wide row
    val changes = Seq((5L, 100L, Option.empty[Double]), (15L, 200L, Option.empty[Double]))
      .toDF("k", "day", "q").withColumn("op", lit("d"))
    ST.merge(spark, root, "day", "k", changes)
    val after = ST.read(spark, root)
    assert(after.count() == 18)
    val qs = after.filter(col("k") >= 11L).select("k", "q").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    ((11L to 20L).toSet - 15L).foreach { k =>
      assert(qs(k).contains(k * 0.5), s"evolved value lost for k=$k: ${qs(k)}") }
    // narrow-side survivors still surface q as null
    assert(after.filter(col("k") <= 10L && col("q").isNotNull).count() == 0)
  }

  test("merge: a new-key-only changeset prunes to zero files and still appends") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = freshRoot("graft_merge_growth")
    val base = (1L to 10L).map(k => (k, 100L)).toDF("k", "day")
    val rels = ST.writeDataFiles(base, root, "base")
    ST.commitEntries(root, 0, rels.map(ST.footerEntry(root, _, "day")), shardSize = 8,
      Map("statsCol" -> "day"))
    // day 300 is outside every file's stats: affected = ∅ — the growth
    // batch every CDC stream eventually sends (this crashed with
    // UNABLE_TO_INFER_SCHEMA on the zero-path parquet read)
    val changes = Seq((21L, 300L)).toDF("k", "day").withColumn("op", lit("i"))
    ST.merge(spark, root, "day", "k", changes)
    val got = ST.read(spark, root).orderBy("k").collect().map(_.getLong(0))
    assert(got.toSeq == ((1L to 10L) :+ 21L), s"growth merge lost rows: ${got.toSeq}")
  }

  test("merge upsert into a narrow-files-only subset keeps the changeset's evolved values") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = freshRoot("graft_merge_evolved_upsert")
    val narrow = (1L to 10L).map(k => (k, 100L)).toDF("k", "day")
    val wide = (11L to 20L).map(k => (k, 200L, k * 0.5)).toDF("k", "day", "q")
    val rels = ST.writeDataFiles(narrow, root, "a") ++ ST.writeDataFiles(wide, root, "b")
    ST.commitEntries(root, 0, rels.map(ST.footerEntry(root, _, "day")), shardSize = 8,
      Map("statsCol" -> "day", "schema" -> "evolved:+q"))
    // bounds [100,100]: only the NARROW file is affected — the old
    // contract projected upserts to the subset's (k, day) and silently
    // dropped the caller's q
    val up = Seq((5L, 100L, 9.9)).toDF("k", "day", "q").withColumn("op", lit("u"))
    ST.merge(spark, root, "day", "k", up)
    val after = ST.read(spark, root)
    val q5 = after.filter(col("k") === 5L).select("q").head()
    assert(!q5.isNullAt(0) && q5.getDouble(0) == 9.9, s"upsert's evolved value lost: $q5")
    // wide-file rows untouched, other narrow rows still null-q
    assert(after.filter(col("k") === 15L).select("q").head().getDouble(0) == 7.5)
    assert(after.filter(col("k") === 6L).select("q").head().isNullAt(0))
    // an under-specified changeset (missing a column its files carry)
    // fails loudly instead of dropping the column from survivors
    val bad = Seq((15L, 200L)).toDF("k", "day").withColumn("op", lit("u"))
    val e = intercept[IllegalArgumentException] { ST.merge(spark, root, "day", "k", bad) }
    assert(e.getMessage.contains("union"), s"wrong error: ${e.getMessage}")
  }

  test("merge refuses a cluster column that contradicts the table's statsCol") {
    val root = freshRoot("graft_merge_statscol")
    val entries = ST.writeDataFiles(eventSlice(50), root, "base")
      .map(ST.footerEntry(root, _, "ep_day"))
    ST.commitEntries(root, 0, entries, shardSize = 8, Map("statsCol" -> "ep_day"))
    val change = eventSlice(1).withColumn("op", lit("d"))
    val e = intercept[IllegalArgumentException] {
      ST.merge(spark, root, "event_id", "event_id", change)
    }
    assert(e.getMessage.contains("statsCol"))
  }

  test("a dead committer's zero-byte version claim is reclaimed, not an infinite wedge") {
    val root = freshRoot("graft_stale_claim")
    assert(SS.appendBatch(root, eventSlice(10), batchId = 0L))
    // simulate a committer that died between its CAS createFile and the
    // content move: a permanent zero-byte claim on v2, aged past the
    // reclaim floor (a live committer fills its claim in milliseconds)
    val claim = Paths.get(root, "_manifests", "v00002.txt")
    Files.createFile(claim)
    Files.setLastModifiedTime(claim,
      FileTime.fromMillis(System.currentTimeMillis - 2 * ST.StaleClaimMinAgeMs))
    assert(ST.currentVersion(root) == 1, "zero-byte claim must not read as committed")
    assert(SS.appendBatch(root, eventSlice(5), batchId = 1L),
      "writer wedged on the dead claim")
    assert(ST.currentVersion(root) == 2 && Files.size(claim) > 0,
      "reclaimed slot not recommitted")
    assert(ST.read(spark, root).count() == 15)
  }

  test("pointer-anchored version resolution: lagging pointer probes forward, " +
      "vacuumed stale pointer falls back to the listing") {
    val root = freshRoot("graft_ptr_anchor")
    (0 to 3).foreach(b => assert(SS.appendBatch(root, eventSlice(5), batchId = b)))
    assert(ST.currentVersion(root) == 4)
    val latest = Paths.get(root, "_latest")
    // a crashed committer that never refreshed the pointer: resolution
    // must PROBE forward from the stale anchor, not trust it
    Files.write(latest, "1".getBytes)
    assert(ST.currentVersion(root) == 4,
      "probe must walk past a lagging pointer to the real head")
    // an in-flight zero-byte claim above the head stays invisible on the
    // probe path exactly as on the listing path
    val claim = Paths.get(root, "_manifests", "v00005.txt")
    Files.createFile(claim)
    assert(ST.currentVersion(root) == 4,
      "zero-byte claim must not read as committed on the probe path")
    Files.delete(claim)
    // a vacuum that outran the stale pointer: v1's manifest is gone, so
    // the anchor is dead — resolution must fall back to the full listing
    // and still find the head (this is the one case the pointer cannot
    // serve; committers re-point on their next commit)
    ST.vacuum(root, keepFrom = 3)
    assert(!Files.exists(Paths.get(root, "_manifests", "v00001.txt")))
    assert(new String(Files.readAllBytes(latest)).trim == "1",
      "fixture: pointer must still name the vacuumed version")
    assert(ST.currentVersion(root) == 4,
      "dead anchor must fall back to the listing, not lose the head")
    // the next commit heals the pointer
    assert(SS.appendBatch(root, eventSlice(5), batchId = 4L))
    assert(new String(Files.readAllBytes(latest)).trim == "5")
    assert(ST.currentVersion(root) == 5)
  }

  test("binary-searched timestamp resolution ≡ the linear reference on every boundary, " +
      "vacuumed prefix and pre-ICT manifests included") {
    val root = freshRoot("graft_ts_bsearch")
    (0 to 7).foreach(b => assert(SS.appendBatch(root, eventSlice(3), batchId = b)))
    val clocks = (1 to 8).map(v => v -> ST.commitTimeMillis(root, v)).toMap
    // the always-correct reference the optimized resolver must match
    def linearRef(ts: Long): Option[Int] = (1 to 8).reverseIterator
      .find(v => ST.commitTimeIfPresent(root, v).exists(_ <= ts))
    def probe(): Unit = {
      val pts = clocks.values.toSeq.flatMap(c => Seq(c - 1, c, c + 1)) ++
        Seq(0L, Long.MaxValue)
      pts.foreach { ts =>
        assert(ST.versionAtOrBefore(root, ts) == linearRef(ts),
          s"resolution diverged from the linear reference at ts=$ts")
      }
    }
    probe()
    assert(ST.versionAtOrBefore(root, clocks(8)).contains(8))
    assert(ST.versionAtOrBefore(root, clocks(1) - 1).isEmpty,
      "an instant before the first commit must not resolve")
    // a pre-ICT manifest mid-history (hand-stripped cts): the probe must
    // detect the void clock and fall back to the linear order, which now
    // reads that version's MTIME — pinned consistent with its neighbors
    val p5 = Paths.get(root, "_manifests", "v00005.txt")
    val noCts = new String(Files.readAllBytes(p5)).linesIterator
      .filterNot(_.startsWith("#cts\t")).mkString("\n")
    Files.write(p5, noCts.getBytes)
    Files.setLastModifiedTime(p5, FileTime.fromMillis(clocks(5)))
    probe()
    // vacuum drops the v1..v3 prefix: instants inside the reclaimed
    // window must refuse to resolve, later ones are untouched
    ST.vacuum(root, keepFrom = 4)
    assert(ST.versionAtOrBefore(root, clocks(3)).isEmpty,
      "a vacuumed-away window must not resolve")
    assert(ST.versionAtOrBefore(root, clocks(4)).contains(4))
    probe()
    // a mid-history version gated by an UNKNOWN reader feature: the
    // clock probe reads cts RAW (it compares clocks, never interprets
    // entries), so instants whose ANSWER is ungated keep resolving —
    // pre-r19 the newest-first scan never opened below-answer
    // manifests either. The gate still holds where data is read.
    val p6 = Paths.get(root, "_manifests", "v00006.txt")
    Files.write(p6, (new String(Files.readAllBytes(p6)) +
      "\n#readerFeatures\tv9-hyperindex").getBytes)
    assert(ST.versionAtOrBefore(root, clocks(7)).contains(7),
      "a gated version BELOW the answer must not refuse resolution")
    assert(ST.versionAtOrBefore(root, clocks(6)).contains(6),
      "resolution returns the gated version; its DATA read refuses")
    assert(intercept[Exception](ST.readAt(spark, root, 6).collect())
      .getMessage.contains("reader feature"),
      "the gate must still refuse the gated version's data read")
  }

  test("MIN/MAX of the stats column answer from the manifest in one zero-IO partition") {
    import spark.implicits._
    val root = freshRoot("graft_agg_push")
    def commit(base: Int, ks: Seq[Long], tag: String): Int = {
      val rels = ST.writeDataFiles(ks.map(k => (k, k * 1.0)).toDF("k", "v")
        .coalesce(1), root, tag).map(ST.footerEntry(root, _, "k"))
      val carried = if (base == 0) Map("statsCol" -> "k") else ST.carriedMeta(root, base)
      val prior = if (base == 0) Nil else ST.manifestEntries(root, base)
      ST.commitEntries(root, base, prior ++ rels, shardSize = 16, carried)
    }
    commit(0, 1L to 6L, "a"); commit(1, 7L to 106L, "b")
    def df = spark.read.format("graft-snapshot").load(root)
    def planOf(q: org.apache.spark.sql.DataFrame): String =
      q.queryExecution.executedPlan.toString
    val q1 = df.selectExpr("min(k)", "max(k)", "count(*)")
    assert(planOf(q1).contains("from manifest"),
      s"min/max/count must be manifest-answered:\n${planOf(q1)}")
    val r1 = q1.head()
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) == ((1L, 106L, 106L)))
    // a non-stats column disqualifies the fast path but stays correct
    val q2 = df.selectExpr("min(v)", "max(k)")
    assert(!planOf(q2).contains("from manifest"),
      "a non-stats column must fall back to the ordinary scan")
    val r2 = q2.head()
    assert(r2.getDouble(0) == 1.0 && r2.getLong(1) == 106L)
    // time travel answers from the PINNED version's manifest
    val dfv1 = spark.read.format("graft-snapshot").option("version", "1").load(root)
    val q3 = dfv1.selectExpr("min(k)", "max(k)", "count(*)")
    assert(planOf(q3).contains("from manifest"))
    val r3 = q3.head()
    assert((r3.getLong(0), r3.getLong(1), r3.getLong(2)) == ((1L, 6L, 6L)))
    // deletion vectors disqualify: the DV'd row may hold the extremum —
    // the ordinary scan answers, and correctly excludes it
    ST.enableDeletionVectors(root)
    ST.delete(spark, root, "k = 106") // 1% of the big file: stays merge-on-read
    assert(ST.dvState(root, ST.currentVersion(root)).nonEmpty, "fixture: want a DV delete")
    val q4 = df.selectExpr("min(k)", "max(k)", "count(*)")
    assert(!planOf(q4).contains("from manifest"),
      "deletion vectors must disqualify the manifest answer")
    val r4 = q4.head()
    assert((r4.getLong(0), r4.getLong(1), r4.getLong(2)) == ((1L, 105L, 105L)))
  }

  test("r20: MIN/MAX of ANY harvested integral column answers from the manifest") {
    import spark.implicits._
    val root = freshRoot("graft_agg_push_any")
    def commit(base: Int, rows: Seq[(Long, Long)], tag: String,
        stripExtras: Boolean = false): Int = {
      val rels = ST.writeDataFiles(rows.toDF("k", "m").coalesce(1), root, tag)
      val es = rels.map(ST.footerEntry(root, _, "k"))
        .map(e => if (stripExtras) e.copy(extra = Nil) else e)
      val carried = if (base == 0) Map("statsCol" -> "k") else ST.carriedMeta(root, base)
      val prior = if (base == 0) Nil else ST.manifestEntries(root, base)
      ST.commitEntries(root, base, prior ++ es, shardSize = 16, carried)
    }
    commit(0, (1L to 6L).map(k => (k, k * 10)), "a")
    commit(1, (7L to 20L).map(k => (k, k * 10)), "b")
    def df = spark.read.format("graft-snapshot").load(root)
    def planOf(q: org.apache.spark.sql.DataFrame): String =
      q.queryExecution.executedPlan.toString
    // the SECONDARY column m rides the general harvest: min/max answer
    // from the manifest beside the primary's — zero data IO
    val q1 = df.selectExpr("min(m)", "max(m)", "max(k)", "count(*)")
    assert(planOf(q1).contains("from manifest"),
      s"secondary-column min/max must be manifest-answered:\n${planOf(q1)}")
    val r1 = q1.head()
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2), r1.getLong(3)) ==
      ((10L, 200L, 20L, 20L)))
    // one entry WITHOUT the harvested extra (a pre-r20 manifest line)
    // disqualifies m — the sentinel is indistinguishable from a real
    // extremum — while k (primary stats) keeps the fast path
    commit(2, Seq((21L, 210L)), "legacy", stripExtras = true)
    val q2 = df.selectExpr("min(m)", "max(m)")
    assert(!planOf(q2).contains("from manifest"),
      "a stat-less entry must disqualify the secondary column")
    assert(q2.head().getLong(1) == 210L)
    val q3 = df.selectExpr("min(k)", "max(k)")
    assert(planOf(q3).contains("from manifest"),
      "the primary column must keep the fast path")
    assert(q3.head().getLong(1) == 21L)
  }

  test("discard skips empty-task markers instead of deleting into the table root") {
    val root = freshRoot("graft_discard_empty")
    val keep = Paths.get(root, "keep.parquet")
    val gone = Paths.get(root, "gone.parquet")
    Files.write(keep, Array[Byte](1))
    Files.write(gone, Array[Byte](1))
    // rel == "" is the zero-row task marker; Paths.get(root, "") IS the
    // root — before the fix this threw DirectoryNotEmptyException and
    // crashed the replay-no-op/abort path of any batch with an empty
    // partition
    graft.sources.SnapshotCommit.discard(root, Array(
      graft.sources.SnapshotFileCommit(""),
      graft.sources.SnapshotFileCommit("gone.parquet")))
    assert(Files.exists(Paths.get(root)) && Files.exists(keep), "discard touched the root")
    assert(!Files.exists(gone), "staged file not discarded")
  }

  test("merge: a changeset WIDER than an unevolved table sets the schema marker") {
    import spark.implicits._
    // two uniform narrow files on disjoint day ranges, NO evolution
    // marker — the unmarked mixed-width layout a widening merge used to
    // leave behind made later reads sample one footer and silently drop
    // the new column (ADVICE r10)
    val root = freshRoot("graft_merge_widening")
    val f1 = (1L to 10L).map(k => (k, 100L)).toDF("k", "day")
    val f2 = (11L to 20L).map(k => (k, 200L)).toDF("k", "day")
    val rels = ST.writeDataFiles(f1, root, "a") ++ ST.writeDataFiles(f2, root, "b")
    ST.commitEntries(root, 0, rels.map(ST.footerEntry(root, _, "day")), shardSize = 8,
      Map("statsCol" -> "day"))
    val up = Seq((5L, 100L, 9.9)).toDF("k", "day", "q").withColumn("op", lit("u"))
    val v = ST.merge(spark, root, "day", "k", up)
    val meta = ST.manifestMeta(root, v)
    assert(meta.get("schema").exists(_.contains("q")),
      s"widening merge must set the evolution marker: $meta")
    // the union is CAPTURED in the commit (schema-in-the-log): later
    // scans plan with an explicit schema, zero footer reads
    val captured = org.apache.spark.sql.types.DataType.fromJson(meta("schemaJson"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(captured.fieldNames.toSeq == Seq("k", "day", "q"),
      s"captured union drifted: ${captured.fieldNames.toSeq}")
    assert(captured.fields.forall(_.nullable), "captured union must be all-nullable")
    val after = ST.read(spark, root)
    assert(after.columns.toSeq == Seq("k", "day", "q"), "widened column lost on readback")
    assert(after.filter(col("k") === 5L).select("q").head().getDouble(0) == 9.9)
    assert(after.filter(col("k") === 15L).select("q").head().isNullAt(0))
    assert(after.count() == 20)

    // a SECOND widening on the now-evolved table must REFRESH the
    // capture — a stale schemaJson would make explicit reads silently
    // drop the newest column (the bug class, one level up)
    val up2 = Seq((6L, 100L, 1.1, "x")).toDF("k", "day", "q", "r")
      .withColumn("op", lit("u"))
    val v2w = ST.merge(spark, root, "day", "k", up2)
    val captured2 = org.apache.spark.sql.types.DataType.fromJson(
      ST.manifestMeta(root, v2w)("schemaJson"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(captured2.fieldNames.toSeq == Seq("k", "day", "q", "r"),
      s"second widening did not refresh the capture: ${captured2.fieldNames.toSeq}")
    val after2 = ST.read(spark, root)
    assert(after2.filter(col("k") === 6L).select("r").head().getString(0) == "x")
    assert(after2.filter(col("k") === 15L).select("r").head().isNullAt(0))
    assert(after2.count() == 20)

    // the DSv2 connector plans the same widened union from the capture
    // (zero footer reads) and null-fills evolution gaps per file
    val viaDsv2 = spark.read.format("graft-snapshot").load(root)
    assert(viaDsv2.columns.toSeq == Seq("k", "day", "q", "r"),
      s"connector union drifted: ${viaDsv2.columns.toSeq}")
    assert(viaDsv2.filter(col("k") === 6L).select("r").head().getString(0) == "x")
    assert(viaDsv2.filter(col("k") === 15L).select("q").head().isNullAt(0))
    assert(viaDsv2.count() == 20)

    // a changeset that widens AND drops existing columns is refused —
    // committing it would strand either the capture or the column (for
    // pruned-to-zero insert batches this is the only guard)
    val sneaky = Seq((30L, 999L, true)).toDF("k", "day", "flag")
      .withColumn("op", lit("i"))
    val err = intercept[IllegalArgumentException] {
      ST.merge(spark, root, "day", "k", sneaky)
    }
    assert(err.getMessage.contains("full union"), s"wrong error: ${err.getMessage}")

    // a widening growth batch (affected = ∅) must set it too — there
    // the table schema comes from one untouched footer, not the read
    val root2 = freshRoot("graft_merge_widening_growth")
    val rels2 = ST.writeDataFiles(f1, root2, "base")
    ST.commitEntries(root2, 0, rels2.map(ST.footerEntry(root2, _, "day")), shardSize = 8,
      Map("statsCol" -> "day"))
    val ins = Seq((21L, 300L, 1.5)).toDF("k", "day", "q").withColumn("op", lit("i"))
    val v2 = ST.merge(spark, root2, "day", "k", ins)
    assert(ST.manifestMeta(root2, v2).get("schema").exists(_.contains("q")),
      "widening growth batch must set the evolution marker")
    val g = ST.read(spark, root2)
    assert(g.count() == 11)
    assert(g.filter(col("k") === 21L).select("q").head().getDouble(0) == 1.5)
    assert(g.filter(col("k") === 1L).select("q").head().isNullAt(0))

    // when the merge rewrites EVERY file the output is uniform-width:
    // no marker, the single-footer planning fast path stays correct
    val root3 = freshRoot("graft_merge_widening_all")
    val rels3 = ST.writeDataFiles(f1, root3, "base")
    ST.commitEntries(root3, 0, rels3.map(ST.footerEntry(root3, _, "day")), shardSize = 8,
      Map("statsCol" -> "day"))
    val up3 = Seq((5L, 100L, 2.2)).toDF("k", "day", "q").withColumn("op", lit("u"))
    val v3 = ST.merge(spark, root3, "day", "k", up3)
    assert(!ST.manifestMeta(root3, v3).contains("schema"),
      "uniform-width full rewrite must not carry an evolution marker")
    assert(ST.read(spark, root3).filter(col("k") === 5L)
      .select("q").head().getDouble(0) == 2.2)
  }

  test("evolved union schema: repetition weakens to OPTIONAL, annotation conflicts refuse") {
    import spark.implicits._
    // c is REQUIRED (non-nullable) in file a, OPTIONAL with a real null
    // in file b: the union must take the WEAKEST repetition, not file
    // a's REQUIRED — a REQUIRED request schema over file b's null rows
    // is undefined behavior in the reader (ADVICE r10)
    val root = freshRoot("graft_union_repetition")
    val a = (1L to 5L).map(k => (k, k * 10L)).toDF("k", "c")
    val b = Seq((6L, Some(60L)), (7L, None)).toDF("k", "c")
    val rels = ST.writeDataFiles(a, root, "a") ++ ST.writeDataFiles(b, root, "b")
    ST.commitEntries(root, 0, rels.map(ST.footerEntry(root, _, "k")), shardSize = 8,
      Map("statsCol" -> "k", "schema" -> "evolved:mixed-nullability"))
    val table = spark.read.format("graft-snapshot").load(root)
    assert(table.schema("c").nullable,
      "union schema must weaken c to nullable when ANY carrier file is OPTIONAL")
    assert(table.filter(col("c").isNull).select("k").collect().map(_.getLong(0)).toSeq
      == Seq(7L), "file b's null row lost under the union schema")
    assert(table.count() == 7)

    // same primitive (INT32) but conflicting logical annotations (plain
    // int vs DATE) must refuse, not decode one file under the other's
    // annotation
    val root2 = freshRoot("graft_union_annotation")
    val p = Seq((1L, 7)).toDF("k", "c")
    val q = Seq((2L, java.sql.Date.valueOf("2026-01-01"))).toDF("k", "c")
    val rels2 = ST.writeDataFiles(p, root2, "a") ++ ST.writeDataFiles(q, root2, "b")
    ST.commitEntries(root2, 0, rels2.map(ST.footerEntry(root2, _, "k")), shardSize = 8,
      Map("statsCol" -> "k", "schema" -> "evolved:conflict"))
    val e = intercept[Exception] {
      spark.read.format("graft-snapshot").load(root2).collect()
    }
    assert(e.getMessage.contains("conflicting types"),
      s"annotation conflict must refuse loudly: ${e.getMessage}")
  }

  test("STREAMING over nested-typed tables (r19): per-commit batches, table-to-table pipe, CDF decode") {
    import spark.implicits._
    val src = freshRoot("graft_stream_nested_src")
    def frame(lo: Long, hi: Long) =
      (lo to hi).map(k => (k, k * 10L, s"t$k", Seq(k * 1.0, k * 2.0)))
        .toDF("k", "b", "c", "vals")
        .select(col("k"), struct(col("b"), col("c")).as("a"), col("vals"))
    val r1 = ST.writeDataFiles(frame(1, 3), src, "a")
    ST.commitEntries(src, 0, r1.map(ST.footerEntry(src, _, "k")), 8,
      Map("statsCol" -> "k"))
    val r2 = ST.writeDataFiles(frame(4, 6), src, "b")
    ST.commitEntries(src, 1,
      ST.manifestEntries(src, 1) ++ r2.map(ST.footerEntry(src, _, "k")), 8,
      ST.carriedMeta(src, 1))
    // table-to-table streaming pipe: the DSv2 streaming source decodes
    // the nested columns per micro-batch and the streaming SINK lands
    // them — one dst version per src commit, values intact through the
    // struct AND the list
    val dst = freshRoot("graft_stream_nested_dst")
    val cp = Engine.tmpDir("graft_stream_nested_cp")
    Engine.listDir(Paths.get(cp)).foreach(Engine.deleteRecursively)
    val q = spark.readStream.format("graft-snapshot").load(src)
      .writeStream.format("graft-snapshot")
      .option("path", dst).option("checkpointLocation", cp).start()
    q.processAllAvailable(); q.stop()
    assert(ST.currentVersion(dst) == 2,
      s"expected one dst commit per src commit, got v${ST.currentVersion(dst)}")
    val got = spark.read.format("graft-snapshot").load(dst)
      .select(col("k"), col("a.b"), expr("size(vals)").as("n"),
        expr("vals[1]").as("v1"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSet
    assert(got == (1L to 6L).map(k => (k, k * 10L, 2, k * 2.0)).toSet, got.toString)
    // the change feed decodes nested columns too: a CoW DELETE's change
    // rows carry the struct field and the list through the CDF route
    ST.delete(spark, src, "k = 2")
    val feed = spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true").option("afterVersion", "2").load(src)
    val del = feed.filter(col("_change_type") === "delete")
      .select(col("k"), col("a.b"), expr("vals[0]").as("v0")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(del.exists(_ == ((2L, 20L, 2.0))), del.mkString(","))
  }

  test("captured-table reads refuse a DIVERGENT nested file at reader build, named (r19)") {
    import spark.implicits._
    // a CAPTURED (schemaJson) version plans zero-footer, so the footer
    // union's nested-conflict check never runs — a hand-registered file
    // whose nested shape diverges used to surface as an opaque
    // positional mis-decode mid-task (r17's capture-bypass note). The
    // per-file reader has the footer in hand anyway: it must refuse AT
    // READER BUILD naming the file and column — while a merely
    // REORDERED inner layout (legit after CoW rewrites) keeps reading.
    val root = freshRoot("graft_capture_diverge")
    val base = Seq((1L, 10L, "x"), (2L, 20L, "y")).toDF("k", "b", "c")
      .select(col("k"), struct(col("b"), col("c")).as("a"))
    val rels = ST.writeDataFiles(base, root, "a")
    ST.commitEntries(root, 0, rels.map(ST.footerEntry(root, _, "k")), 8,
      Map("statsCol" -> "k", "schema" -> "evolved:test",
        "schemaJson" -> base.schema.json))
    // inner-field ORDER divergence alone must NOT refuse
    val reordered = Seq((3L, "z", 30L)).toDF("k", "c", "b")
      .select(col("k"), struct(col("c"), col("b")).as("a"))
    val r2 = ST.writeDataFiles(reordered, root, "b")
    ST.commitEntries(root, 1,
      ST.manifestEntries(root, 1) ++ r2.map(ST.footerEntry(root, _, "k")), 8,
      ST.carriedMeta(root, 1))
    val got = spark.read.format("graft-snapshot").load(root)
      .select(col("k"), col("a.b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 10L, 2L -> 20L, 3L -> 30L), got.toString)
    // a RETYPED inner field (long → string) refuses with the file named
    val divergent = Seq((4L, "not-a-long", "w")).toDF("k", "b", "c")
      .select(col("k"), struct(col("b"), col("c")).as("a"))
    val r3 = ST.writeDataFiles(divergent, root, "c")
    ST.commitEntries(root, 2,
      ST.manifestEntries(root, 2) ++ r3.map(ST.footerEntry(root, _, "k")), 8,
      ST.carriedMeta(root, 2))
    val e = intercept[Exception](
      spark.read.format("graft-snapshot").load(root).collect())
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(m =>
        m.contains("diverges") && m.contains("column a"))), e.getMessage)
  }

  test("stats-prune bounds saturate at the Long domain edges instead of wrapping") {
    import org.apache.spark.sql.sources.{GreaterThan, LessThan}
    val B = graft.sources.SnapshotScanBuilder
    assert(B.bound(GreaterThan("k", Long.MaxValue), "k").contains((Long.MaxValue, Long.MaxValue)))
    assert(B.bound(LessThan("k", Long.MinValue), "k").contains((Long.MinValue, Long.MinValue)))
    assert(B.bound(GreaterThan("k", 5L), "k").contains((6L, Long.MaxValue)))
    assert(B.bound(LessThan("k", 5L), "k").contains((Long.MinValue, 4L)))
  }

  test("commitRewrite re-bases over a concurrent append instead of aborting") {
    import spark.implicits._
    val root = freshRoot("graft_rewrite_rebase")
    val d1 = (1L to 10L).map(k => (k, 100L)).toDF("k", "day")
    val d2 = (11L to 20L).map(k => (k, 200L)).toDF("k", "day")
    val rels = ST.writeDataFiles(d1, root, "a") ++ ST.writeDataFiles(d2, root, "b")
    ST.commitEntries(root, 0, rels.map(ST.footerEntry(root, _, "day")),
      shardSize = 8, Map("statsCol" -> "day")) // v1
    // the rewrite is computed against v1: replace the day-100 file
    val touched = ST.manifestEntries(root, 1).filter(_.rel.contains("data_a_"))
    val replacement = ST.writeDataFiles(
      (2L to 10L).map(k => (k, 100L)).toDF("k", "day"), root, "rw")
      .map(ST.footerEntry(root, _, "day"))
    // a racing ingest lands v2 BEFORE the rewrite commits (stale base)
    val appended = ST.writeDataFiles(
      (21L to 25L).map(k => (k, 300L)).toDF("k", "day"), root, "c")
      .map(ST.footerEntry(root, _, "day"))
    ST.commitEntries(root, 1, ST.manifestEntries(root, 1) ++ appended,
      shardSize = 8, Map("statsCol" -> "day")) // v2
    val v = ST.commitRewrite(root, 1, touched.map(_.rel).toSet, replacement,
      shardSize = 8, "delete")
    assert(v == 3, s"rebase must land on the NEXT version after the racer, got $v")
    val ks = ST.read(spark, root).select("k").collect().map(_.getLong(0)).toSet
    // the racer's appended rows AND the rewrite both survive; only the
    // rewritten-away row (k=1) is gone
    assert(ks == ((2L to 25L).toSet), s"rebase lost rows: missing ${(2L to 25L).toSet -- ks}")
    assert(ST.manifestMeta(root, 3)("delete").startsWith("cow:"))
  }

  test("commitRewrite aborts loudly when a concurrent committer rewrote the same files") {
    import spark.implicits._
    val root = freshRoot("graft_rewrite_conflict")
    val d1 = (1L to 10L).map(k => (k, 100L)).toDF("k", "day")
    ST.commitEntries(root, 0,
      ST.writeDataFiles(d1, root, "a").map(ST.footerEntry(root, _, "day")),
      shardSize = 8, Map("statsCol" -> "day")) // v1
    val touched = ST.manifestEntries(root, 1).map(_.rel).toSet
    val replacement = ST.writeDataFiles(
      (2L to 10L).map(k => (k, 100L)).toDF("k", "day"), root, "rw")
      .map(ST.footerEntry(root, _, "day"))
    // a concurrent OPTIMIZE rewrites the SAME files first
    ST.optimizeClustered(spark, root, "day", targetFiles = 1) // v2
    val e = intercept[IllegalStateException] {
      ST.commitRewrite(root, 1, touched, replacement, shardSize = 8, "delete")
    }
    assert(e.getMessage.contains("concurrent rewrite conflict"), e.getMessage)
    // the table is untouched by the aborted rewrite: v2 is still current
    assert(ST.currentVersion(root) == 2)
    assert(ST.read(spark, root).count() == 10)
  }

  test("a DELETE races concurrent appends: all appended rows land, doomed rows die") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val root = freshRoot("graft_delete_race")
    val d1 = (1L to 50L).map(k => (k, 100L)).toDF("k", "day")
    ST.commitEntries(root, 0,
      ST.writeDataFiles(d1.repartition(3), root, "a").map(ST.footerEntry(root, _, "day")),
      shardSize = 8, Map("statsCol" -> "day"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      // appended rows deliberately DON'T match the delete predicate, so
      // every interleaving (append before or after the delete's
      // snapshot pin) must converge to the same final state
      def rawAppend(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
        val entries = ST.writeDataFiles(df, root, tag).map(ST.footerEntry(root, _, "day"))
        var done = false
        while (!done) {
          val v = ST.currentVersion(root)
          try {
            ST.commitEntries(root, v, ST.manifestEntries(root, v) ++ entries,
              shardSize = 8, ST.carriedMeta(root, v))
            done = true
          } catch { case _: java.nio.file.FileAlreadyExistsException => }
        }
      }
      val appends = (1 to 3).map { i => Future {
        rawAppend(((100L * i) to (100L * i + 9L)).map(k => (k, 500L)).toDF("k", "day"), s"c$i")
      }}
      val del = Future { ST.delete(spark, root, "day = 100 AND k % 2 = 0") }
      Await.result(Future.sequence(appends :+ del.map(_ => 0L)), 120.seconds)
    } finally pool.shutdown()
    val ks = ST.read(spark, root).select("k").collect().map(_.getLong(0)).toSet
    val want = (1L to 50L).filter(_ % 2 == 1).toSet ++
      (1 to 3).flatMap(i => (100L * i) to (100L * i + 9L))
    assert(ks == want, s"race lost rows: missing=${want -- ks} extra=${ks -- want}")
  }

  test("appends, an UPDATE-only MERGE and a CoW DELETE race on disjoint day windows: every commit lands") {
    import spark.implicits._
    val root = freshRoot("graft_dml_race")
    val sf01 = Paths.get(sf).resolveSibling("sf0.01").toString
    ST.commitEntries(root, 0, ST.stageDayClustered(spark, sf01, root),
      shardSize = 3, Map("statsCol" -> "ep_day"))
    val n0 = ST.read(spark, root).count()
    val delPred = "ep_day <= 19730 AND event_type = 'view'"
    val deleted = ST.read(spark, root).filter(expr(delPred)).count()
    // the merge revalues a sample of a later window: UPDATE only, so the
    // row count is kept, and its files are disjoint from the delete's
    val revalued = ST.read(spark, root)
      .filter(col("ep_day").between(19745L, 19747L) && col("event_id") % 50 === 0)
      .withColumn("value", col("value") + 1.0)
      .localCheckpoint(true)
    revalued.createOrReplaceTempView("dml_race_src")
    val appendN = 1000
    Branches.run(spark) { b =>
      b.fork("appends") {
        (1 to 3).foreach { i =>
          val rows = (1 to appendN).map(j =>
            (-(i * 100000L + j), 1L, "race_append", 1.0, 99990L + i))
            .toDF("event_id", "user_id", "event_type", "value", "ep_day")
          assert(SS.appendBatch(root, rows, batchId = i.toLong), s"append $i did not commit")
        }
      }
      b.fork("merge") {
        ST.ansiMerge(spark, root, "t", "dml_race_src", "s", "event_id", "event_id",
          Seq(ST.WhenMatchedUpdate(None, Seq("value" -> "s.value"))))
      }
      b.fork("delete") { ST.delete(spark, root, delPred) }
    }
    // appends rebase under either rewrite, each rewrite re-bases over
    // the appends, and the merge re-discovers on a lost CAS: the final
    // count is exact arithmetic, so any lost row or commit breaks it
    val fin = ST.read(spark, root)
    assert(fin.count() == n0 + 3L * appendN - deleted,
      s"concurrent DML lost rows (n0=$n0 deleted=$deleted)")
    assert(fin.filter(expr(delPred)).isEmpty, "the delete's rows survived")
    val stale = fin.as("t").join(revalued.as("s"), "event_id")
      .filter(col("t.value") =!= col("s.value")).count()
    assert(stale == 0, s"$stale merged updates were lost")
  }

  test("ADD CONSTRAINT races streaming appends: no violating row ever lands (r14)") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val root = freshRoot("graft_chk_race_rt")
    def batch(i: Int, v: Double) =
      ((10L * i) to (10L * i + 4L)).map(k => (k, v)).toDF("k", "v")
    assert(SS.appendBatch(root, batch(0, 1.0), batchId = 0L, keyCol = "k"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      // writer thread: VALID batches, retrying the sink's loud
      // constraint-change abort exactly as a restarted stream would
      // (the replayed batch re-validates against the new set)
      val writer = Future {
        (1 to 6).foreach { i =>
          var done = false
          while (!done) {
            try { SS.appendBatch(root, batch(i, i * 1.0), batchId = i.toLong,
              keyCol = "k"); done = true }
            catch { case e: IllegalStateException
                if e.getMessage.contains("CHECK constraints") => () }
          }
        }
      }
      // constraint thread lands mid-stream (CAS-retried internally)
      val adder = Future {
        Thread.sleep(50)
        graft.operators.SnapshotTable.addCheckConstraint(spark, root, "v_pos", "v > 0")
      }
      Await.result(Future.sequence(Seq(writer, adder.map(_ => ()))), 120.seconds)
    } finally pool.shutdown()
    // convergence: all 7 batches present exactly once, constraint
    // active, zero violating rows (they were all valid — the race can
    // only abort-and-retry, never bypass)
    val got = ST.read(spark, root)
    assert(got.count() == 35, s"lost/duplicated batches: ${got.count()}")
    assert(ST.checkConstraints(root, ST.currentVersion(root)).contains("v_pos"))
    assert(got.filter(col("v") <= 0).count() == 0)
    // ...and a violating batch now refuses through the live constraint
    val e = intercept[Exception](
      SS.appendBatch(root, Seq((999L, -1.0)).toDF("k", "v"), batchId = 99L,
        keyCol = "k"))
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("v_pos"))), e.getMessage)
  }

  test("DSv2 STRUCT reads (r16): every read route, pruning, DV, rename; writes/nested refuse cleanly") {
    import spark.implicits._
    val root = freshRoot("graft_dsv2_struct")
    val df = (1L to 20L).map(k => (k, s"t${k % 3}", k * 1.0, k * 10.0))
      .toDF("k", "tag", "v", "flag")
      // k=20 carries a NULL struct (and k%5==0 a null field inside):
      // the decoder must serve null, not a fabricated Row
      .select(col("k"),
        when(col("k") < 20, struct(
          when(col("k") % 5 =!= 0, col("tag")).as("tag"), col("v"))).as("props"),
        col("flag"))
    ST.commitEntries(root, 0,
      ST.writeDataFiles(df.repartitionByRange(2, col("k")), root, "a")
        .map(ST.footerEntry(root, _, "k")),
      16, Map("statsCol" -> "k"))
    // path-route DSv2 read: schema, field access, agg ≡ the Scala route
    val dsv2 = spark.read.format("graft-snapshot").load(root)
    assert(dsv2.schema("props").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("tag", "v"))
    val sumV = dsv2.agg(sum(col("props.v"))).head().getDouble(0)
    assert(sumV == ST.read(spark, root).agg(sum(col("props.v"))).head().getDouble(0))
    assert(dsv2.filter(col("props.tag") === "t1").count() ==
      (1L to 19L).count(k => k % 3 == 1 && k % 5 != 0))
    // NULL semantics hold through the decode: one whole-null struct
    // (k=20) and three null fields inside otherwise-present structs
    assert(dsv2.filter(col("props").isNull).count() == 1)
    assert(dsv2.filter(col("props").isNotNull && col("props.tag").isNull)
      .count() == 3)
    // projection pruning: a non-struct projection plans without the group
    assert(dsv2.select("k").collect().map(_.getLong(0)).toSet == (1L to 20L).toSet)
    // stats pruning still fires on the primitive cluster column
    val prScan = dsv2.filter(col("k") <= 5)
    assert(prScan.rdd.getNumPartitions == 1, s"${prScan.rdd.getNumPartitions}")
    // catalog route: SELECT with nested field access
    val w = Files.createTempDirectory("graft_struct_cat").toString
    spark.conf.set("spark.sql.catalog.gst", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gst.root", w)
    Files.createSymbolicLink(Paths.get(w, "t"), Paths.get(root))
    assert(spark.sql("SELECT SUM(props.v) FROM gst.t").head().getDouble(0) == sumV)
    // DV interplay: a MoR delete's ordinals skip on the struct read too
    ST.enableDeletionVectors(root)
    spark.sql(s"DELETE FROM '$root' WHERE k = 7").collect()
    assert(ST.dvState(root, ST.currentVersion(root)).nonEmpty, "expected a MoR delete")
    assert(spark.read.format("graft-snapshot").load(root).count() == 19)
    // a TOP-LEVEL rename of the struct column resolves (colmap, no files move)
    ST.renameColumn(spark, root, "props", "attrs")
    val renamed = spark.read.format("graft-snapshot").load(root)
    assert(renamed.columns.contains("attrs") && !renamed.columns.contains("props"))
    assert(renamed.filter(col("k") === 2).select(col("attrs.v")).head().getDouble(0) == 2.0)
    // time travel reads the OLD name
    assert(spark.read.format("graft-snapshot").option("version", "1").load(root)
      .columns.contains("props"))
    // a NESTED rename resolves on the DSv2 READ routes since r17 —
    // logical field names surface, values decode through the
    // positional translation, both path and catalog spellings
    ST.renameColumn(spark, root, "attrs.v", "amount")
    def chain(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    val nestedRead = spark.read.format("graft-snapshot").load(root)
    assert(nestedRead.schema("attrs").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("tag", "amount"))
    assert(nestedRead.agg(sum(col("attrs.amount"))).head().getDouble(0) ==
      ST.read(spark, root).agg(sum(col("attrs.amount"))).head().getDouble(0))
    assert(spark.sql("SELECT SUM(attrs.amount) FROM gst.t").head().getDouble(0) ==
      ST.read(spark, root).agg(sum(col("attrs.amount"))).head().getDouble(0))
    // ...and a DSv2 WRITE to the nested-mapped table translates the
    // logical field names to physical (r17) — the appended copy reads
    // back identically on both routes
    val preSum = ST.read(spark, root).agg(sum(col("attrs.amount"))).head().getDouble(0)
    ST.read(spark, root).write.format("graft-snapshot").mode("append").save(root)
    assert(spark.read.format("graft-snapshot").load(root)
      .agg(sum(col("attrs.amount"))).head().getDouble(0) == preSum * 2)
    assert(ST.read(spark, root).count() == 38)
    // DSv2 STRUCT writes (r16): path-route round trip, catalog CTAS +
    // INSERT INTO, repetition conformance across both, and the
    // struct-field-evolution refusal
    val plain = freshRoot("graft_dsv2_struct_w")
    df.write.format("graft-snapshot").mode("append").save(plain)
    assert(spark.read.format("graft-snapshot").load(plain)
      .agg(sum(col("props.v"))).head().getDouble(0) == sumV)
    df.createOrReplaceTempView("struct_src")
    spark.sql("DROP TABLE IF EXISTS gst.ctas")
    spark.sql("CREATE TABLE gst.ctas AS SELECT * FROM struct_src")
    spark.sql("INSERT INTO gst.ctas SELECT k + 100, props, flag FROM struct_src WHERE k = 2")
    assert(spark.sql("SELECT props.v FROM gst.ctas WHERE k = 102")
      .head().getDouble(0) == 2.0)
    assert(spark.sql("SELECT COUNT(*) FROM gst.ctas").head().getLong(0) == 21)
    // the Scala route reads the DSv2-written files identically
    val ctasRoot = Paths.get(spark.conf.get("spark.sql.catalog.gst.root"), "ctas").toString
    assert(ST.read(spark, ctasRoot).count() == 21)
    // an incoming struct carrying a field the residents lack refuses
    // at PLAN time (struct-field evolution needs a rewrite)
    val wider = df.select(col("k"),
      struct(col("props.tag").as("tag"), col("props.v").as("v"),
        lit(1L).as("extra")).as("props"), col("flag"))
    val eEvo = intercept[Exception](wider.write.format("graft-snapshot")
      .mode("append").save(plain))
    assert(chain(eEvo).contains("struct-field evolution"), chain(eEvo))
    // a TYPE change inside the struct refuses at planning with the
    // field's path, never a per-row parquet error mid-task
    val retyped = df.select(col("k"),
      struct(col("props.tag").as("tag"),
        col("props.v").cast("long").as("v")).as("props"), col("flag"))
    val eTy = intercept[Exception](retyped.write.format("graft-snapshot")
      .mode("append").save(plain))
    assert(chain(eTy).contains("need a rewrite") &&
      chain(eTy).contains("props.v"), chain(eTy))
    // the CHANGE FEED decodes struct tables since r17 (the per-file
    // machinery's nested plans): the whole-history batch feed serves
    // every row as an insert with the struct intact
    val cdfRows = spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true").option("afterVersion", "0")
      .load(plain)
    assert(cdfRows.filter(col("_change_type") === "insert").count() == 20)
    assert(cdfRows.agg(sum(col("props.v"))).head().getDouble(0) == sumV)
    // ADD COLUMN over a struct table works since r17 (the per-file
    // request machinery decodes each file under its own declarations):
    // existing rows null-fill, the struct keeps decoding, and a
    // post-widening INSERT carries the new column
    spark.sql("ALTER TABLE gst.ctas ADD COLUMN note STRING").collect()
    assert(spark.sql("SELECT COUNT(*) FROM gst.ctas WHERE note IS NULL")
      .head().getLong(0) == 21, "existing rows must null-fill the added column")
    assert(spark.sql("SELECT SUM(props.v) FROM gst.ctas").head() != null,
      "the struct must keep decoding on the evolved table")
    spark.sql("INSERT INTO gst.ctas SELECT k + 200, props, flag, 'late' " +
      "FROM struct_src WHERE k = 3")
    assert(spark.sql("SELECT props.v, note FROM gst.ctas WHERE k = 203")
      .collect().map(r => (r.getDouble(0), r.getString(1))).toSeq ==
      Seq((3.0, "late")))
    // rowIds on a struct table serves through the connector since r17
    // — ids AND struct values byte-identical to the Scala route
    val rt = freshRoot("graft_dsv2_struct_rt")
    ST.commitEntries(rt, 0,
      ST.writeDataFiles(df.coalesce(1), rt, "a").map(ST.footerEntry(rt, _, "k")),
      16, Map("statsCol" -> "k"))
    ST.enableRowTracking(spark, rt)
    val viaDsv2 = spark.read.format("graft-snapshot")
      .option("rowIds", "true").load(rt)
      .select(col("_row_id"), col("k"), col("props.v").as("pv"))
    val viaScala = ST.readWithRowIds(spark, rt)
      .select(col("_row_id"), col("k"), col("props.v").as("pv"))
    assert(viaDsv2.count() == 20)
    assert(viaDsv2.exceptAll(viaScala).isEmpty && viaScala.exceptAll(viaDsv2).isEmpty,
      "DSv2 rowIds read of a struct table must match the Scala route")
  }

  test("DSv2 LIST/MAP columns (r17): write+read round trip, null/empty semantics, DML, rowIds, CDF") {
    import spark.implicits._
    def chain(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    val root = freshRoot("graft_dsv2_list")
    // rows exercise every boundary: k=1 null array, k=2 empty array,
    // k%4==0 a null ELEMENT inside, k=5 a null map value; maps +
    // nested struct-in-array ride the same envelope
    val df = (1L to 20L).toDF("k").select(col("k"),
      when(col("k") === 1, lit(null).cast("array<double>"))
        .when(col("k") === 2, array().cast("array<double>"))
        .otherwise(array(col("k") * 1.0,
          when(col("k") % 4 =!= 0, col("k") * 2.0), col("k") * 3.0)).as("vals"),
      map(lit("a"), col("k"),
        lit("b"), when(col("k") =!= 5, col("k") * 10)).as("m"),
      array(struct(col("k").as("id"), (col("k") % 3).as("grp"))).as("tags"))
    df.write.format("graft-snapshot").mode("append").save(root)
    val got = spark.read.format("graft-snapshot").load(root)
    // schema round-trips exactly
    assert(got.schema("vals").dataType.simpleString == "array<double>")
    assert(got.schema("m").dataType.simpleString == "map<string,bigint>")
    assert(got.schema("tags").dataType.simpleString == "array<struct<id:bigint,grp:bigint>>")
    // null vs empty vs null-element all distinct through the round trip
    assert(got.filter(col("vals").isNull).select(col("k")).head().getLong(0) == 1L)
    assert(got.filter(col("vals").isNotNull && size(col("vals")) === 0)
      .select(col("k")).head().getLong(0) == 2L)
    assert(got.filter(expr("exists(vals, x -> x IS NULL)"))
      .select(col("k")).collect().map(_.getLong(0)).toSet ==
      (3L to 20L).filter(_ % 4 == 0).toSet)
    // element values decode exactly; map null-value semantics hold
    assert(got.filter(col("k") === 7)
      .select(expr("aggregate(vals, 0D, (a, x) -> a + x)")).head().getDouble(0)
      == 7.0 + 14.0 + 21.0)
    assert(got.filter(col("k") === 5).select(col("m")("b")).head().isNullAt(0))
    assert(got.filter(col("k") === 6).select(col("m")("b")).head().getLong(0) == 60L)
    // struct-in-array decodes through the same recursive plan
    assert(got.select(expr("tags[0].grp").as("g")).agg(sum("g")).head().getLong(0)
      == (1L to 20L).map(_ % 3).sum)
    assert(got.filter(expr("tags[0].id = 9")).count() == 1)
    // second commit sits beside residents (nested-shape compat) and a
    // DSv2 DELETE rewrites array files copy-on-write
    df.select(col("k") + 100 as "k", col("vals"), col("m"), col("tags"))
      .write.format("graft-snapshot").mode("append").save(root)
    spark.sql(s"DELETE FROM '$root' WHERE k > 110").collect()
    assert(spark.read.format("graft-snapshot").load(root).count() == 30)
    assert(spark.read.format("graft-snapshot").load(root)
      .filter(col("k") === 107)
      .select(expr("aggregate(vals, 0D, (a, x) -> a + x)")).head().getDouble(0)
      == 7.0 + 14.0 + 21.0)
    // a shape change (array-of-double → array-of-long) refuses at PLAN
    // time with the element path, never a mid-task parquet error
    val retyped = df.select(col("k"),
      expr("transform(vals, x -> CAST(x AS BIGINT))").as("vals"),
      col("m"), col("tags"))
    val eTy = intercept[Exception](retyped.write.format("graft-snapshot")
      .mode("append").save(root))
    assert(chain(eTy).contains("vals.element"), chain(eTy))
    // rowIds + CDF compose with the nested decode (r17)
    ST.enableRowTracking(spark, root)
    val ids = spark.read.format("graft-snapshot").option("rowIds", "true")
      .load(root).select(col("_row_id"), col("k"), col("vals"))
    assert(ids.select("_row_id").distinct().count() == 30)
    assert(ids.filter(col("k") === 7).select(expr("vals[2]")).head().getDouble(0) == 21.0)
    val feed = spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true").option("afterVersion", "0").load(root)
    assert(feed.filter(col("_change_type") === "delete" && col("k") > 110)
      .count() == 10)
    assert(feed.filter(col("_change_type") === "insert" && col("k") === 3)
      .select(expr("vals[0]")).head().getDouble(0) == 3.0)
    // the Scala route reads the connector-written nested files
    // identically (parquet-mr and Spark's vectorized reader agree on
    // the 3-level encoding the task writer emits)
    assert(ST.read(spark, root).filter(col("k") === 7)
      .select(expr("m['a']")).head().getLong(0) == 7L)
    // catalog ADD COLUMN over the array-bearing table (r17): the
    // evolved table keeps reading on DSv2 — arrays decode through the
    // per-file requests, existing rows null-fill the new column
    val wl = Files.createTempDirectory("graft_list_cat").toString
    spark.conf.set("spark.sql.catalog.glst", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.glst.root", wl)
    Files.createSymbolicLink(Paths.get(wl, "t"), Paths.get(root))
    spark.sql("ALTER TABLE glst.t ADD COLUMN note STRING").collect()
    assert(spark.sql("SELECT COUNT(*) FROM glst.t WHERE note IS NULL")
      .head().getLong(0) == 30)
    assert(spark.sql("SELECT vals[2] FROM glst.t WHERE k = 7")
      .head().getDouble(0) == 21.0,
      "arrays must keep decoding on the evolved table")
  }

  /** The type-parity fixture's columns over `id` 1..40: date,
    * decimals, binary, Spark's default INT96 timestamp and smallint,
    * plus a key `k`. */
  private val typedColumns = Seq(col("id").as("k"),
    expr("date_add(DATE'2024-01-01', CAST(id AS INT))").as("d"),
    expr("CAST(id * 1.5 AS DECIMAL(18,6))").as("amt"),
    expr("CAST(id AS DECIMAL(38,10)) / 7").cast("decimal(38,10)").as("big"),
    expr("CAST(concat('b', CAST(id AS STRING)) AS BINARY)").as("bin"),
    expr("TIMESTAMP'2024-03-01 10:00:00' + make_interval(0, 0, 0, 0, CAST(id AS INT))")
      .as("ts"),
    expr("CAST(id * 100 AS SMALLINT)").as("s"))

  /** A two-file, k-clustered table of `cols` at `root`; its data files. */
  private def typedTable(root: String, cols: Seq[org.apache.spark.sql.Column]): Seq[String] = {
    val rels = ST.writeDataFiles(
      spark.range(1, 41).select(cols: _*).repartitionByRange(2, col("k")), root, "a")
    ST.commitEntries(root, 0, rels.map(ST.footerEntry(root, _, "k")), 8,
      Map("statsCol" -> "k"))
    rels
  }

  /** `d`'s rows, binary as a comparable Seq, ordered by the leading
    * long key. */
  private def rows(d: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    d.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }).sortBy(_.head.asInstanceOf[Long])

  /** Nested columns over `id`, beside [[typedColumns]]: REQUIRED at
    * every depth when written from these expressions (the struct field
    * `a`, the list elements, the map values). */
  private val nestedColumns = Seq(
    struct(col("id").as("a"), expr("CAST(id AS STRING)").as("b")).as("st"),
    expr("array(id, id + 1)").as("arr"),
    expr("map(CAST(id AS STRING), CAST(id AS DOUBLE))").as("mp"))

  test("footer schemas equal Spark's inferred schemas, and reads plan without a job") {
    import graft.sources.{ParquetFooters, Tables}
    val root = freshRoot("graft_footer_schema")
    val rels = typedTable(root, typedColumns ++ nestedColumns)
    // the helper's schema is the inferred one exactly, nullability and
    // nested shapes included — per file and for the table directory
    (rels.map(r => Paths.get(root, r).toString) :+ root).foreach { p =>
      assert(ParquetFooters.schema(spark, p) == spark.read.parquet(p).schema, p)
    }
    // the events file (TIMESTAMP(NANOS) or MICROS by corpus vintage)
    // under the nanosAsLong conf its loader sets
    val ev = Tables.path(sf, "events")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(ParquetFooters.schema(spark, ev) == spark.read.parquet(ev).schema)
    assert(ParquetFooters.rowCount(spark, ev) == spark.read.parquet(ev).count())
    // building the frames starts no Spark job; only actions do — also
    // over a directory below a hidden one (names above a path never
    // hide its files)
    val hiddenDir = Files.createTempDirectory(".graft_hidden")
    val dirTable = hiddenDir.resolve("t")
    Files.createDirectory(dirTable)
    rels.foreach(r => Files.copy(Paths.get(root, r), dirTable.resolve(r)))
    assert(ParquetFooters.schema(spark, dirTable.toString) ==
      spark.read.parquet(dirTable.toString).schema)
    val jobs = JobCounter.jobsStartedBy {
      ParquetFooters.read(spark, Seq(dirTable.toString))
      ST.read(spark, root)
      ST.readPointLookup(spark, root, "k", Seq(3L, 30L))
      Tables.events(spark, sf)
    }
    assert(jobs == 0, s"$jobs Spark jobs started before any action")
    assert(ST.readPointLookup(spark, root, "k", Seq(3L, 30L)).count() == 2)
  }

  test("DSv2 type parity: date/decimal/binary/INT96 timestamp/smallint read as the path API does") {
    // a Spark-written table of date/decimal/binary/timestamp/smallint
    // columns: every DSv2 read route must serve the same
    // schema and values as SnapshotTable.read — never a physical
    // reinterpretation (date as int, decimal as its unscaled long)
    // and never a refusal (INT96 timestamps are Spark's default)
    val root = freshRoot("graft_dsv2_types")
    typedTable(root, typedColumns)
    def parity(what: String, got: org.apache.spark.sql.DataFrame): Unit = {
      val want = ST.read(spark, root)
      // names and types; nullability differs by design (the connector
      // exposes a REQUIRED column as NOT NULL, Spark's file read does not)
      def typed(d: org.apache.spark.sql.DataFrame) = d.schema.map(f => f.name -> f.dataType)
      assert(typed(got) == typed(want),
        s"$what schema ${got.schema.simpleString} vs ${want.schema.simpleString}")
      assert(rows(got) == rows(want), s"$what rows diverge from SnapshotTable.read")
    }
    parity("path load", spark.read.format("graft-snapshot").load(root))
    val w = Files.createTempDirectory("graft_types_cat").toString
    spark.conf.set("spark.sql.catalog.gtyp", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtyp.root", w)
    Files.createSymbolicLink(Paths.get(w, "t"), Paths.get(root))
    parity("catalog SELECT", spark.sql("SELECT * FROM gtyp.t"))
    val cols = ST.read(spark, root).columns.toSeq.map(col)
    parity("batch change feed", spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true").load(root).select(cols: _*))
    // deletion vectors and row ids ride the same decode (one row of a
    // 20-row file stays under the vector's selectivity cap)
    ST.enableDeletionVectors(root)
    spark.sql(s"DELETE FROM '$root' WHERE k = 2").collect()
    assert(ST.dvState(root, ST.currentVersion(root)).nonEmpty)
    parity("path load over deletion vectors",
      spark.read.format("graft-snapshot").load(root))
    ST.enableRowTracking(spark, root)
    val ids = spark.read.format("graft-snapshot").option("rowIds", "true").load(root)
    val withIds = col("_row_id") +: cols
    assert(rows(ids.select(withIds: _*)) ==
      rows(ST.readWithRowIds(spark, root).select(withIds: _*)),
      "rowIds read diverges from SnapshotTable.readWithRowIds")
  }

  test("DSv2 writes of date/decimal/binary/INT96 timestamp/smallint/nested columns read as the path API does") {
    // a Spark-written table of every fixture column, copied through
    // each DSv2 write route: the copy reads back equal to
    // SnapshotTable.read of the source on both read routes, and its
    // files declare exactly the residents' parquet schema
    val src = freshRoot("graft_dsv2_wtypes_src")
    val srcRels = typedTable(src, typedColumns ++ nestedColumns)
    val want = ST.read(spark, src)
    def footer(root: String, rel: String) =
      graft.sources.ParquetFooters.withReader(graft.sources.ParquetFooters.inputFile(root, rel))(
        _.getFooter.getFileMetaData.getSchema)
    def parity(what: String, root: String, times: Int = 1): Unit = {
      val expected = Seq.fill(times)(rows(want)).flatten.sortBy(_.head.asInstanceOf[Long])
      Seq("path API" -> ST.read(spark, root),
          "DSv2 load" -> spark.read.format("graft-snapshot").load(root)).foreach {
        case (route, got) =>
          // names and types; the connector exposes REQUIRED as NOT NULL
          val nullable = org.apache.spark.sql.GraftShim.asNullable _
          assert(nullable(got.schema) == nullable(want.schema),
            s"$what via $route: ${got.schema.simpleString} vs ${want.schema.simpleString}")
          assert(rows(got) == expected, s"$what via $route: rows diverge")
      }
    }
    // path route into a fresh table
    val fresh = freshRoot("graft_dsv2_wtypes_path")
    want.write.format("graft-snapshot").mode("append").save(fresh)
    parity("path-route write", fresh)
    // path route beside Spark-written residents: the appended file is
    // encoded exactly as they are, nullability included
    val beside = freshRoot("graft_dsv2_wtypes_beside")
    typedTable(beside, typedColumns ++ nestedColumns)
    want.write.format("graft-snapshot").mode("append").save(beside)
    parity("append beside residents", beside, times = 2)
    val resident = footer(src, srcRels.head)
    ST.manifestEntries(beside, ST.currentVersion(beside)).foreach(e =>
      assert(footer(beside, e.rel) == resident, s"${e.rel} declares ${footer(beside, e.rel)}"))
    // catalog CTAS, then INSERT INTO
    val w = Files.createTempDirectory("graft_wtypes_cat").toString
    spark.conf.set("spark.sql.catalog.gwty", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gwty.root", w)
    want.createOrReplaceTempView("wtypes_src")
    spark.sql("CREATE TABLE gwty.t AS SELECT * FROM wtypes_src")
    parity("catalog CTAS", Paths.get(w, "t").toString)
    spark.sql("INSERT INTO gwty.t SELECT * FROM wtypes_src")
    parity("catalog INSERT", Paths.get(w, "t").toString, times = 2)
  }

  test("DSv2 writes refuse a NULL into a REQUIRED slot at every depth, naming it") {
    def chain(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    val root = freshRoot("graft_dsv2_notnull")
    typedTable(root, typedColumns ++ nestedColumns)
    val v = ST.currentVersion(root)
    val one = ST.read(spark, root).filter(col("k") === 1)
    Seq(
      "k" -> one.withColumn("k", lit(null).cast("long")),
      "st.a" -> one.withColumn("st", struct(lit(null).cast("long").as("a"), col("st.b").as("b"))),
      "arr.element" -> one.withColumn("arr", array(lit(null).cast("long"), lit(2L))),
      "mp.value" -> one.withColumn("mp", map(lit("x"), lit(null).cast("double")))
    ).foreach { case (slot, bad) =>
      val e = intercept[Exception](bad.write.format("graft-snapshot").mode("append").save(root))
      assert(chain(e).contains(s"NULL into $slot, which the resident files declare REQUIRED"),
        chain(e))
      assert(ST.currentVersion(root) == v, s"a refused NULL into $slot committed")
    }
    // the same row with its values intact lands
    one.write.format("graft-snapshot").mode("append").save(root)
    assert(ST.read(spark, root).count() == 41)
  }

  test("a DSv2 append whose task fails after opening its file leaves nothing in the root") {
    import spark.implicits._
    val root = freshRoot("graft_dsv2_abort")
    ST.commitEntries(root, 0,
      ST.writeDataFiles(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").coalesce(1), root, "a")
        .map(ST.footerEntry(root, _, "k")),
      shardSize = 8, Map("statsCol" -> "k"))
    ST.addCheckConstraint(spark, root, "v_pos", "v > 0")
    val v = ST.currentVersion(root)
    def files = Engine.listDir(Paths.get(root)).map(_.getFileName.toString).toSet
    val before = files
    // one task: its first row opens the data file, its last breaks the CHECK
    val bad = Seq((3L, 3.0), (4L, 4.0), (5L, -5.0)).toDF("k", "v").coalesce(1)
    val e = intercept[Exception](bad.write.format("graft-snapshot").mode("append").save(root))
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("v_pos"))), e.getMessage)
    assert(ST.currentVersion(root) == v, "the failed append committed")
    assert(files == before, s"the failed append left ${files -- before}")
  }
}
