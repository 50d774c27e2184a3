package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe: replicates the sf0.1 tables N× in-memory (keys offset per
  * replica so cardinalities really grow) and times the operators whose
  * scaling behavior matters most — the candidate-generating dedup/ANN
  * family and the fact-fact joins. Run manually per round; results go to
  * SURVEY.md §5. Not part of Bench (the driver times that at sf0.1).
  *
  *   sbt "runMain graft.ScaleProbe [replicas] [op1,op2,...]"
  *
  * A second argument restricts the run to the named probes (prefix
  * match), so a round can re-probe only its new operators.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val replicas = if (args.nonEmpty) args(0).toInt else 8
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").map(_.trim).toSet) else None
    val spark = GraftSession.build("local[32]", 64)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = "/root/testdata/sf0.1"
    val work = java.nio.file.Files.createTempDirectory("graft_scale").toString

    // materialize replicated tables once (parquet, so scans/pushdown
    // behave like production, not like an in-memory union)
    // one GLOBAL per-replica offset for every key column of every table,
    // so cross-table join keys (l_orderkey↔o_orderkey, o_custkey↔
    // c_custkey, …) stay aligned within each replica
    val Offset = 1000000000L
    def replicate(name: String, keyCols: Seq[String]): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val out = (0 until replicas).map { r =>
        keyCols.foldLeft(base)((df, k) => df.withColumn(k, col(k) + lit(r * Offset)))
      }.reduce(_ union _)
      out.write.mode("overwrite").parquet(s"$work/$name.parquet")
    }
    replicate("documents", Seq("doc_id"))
    replicate("embeddings", Seq("vec_id"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("lineitem", Seq("l_orderkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("customer", Seq("c_custkey"))

    def time(name: String)(f: => Long): Unit = {
      if (only.exists(!_.exists(name.startsWith))) return
      val t0 = System.nanoTime(); val rows = f
      println(f"[scale] $name replicas=$replicas rows=$rows t=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    time("d2_ngram_jaccard")(operators.Dedup.d2DedupNgramJaccard(spark, work).count())
    time("d3_minhash_lsh")(operators.Dedup.d3DedupMinhashLsh(spark, work).count())
    // CC label propagation over the LSH pairs (the 100 TB wiring):
    // doubling vs one-hop — the measured round-count drop
    lazy val lshPairs = operators.Dedup.d3DedupMinhashLsh(spark, work)
      .select("doc_a", "doc_b").localCheckpoint(true)
    time("d7_cc_doubling") {
      val (lbl, rounds) = operators.Dedup.propagateLabels(lshPairs, doubling = true)
      println(s"[scale] d7_cc_doubling rounds=$rounds")
      lbl.count()
    }
    time("d7_cc_onehop") {
      val (lbl, rounds) = operators.Dedup.propagateLabels(lshPairs, doubling = false)
      println(s"[scale] d7_cc_onehop rounds=$rounds")
      lbl.count()
    }
    // replicated corpora duplicate documents into CLIQUES (diameter 1 —
    // both modes converge in 2 rounds); the doubling payoff is on DEEP
    // components, so probe a 64-node path graph (diameter 63): one-hop
    // needs 63 rounds of 2 Spark jobs each, doubling ~8
    locally {
      import spark.implicits._
      val chain = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
        .localCheckpoint(true)
      time("cc_chain64_doubling") {
        val (lbl, rounds) = operators.Dedup.propagateLabels(chain, doubling = true)
        println(s"[scale] cc_chain64_doubling rounds=$rounds")
        lbl.count()
      }
      time("cc_chain64_onehop") {
        val (lbl, rounds) = operators.Dedup.propagateLabels(chain, doubling = false)
        println(s"[scale] cc_chain64_onehop rounds=$rounds")
        lbl.count()
      }
    }
    time("d4_simhash")(operators.Dedup.d4DedupSimhash(spark, work).count())
    time("s2_knn_lsh")(operators.Similarity.s2KnnLsh(spark, work).count())
    time("s6_pairwise_lsh")(operators.Similarity.s6PairwiseLsh(spark, work).count())
    time("q3_join_agg")(operators.Relational.q3JoinAgg(spark, work).count())
    time("q14_scalar_subquery")(operators.Relational.q14ScalarSubquery(spark, work).count())
    time("c1_sessionize")(operators.Churn.c1Sessionize(spark, work).count())
    time("c7_rfm")(operators.Churn.c7Rfm(spark, work).count())
    // round-8 additions whose scaling shape matters: hash-keyed LM
    // scoring, filtered-postings retrieval, the SQ8 two-stage ANN, and
    // the banded perceptual-hash pair join
    time("t12_lm_quality")(operators.TextAnalysis.t12LmQuality(spark, work).count())
    time("t11_bm25_search")(operators.TextAnalysis.t11Bm25Search(spark, work).count())
    time("t13_tfidf_keywords")(operators.TextAnalysis.t13TfidfKeywords(spark, work).count())
    time("s7_knn_sq8")(operators.Similarity.s7KnnSq8(spark, work).count())
    time("m5_phash_pairs")(operators.Multimodal.m5PhashPairs(spark, work).count())
    // the r11 bucket-budget valve under the SAME adversarial density
    // that produced the 32× quadratic term (60.3M pairs, 147.7 s):
    // per-bucket candidates bounded at budget²/2, audit printed
    time("m5_phash_budget") {
      spark.conf.set(operators.Multimodal.M5BudgetKey, "256")
      try operators.Multimodal.m5PhashPairs(spark, work).count()
      finally spark.conf.unset(operators.Multimodal.M5BudgetKey)
    }
    // round-9 additions: span-grain dedup (window over span hashes),
    // the repetition gate (doc_id+hash keyed), range search (broadcast
    // scan — should scale linearly in corpus size), RGB/JPEG codec
    // stage and PCM chunk fan-out (per-row CPU, embarrassingly parallel)
    time("d8_substring")(operators.Dedup.d8DedupSubstring(spark, work).count())
    time("t14_repetition")(operators.TextAnalysis.t14Repetition(spark, work).count())
    time("s9_range_search")(operators.Similarity.s9RangeSearch(spark, work).count())
    time("m6_rgb_jpeg")(operators.Multimodal.m6RgbJpegStats(spark, work).count())
    time("m7_audio_chunks")(operators.Multimodal.m7AudioChunks(spark, work).count())
    // late-round-9 additions: per-shard packing window (must scale with
    // shard parallelism, no global sort), map-side-filter sampling
    // (linear scan), and the user-keyed journey window (same shuffle key
    // as c1 — output fixed at |event_types|² rows no matter the corpus)
    time("t15_seq_packing")(operators.TextAnalysis.t15SeqPacking(spark, work).count())
    time("t16_mixture_sample")(operators.TextAnalysis.t16MixtureSample(spark, work).count())
    time("c20_event_transitions")(operators.Churn.c20EventTransitions(spark, work).count())
    // streaming upsert: three chronological merges over the replicated
    // log — the cost that must stay batch-proportional, not
    // table-proportional
    time("st11_upsert_sink")(streaming.SnapshotSink.st11StreamUpsertSink(spark, work).count())
    // r10: the cluster-label answer to m5's quadratic pair output —
    // same codec+banding stage (memo-shared when m5 ran in-session),
    // then pointer-doubling CC: output is ONE row per image no matter
    // how many duplicate pairs the replicas induce
    time("m8_image_clusters")(operators.Multimodal.m8ImageDedupClusters(spark, work).count())
    // r12: st7 with the state bound FIXED on the watermarked columns —
    // print the state-store numbers alongside wall time so the probe
    // record shows eviction holding at replica scale (final resident
    // rows ≪ cumulative buffered rows)
    time("st7_stream_join_state") {
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
      val n = streaming.Streams.collectProgress(buf)(
        streaming.Streams.st7StreamStreamJoin(spark, work)).count()
      val ops = buf.flatMap(_.stateOperators)
      println(s"[scale] st7 state: buffered=${ops.map(_.numRowsUpdated).sum} " +
        s"removed=${ops.map(_.numRowsRemoved).sum} " +
        s"final=${buf.last.stateOperators.map(_.numRowsTotal).sum}")
      n
    }
    // r12: the composed daily pipeline — ingest/rollup are append-only
    // (batch-proportional), scoring is O(users)/day; the probe shows the
    // cadence staying linear-ish in corpus size, not superlinear
    time("c21_daily_pipeline")(operators.Pipeline.c21DailyPipeline(spark, work).count())
    // r12: copy-on-write DELETE confinement — the day-window delete must
    // rewrite the touched 5-day blocks only, and its wall time must
    // track the WINDOW's bytes (compare against the full-table OPTIMIZE
    // rewrite at the same scale, printed alongside). At 100 TB this
    // ratio is the whole point of the two-phase shape: a compliance
    // delete prices at its predicate's data, never the table.
    time("x28_stage_fixture") {
      val ST = operators.SnapshotTable
      val root = s"$work/snap_del"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      ST.commitEntries(root, 0, ST.stageDayClustered(spark, work, root),
        shardSize = 3, Map("statsCol" -> "ep_day"))
      ST.read(spark, root).count()
    }
    time("x28_delete_cow") {
      val ST = operators.SnapshotTable
      val root = s"$work/snap_del"
      val v = ST.delete(spark, root,
        s"ep_day BETWEEN ${ST.X28Lo} AND ${ST.X28Hi} AND event_type = 'view'")
      println(s"[scale] x28 delete audit: ${ST.manifestMeta(root, v)("delete")}")
      ST.read(spark, root).count()
    }
    time("x28_full_rewrite_ref") {
      val ST = operators.SnapshotTable
      val root = s"$work/snap_del"
      ST.optimizeClustered(spark, root, "ep_day", targetFiles = 7)
      ST.read(spark, root).count()
    }
    // late-r12: the streaming CDF feed over the merge table — the probe
    // question is whether the per-batch cost tracks the COMMIT's
    // changed files (batch-proportional) while the signed fold stays
    // correct at replica scale. rows = the day-grouped FOLD's output
    // (constant 30 days by construction); the replica-proportional
    // quantity is the diffed file volume the wall time prices
    time("st12_stream_cdf")(streaming.Streams.st12StreamCdf(spark, work).count())
    // late-r12: SHALLOW CLONE at scale — the fork must price as ONE
    // manifest write no matter the table size (wall printed), and the
    // clone's copy-on-write DELETE must confine its rewrite to the
    // day-window files exactly like the source-table x28 probe above
    time("x32_clone_fork") {
      val ST = operators.SnapshotTable
      val src = s"$work/snap_del"
      val dst = s"$work/snap_clone"
      ST.shallowClone(src, dst)
      ST.manifestEntries(dst, 1).size.toLong
    }
    time("x32_clone_delete_cow") {
      val ST = operators.SnapshotTable
      val dst = s"$work/snap_clone"
      val v = ST.delete(spark, dst, s"ep_day BETWEEN ${ST.X28Lo} AND ${ST.X28Hi}")
      println(s"[scale] x32 clone delete audit: ${ST.manifestMeta(dst, v)("delete")}")
      ST.read(spark, dst).count()
    }
    // late-r12: the ANSI merge — its discovery join is the O(table)
    // term (Delta's phase-1 price), the rewrite must stay confined to
    // stats-touched files; the audit line shows both
    time("x33_ansi_merge") {
      val ST = operators.SnapshotTable
      val n = ST.x33AnsiMerge(spark, work).count()
      val root = spark.conf.get("spark.sql.catalog.gx.root") + "/x33_t"
      println(s"[scale] x33 merge audit: " +
        s"${ST.manifestMeta(root, ST.currentVersion(root)).getOrElse("merge", "?")}")
      n
    }
    // late-r12: the CDF-maintained MV — per-commit refresh must read
    // the commit's changed files and write the aggregate-sized MV,
    // never the source (wall tracks the diffed volume; MV row count is
    // day-cardinality-constant)
    time("st14_cdf_mv")(streaming.Streams.st14StreamCdfMv(spark, work).count())
    // late-r12: the shard export — one hash-keyed wide write, so wall
    // must track corpus bytes linearly (rows = shard count, constant)
    time("t18_shard_export")(operators.TextAnalysis.t18ShardExport(spark, work).count())
    // late-r12: the outer stream-stream join — eviction must hold at
    // replica scale exactly like st7, with the flush sentinel draining
    // every real state row before the query stops
    time("st13_outer_join_state") {
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
      val n = streaming.Streams.collectProgress(buf)(
        streaming.Streams.st13StreamStreamOuter(spark, work)).count()
      val ops = buf.flatMap(_.stateOperators)
      println(s"[scale] st13 state: buffered=${ops.map(_.numRowsUpdated).sum} " +
        s"removed=${ops.map(_.numRowsRemoved).sum} " +
        s"final=${buf.last.stateOperators.map(_.numRowsTotal).sum}")
      n
    }
    // r13: the sync merge (NOT MATCHED BY SOURCE) — same discovery-join
    // O(table) term as x33 (Delta's phase 1), BY SOURCE anti-join
    // included; the rewrite must stay confined to the window's files
    time("x34_merge_sync") {
      val ST = operators.SnapshotTable
      val n = ST.x34MergeSync(spark, work).count()
      val root = spark.conf.get("spark.sql.catalog.gx.root") + "/x34_t"
      println(s"[scale] x34 merge audit: " +
        s"${ST.manifestMeta(root, ST.currentVersion(root)).getOrElse("merge", "?")}")
      n
    }
    // r13: column mapping — RENAME/DROP must price as ONE manifest
    // write no matter the table size, and the post-rename scan must
    // price like a plain scan (the mapping is a projection rename)
    time("x35_stage_fixture") {
      val ST = operators.SnapshotTable
      val root = s"$work/snap_cm"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      ST.commitEntries(root, 0, ST.stageDayClustered(spark, work, root),
        shardSize = 3, Map("statsCol" -> "ep_day"))
      ST.read(spark, root).count()
    }
    time("x35_rename_meta_only") {
      val ST = operators.SnapshotTable
      val root = s"$work/snap_cm"
      ST.renameColumn(spark, root, "value", "amount")
      ST.dropColumn(spark, root, "event_type")
      ST.manifestEntries(root, ST.currentVersion(root)).size.toLong
    }
    time("x35_read_after_rename") {
      val ST = operators.SnapshotTable
      val root = s"$work/snap_cm"
      ST.read(spark, root).agg(sum(col("amount"))).count()
    }
    // r13: deletion vectors — the sparse delete must price at the
    // SIDECAR write (hits-proportional), not the file rewrite; the
    // CoW twin on an identical table is the reference. Then the
    // DV-aware scan's anti-join overhead over the plain scan.
    time("x36_dv_delete") {
      val ST = operators.SnapshotTable
      val root = s"$work/snap_dv"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      ST.commitEntries(root, 0, ST.stageDayClustered(spark, work, root),
        shardSize = 3, Map("statsCol" -> "ep_day"))
      ST.enableDeletionVectors(root)
      val v = ST.delete(spark, root, "event_id % 997 = 3")
      println(s"[scale] x36 delete audit: ${ST.manifestMeta(root, v)("delete")}")
      ST.manifestEntries(root, v).size.toLong
    }
    time("x36_cow_delete_ref") {
      val ST = operators.SnapshotTable
      val root = s"$work/snap_dv_cow"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      ST.commitEntries(root, 0, ST.stageDayClustered(spark, work, root),
        shardSize = 3, Map("statsCol" -> "ep_day"))
      val v = ST.delete(spark, root, "event_id % 997 = 3")
      println(s"[scale] x36 cow audit: ${ST.manifestMeta(root, v)("delete")}")
      ST.manifestEntries(root, v).size.toLong
    }
    time("x36_dv_scan")(operators.SnapshotTable.read(spark, s"$work/snap_dv").count())
    time("x36_dv_scan_dsv2")(
      spark.read.format("graft-snapshot").load(s"$work/snap_dv").count())
    time("x36_plain_scan_ref")(
      operators.SnapshotTable.read(spark, s"$work/snap_dv_cow").count())
    // the POINT-delete shape DV exists for: one day-clustered file
    // touched; the sidecar write must not scale with the file's bytes
    // while the CoW twin rewrites the whole file
    time("x36_dv_point_delete") {
      val ST = operators.SnapshotTable
      val v = ST.delete(spark, s"$work/snap_dv",
        "ep_day = 19724 AND event_id % 9973 = 5")
      println(s"[scale] x36 point audit: " +
        s"${ST.manifestMeta(s"$work/snap_dv", v)("delete")}")
      1L
    }
    time("x36_cow_point_delete_ref") {
      val ST = operators.SnapshotTable
      val v = ST.delete(spark, s"$work/snap_dv_cow",
        "ep_day = 19724 AND event_id % 9973 = 5")
      println(s"[scale] x36 point cow audit: " +
        s"${ST.manifestMeta(s"$work/snap_dv_cow", v)("delete")}")
      1L
    }
    // r19: REORG APPLY (PURGE) — the purge must price at the DIRTY
    // files: a point delete dirties ONE day-clustered file; the purge
    // rewrite must touch only it (audit cow:1ofN) while the
    // full-OPTIMIZE rewrite of the same table is the whole-table
    // reference the ratio is read against
    time("x51_fixture_build") {
      val ST = operators.SnapshotTable
      val root = s"$work/snap_rg"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      ST.commitEntries(root, 0, ST.stageDayClustered(spark, work, root),
        shardSize = 3, Map("statsCol" -> "ep_day"))
      ST.enableDeletionVectors(root)
      val vd = ST.delete(spark, root, "ep_day = 19724 AND event_id % 9973 = 5")
      // the probe is meaningless if the delete matched nothing or fell
      // back to copy-on-write — guard like the x51 gate fixture does
      assert(ST.manifestMeta(root, vd).getOrElse("delete", "").startsWith("dv:"),
        s"x51 probe fixture fell back: ${ST.manifestMeta(root, vd).get("delete")}")
      assert(ST.dvState(root, vd).nonEmpty, "x51 probe fixture has no DVs")
      ST.manifestEntries(root, vd).size.toLong
    }
    time("x51_reorg_point_purge") {
      val ST = operators.SnapshotTable
      val root = s"$work/snap_rg"
      val v = ST.reorgPurge(spark, root)
      println(s"[scale] x51 reorg audit: " +
        s"${ST.manifestMeta(root, v).getOrElse("reorg", "?")}")
      assert(ST.dvState(root, v).isEmpty)
      ST.manifestEntries(root, v).size.toLong
    }
    time("x51_optimize_full_ref") {
      val ST = operators.SnapshotTable
      val root = s"$work/snap_rg"
      val v = ST.optimizeClustered(spark, root, "ep_day",
        ST.manifestEntries(root, ST.currentVersion(root)).size)
      ST.manifestEntries(root, v).size.toLong
    }
    // r13: merge-on-read UPDATE — the sparse update must price at the
    // hits (sidecars + one postimage file), not the touched files'
    // bytes; audit proves the MoR path engaged at scale
    time("x37_mor_update") {
      val ST = operators.SnapshotTable
      val n = ST.x37MorUpdate(spark, work).count()
      val root = operators.Engine.tmpDir("graft_snap_mor")
      println(s"[scale] x37 update audit: " +
        s"${ST.manifestMeta(root, ST.currentVersion(root)).getOrElse("update", "?")}")
      n
    }
    // r13 (VERDICT #10): CROSS-VERB CONCURRENCY at replica scale — an
    // ANSI merge (day-window rewrite), a CoW delete (a DIFFERENT
    // day-window rewrite; disjoint files, so the rewrites never own the
    // same rows), and a stream of appends all race through CommitRetry.
    // Every commit must land: appends rebase under either rewrite, each
    // rewrite re-bases over the appends (commitRewrite re-carries the
    // racer's files), ansiMerge re-discovers on a lost CAS. The final
    // row count is exact arithmetic — any lost update breaks it.
    time("xr13_concurrent_dml") {
      val ST = operators.SnapshotTable
      import spark.implicits._
      val root = s"$work/snap_race"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      ST.commitEntries(root, 0, ST.stageDayClustered(spark, work, root),
        shardSize = 3, Map("statsCol" -> "ep_day"))
      val n0 = ST.read(spark, root).count()
      val delPred = "ep_day <= 19730 AND event_type = 'view'"
      val delCount = ST.read(spark, root).filter(expr(delPred)).count()
      // merge source: revalue a sample of the 19745-47 window (UPDATE
      // only — row count preserved; files disjoint from the delete's)
      ST.read(spark, root)
        .filter(col("ep_day").between(19745L, 19747L) && col("event_id") % 50 === 0)
        .withColumn("value", col("value") + 1.0)
        .localCheckpoint(true).createOrReplaceTempView("race_src")
      val appendN = 1000
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def thread(name: String)(body: => Unit): Thread = {
        val t = new Thread(() =>
          try body catch { case e: Throwable => errs.add(e) }, name)
        t.start(); t
      }
      val appender = thread("appends") {
        (1 to 3).foreach { i =>
          val rows = (1 to appendN).map(j =>
            (-(i * 100000L + j), 1L, "race_append", 1.0, 99990L + i))
            .toDF("event_id", "user_id", "event_type", "value", "ep_day")
          assert(streaming.SnapshotSink.appendBatch(root, rows, batchId = i.toLong,
            keyCol = "ep_day"), s"append $i did not commit")
        }
      }
      val merger = thread("ansi-merge") {
        ST.ansiMerge(spark, root, "t", "race_src", "s", "event_id", "event_id",
          Seq(ST.WhenMatchedUpdate(None, Seq("value" -> "s.value"))))
      }
      val deleter = thread("delete") { ST.delete(spark, root, delPred) }
      Seq(appender, merger, deleter).foreach(_.join())
      if (!errs.isEmpty) throw errs.peek()
      val fin = ST.read(spark, root).count()
      val expect = n0 + 3L * appendN - delCount
      assert(fin == expect, s"concurrent DML lost rows: $fin != $expect " +
        s"(n0=$n0 del=$delCount)")
      println(s"[scale] xr13 race: n0=$n0 deleted=$delCount appended=${3 * appendN} " +
        s"final=$fin versions=${ST.currentVersion(root)}")
      fin
    }
    // r14: CHECK constraints — the per-row bound-predicate cost on the
    // DSv2 ingest path must be in the noise of the write itself (the
    // unconstrained twin is the reference), and ADD CONSTRAINT prices
    // at ONE validation scan of the resident data.
    time("x38_ingest_unconstrained") {
      val ST = operators.SnapshotTable
      spark.conf.set("spark.sql.catalog.gsc", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gsc.root", s"$work/wh")
      spark.read.parquet(s"$work/events.parquet")
        .selectExpr("event_id", "user_id", "value")
        .createOrReplaceTempView("x38p_src")
      spark.sql("DROP TABLE IF EXISTS gsc.x38p_plain")
      spark.sql("CREATE TABLE gsc.x38p_plain AS SELECT * FROM x38p_src")
      ST.read(spark, s"$work/wh/x38p_plain").count()
    }
    time("x38_add_constraint_validation") {
      val ST = operators.SnapshotTable
      ST.addCheckConstraint(spark, s"$work/wh/x38p_plain", "v_ok", "value >= 0 OR value < 0")
      1L
    }
    time("x38_ingest_constrained") {
      val ST = operators.SnapshotTable
      spark.sql("INSERT INTO gsc.x38p_plain SELECT * FROM x38p_src")
      ST.read(spark, s"$work/wh/x38p_plain").count()
    }
    // r14: type widening — the ALTER must price as ONE manifest commit
    // at any scale, and the MIXED-width scan (int32 files + int64
    // files under the widened schema) must price like the uniform scan.
    time("x39_stage_int_fixture") {
      val ST = operators.SnapshotTable
      spark.conf.set("spark.sql.catalog.gsc", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gsc.root", s"$work/wh")
      spark.read.parquet(s"$work/events.parquet")
        .selectExpr("event_id", "CAST(value * 1000 AS INT) AS q_i")
        .createOrReplaceTempView("x39p_src")
      spark.sql("DROP TABLE IF EXISTS gsc.x39p_t")
      spark.sql("CREATE TABLE gsc.x39p_t AS SELECT * FROM x39p_src")
      ST.read(spark, s"$work/wh/x39p_t").count()
    }
    time("x39_widen_meta_only") {
      val ST = operators.SnapshotTable
      spark.sql("ALTER TABLE gsc.x39p_t ALTER COLUMN q_i TYPE BIGINT")
      ST.manifestEntries(s"$work/wh/x39p_t",
        ST.currentVersion(s"$work/wh/x39p_t")).size.toLong
    }
    time("x39_insert_wide") {
      spark.sql("INSERT INTO gsc.x39p_t SELECT event_id, CAST(q_i AS BIGINT) + 3000000000 FROM x39p_src")
      1L
    }
    // collect(), not count(): count over an aggregate lets column
    // pruning drop the SUM and serve the row count from metadata —
    // the probe would price nothing (r14 review)
    time("x39_mixed_width_scan") {
      spark.sql("SELECT SUM(q_i) FROM gsc.x39p_t").collect(); 1L
    }
    time("x39_uniform_scan_ref") {
      spark.sql("SELECT SUM(CAST(q_i AS BIGINT)) FROM x39p_src").collect(); 1L
    }
    // r14: generated columns — the new cost over x38's already-priced
    // per-row checker is UPDATE's recompute overlay (one extra
    // projection inside the rewrite): it must price in the noise of
    // the rewrite itself. Twin tables, identical data and UPDATE; one
    // carries the generation expression.
    time("x40_stage_gen_fixture") {
      val ST = operators.SnapshotTable
      spark.conf.set("spark.sql.catalog.gsc", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gsc.root", s"$work/wh")
      spark.read.parquet(s"$work/events.parquet")
        .selectExpr("event_id", "CAST(value * 1000 AS BIGINT) AS sec")
        .withColumn("d", expr("sec div 86400"))
        .createOrReplaceTempView("x40p_src")
      spark.sql("DROP TABLE IF EXISTS gsc.x40p_plain")
      spark.sql("DROP TABLE IF EXISTS gsc.x40p_gen")
      spark.sql("CREATE TABLE gsc.x40p_plain AS SELECT * FROM x40p_src")
      spark.sql("CREATE TABLE gsc.x40p_gen AS SELECT * FROM x40p_src")
      ST.read(spark, s"$work/wh/x40p_gen").count()
    }
    time("x40_attach_validation") {
      val ST = operators.SnapshotTable
      ST.setGeneratedColumn(spark, s"$work/wh/x40p_gen", "d", "sec div 86400")
      1L
    }
    time("x40_update_plain_ref") {
      spark.sql(s"UPDATE '$work/wh/x40p_plain' SET sec = sec + 86400 " +
        "WHERE event_id % 37 = 3").collect(); 1L
    }
    time("x40_update_recompute") {
      spark.sql(s"UPDATE '$work/wh/x40p_gen' SET sec = sec + 86400 " +
        "WHERE event_id % 37 = 3").collect(); 1L
    }
    // r14: row tracking — the id read must price like a plain scan plus
    // one broadcast join (bases are driver-side metadata), and a
    // CoW rewrite's id materialization must price inside the rewrite's
    // own noise (one extra int64 column on exactly the moved rows)
    time("x41_stage_rt_fixture") {
      val ST = operators.SnapshotTable
      val root = s"$work/snap_rt"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      val ev = spark.read.parquet(s"$work/events.parquet")
        .selectExpr("event_id", "CAST(value * 1000 AS BIGINT) AS sec")
        .withColumn("d", expr("sec div 86400"))
      ST.commitEntries(root, 0,
        ST.writeDataFiles(ev.repartitionByRange(7, col("d")), root, "seed")
          .map(ST.footerEntry(root, _, "d")),
        16, Map("statsCol" -> "d"))
      ST.enableRowTracking(spark, root)
      ST.read(spark, root).count()
    }
    time("x41_plain_scan_ref") {
      // agg over a data column, NOT count(): count is manifest-served
      // and would price the reference at zero IO (the x39 probe trap)
      val ST = operators.SnapshotTable
      ST.read(spark, s"$work/snap_rt").agg(max(col("sec"))).collect(); 1L
    }
    time("x41_id_scan") {
      val ST = operators.SnapshotTable
      ST.readWithRowIds(spark, s"$work/snap_rt")
        .agg(max(col("_row_id"))).collect(); 1L
    }
    time("x41_stage_plain_twin") {
      // staging OUTSIDE the comparison timers (r14 review: the first
      // probe billed the twin's CTAS to the reference UPDATE)
      val ST = operators.SnapshotTable
      val root = s"$work/snap_rt_plain"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      val ev = spark.read.parquet(s"$work/events.parquet")
        .selectExpr("event_id", "CAST(value * 1000 AS BIGINT) AS sec")
        .withColumn("d", expr("sec div 86400"))
      ST.commitEntries(root, 0,
        ST.writeDataFiles(ev.repartitionByRange(7, col("d")), root, "seed")
          .map(ST.footerEntry(root, _, "d")),
        16, Map("statsCol" -> "d"))
      ST.read(spark, root).count()
    }
    time("x41_update_plain_ref") {
      // untracked twin: same data, same UPDATE — the delta is the id
      // materialization (read positions + one extra int64 column)
      val ST = operators.SnapshotTable
      ST.update(spark, s"$work/snap_rt_plain", Seq("sec" -> "sec + 1"),
        "event_id % 37 = 3"); 1L
    }
    time("x41_update_materialize") {
      val ST = operators.SnapshotTable
      ST.update(spark, s"$work/snap_rt", Seq("sec" -> "sec + 1"),
        "event_id % 37 = 3"); 1L
    }
    time("x41_id_scan_mixed") {
      // a GENUINELY mixed layout: the % 37 update above touched every
      // day file (dense event_ids), so scope a fresh one-day update on
      // the twin... the TRACKED table is already all-materialized; re-
      // stage a third table with ONE day materialized instead
      val ST = operators.SnapshotTable
      val root = s"$work/snap_rt_mixed"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      val ev = spark.read.parquet(s"$work/events.parquet")
        .selectExpr("event_id", "CAST(value * 1000 AS BIGINT) AS sec")
        .withColumn("d", expr("sec div 86400"))
      ST.commitEntries(root, 0,
        ST.writeDataFiles(ev.repartitionByRange(7, col("d")), root, "seed")
          .map(ST.footerEntry(root, _, "d")),
        16, Map("statsCol" -> "d"))
      ST.enableRowTracking(spark, root)
      val days = ST.read(spark, root).agg(min(col("d"))).head().getLong(0)
      ST.update(spark, root, Seq("sec" -> "sec + 1"), s"d = $days")
      val mat = ST.rowMatOf(ST.manifestMeta(root, ST.currentVersion(root))).size
      val tot = ST.manifestEntries(root, ST.currentVersion(root)).size
      println(s"[scale] x41 mixed layout: $mat of $tot files materialized")
      val t0 = System.nanoTime()
      ST.readWithRowIds(spark, root).agg(max(col("_row_id"))).collect()
      println(f"[scale] x41_id_scan_mixed_inner t=${(System.nanoTime() - t0) / 1e9}%.2f")
      1L
    }
    // r15: sparse tracked UPDATE must price like untracked MoR, not
    // like CoW — the id threading resolves hit ids from coordinates
    // and materializes them only into the postimage file (hit rows),
    // so the tracked premium is one broadcast join of the bases plus
    // one int64 column on exactly the updated rows
    time("x41m_stage_mor_pair") {
      val ST = operators.SnapshotTable
      val ev = spark.read.parquet(s"$work/events.parquet")
        .selectExpr("event_id", "CAST(value * 1000 AS BIGINT) AS sec")
        .withColumn("d", expr("sec div 86400"))
      Seq(s"$work/snap_rtm", s"$work/snap_rtm_plain").foreach { root =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
        ST.commitEntries(root, 0,
          ST.writeDataFiles(ev.repartitionByRange(7, col("d")), root, "seed")
            .map(ST.footerEntry(root, _, "d")),
          16, Map("statsCol" -> "d"))
        ST.enableDeletionVectors(root)
      }
      ST.enableRowTracking(spark, s"$work/snap_rtm")
      ST.read(spark, s"$work/snap_rtm").count()
    }
    time("x41m_mor_update_untracked") {
      val ST = operators.SnapshotTable
      // ~0.1% of rows: far under the DV selectivity cap on every file
      ST.update(spark, s"$work/snap_rtm_plain", Seq("sec" -> "sec + 1"),
        "event_id % 997 = 3")
      val root = s"$work/snap_rtm_plain"
      println(s"[scale] x41m untracked audit: " +
        ST.manifestMeta(root, ST.currentVersion(root)).get("update"))
      1L
    }
    time("x41m_mor_update_tracked") {
      val ST = operators.SnapshotTable
      ST.update(spark, s"$work/snap_rtm", Seq("sec" -> "sec + 1"),
        "event_id % 997 = 3")
      val root = s"$work/snap_rtm"
      println(s"[scale] x41m tracked audit: " +
        ST.manifestMeta(root, ST.currentVersion(root)).get("update"))
      1L
    }
    time("x41m_dsv2_id_scan") {
      // the connector id read must price like the Scala route: same
      // per-file partitions, bases resolved at plan time, one footer
      // pre-read per file (evolved mode)
      spark.read.format("graft-snapshot").option("rowIds", "true")
        .load(s"$work/snap_rtm").agg(max(col("_row_id"))).collect(); 1L
    }
    // r15: GENERATED ALWAYS AS IDENTITY — allocation must be pure
    // manifest arithmetic: an appendBatch into a declared table has to
    // price at parity with the identical untracked append (fresh files
    // resolve ids positionally from their commit-assigned base — no
    // per-row write cost), and the identity read pays exactly the x41
    // base-join premium over a plain scan, because the identity column
    // IS the row-tracking id under a user-facing name.
    lazy val x43ev = spark.read.parquet(s"$work/events.parquet")
      .selectExpr("event_id", "CAST(value * 1000 AS BIGINT) AS sec")
      .withColumn("d", expr("sec div 86400"))
    time("x43i_stage_pair") {
      val ST = operators.SnapshotTable
      Seq(s"$work/snap_idc", s"$work/snap_idc_plain").foreach { root =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
        ST.commitEntries(root, 0,
          ST.writeDataFiles(x43ev.filter(col("d") <= 19723L)
            .repartitionByRange(2, col("d")), root, "seed")
            .map(ST.footerEntry(root, _, "d")),
          16, Map("statsCol" -> "d"))
      }
      ST.setIdentityColumn(spark, s"$work/snap_idc", "row_sk")
      // warm the batch input (page cache + codegen) so neither timed
      // append pays a cold 32×-replica scan its twin doesn't. Even
      // warmed, the FIRST append of a window has read 0.37-0.95 s vs
      // the second's 0.22-0.24 s REGARDLESS of which leg ran first
      // (both orders measured at 32×) — adjudicate the legs within
      // one window, not across windows.
      x43ev.filter(col("d") > 19723L).agg(max(col("sec"))).collect()
      1L
    }
    time("x43i_ingest_untracked") {
      graft.streaming.SnapshotSink.appendBatch(s"$work/snap_idc_plain",
        x43ev.filter(col("d") > 19723L), batchId = 0L, keyCol = "d")
      1L
    }
    time("x43i_ingest_identity") {
      graft.streaming.SnapshotSink.appendBatch(s"$work/snap_idc",
        x43ev.filter(col("d") > 19723L), batchId = 0L, keyCol = "d")
      1L
    }
    time("x43i_plain_read_ref") {
      operators.SnapshotTable.read(spark, s"$work/snap_idc_plain")
        .agg(max(col("sec"))).collect(); 1L
    }
    time("x43i_identity_read") {
      operators.SnapshotTable.read(spark, s"$work/snap_idc")
        .agg(max(col("row_sk")), max(col("sec"))).collect(); 1L
    }
    // r16: NESTED column mapping — the ALTERs are metadata-only (not
    // probed; one manifest write by construction), so the scale
    // question is the READ and REWRITE premium of the struct-rebuild
    // projection (when(isNotNull, struct(fieldRenames))) versus a
    // plain struct scan, and the toLogicalFull/toPhysical round trip
    // a CoW UPDATE pays through a nested mapping. Twin tables,
    // identical struct data; one nested-renamed + field-dropped.
    lazy val x44ev = spark.read.parquet(s"$work/events.parquet")
      .selectExpr("event_id", "CAST(value * 1000 AS BIGINT) AS sec", "value")
      .withColumn("d", expr("sec div 86400"))
      .selectExpr("event_id", "d", "named_struct('tag', CAST(event_id % 7 AS STRING), 'value', value) AS props", "CAST(0.0 AS DOUBLE) AS flag")
    time("x44n_stage_pair") {
      val ST = operators.SnapshotTable
      Seq(s"$work/snap_ncm", s"$work/snap_ncm_plain").foreach { root =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
        ST.commitEntries(root, 0,
          ST.writeDataFiles(x44ev.repartitionByRange(4, col("d")), root, "seed")
            .map(ST.footerEntry(root, _, "d")),
          16, Map("statsCol" -> "d"))
      }
      ST.renameColumn(spark, s"$work/snap_ncm", "props.value", "amount")
      ST.dropColumn(spark, s"$work/snap_ncm", "props.tag")
      1L
    }
    time("x44n_scan_plain_ref") {
      operators.SnapshotTable.read(spark, s"$work/snap_ncm_plain")
        .agg(sum(col("props.value"))).collect(); 1L
    }
    time("x44n_scan_mapped") {
      operators.SnapshotTable.read(spark, s"$work/snap_ncm")
        .agg(sum(col("props.amount"))).collect(); 1L
    }
    time("x44n_update_plain_ref") {
      operators.SnapshotTable.update(spark, s"$work/snap_ncm_plain",
        Seq("flag" -> "flag + 1.0"), "props.value > 15.0 AND d = 19720")
      1L
    }
    time("x44n_update_mapped") {
      operators.SnapshotTable.update(spark, s"$work/snap_ncm",
        Seq("flag" -> "flag + 1.0"), "props.amount > 15.0 AND d = 19720")
      1L
    }
    // r16: CONVERT in place — adoption must price by FILE COUNT (one
    // driver-side footer read each), never by data volume; file count
    // here scales with the replica factor
    time("x45c_stage_plain") {
      spark.read.parquet(s"$work/events.parquet")
        .selectExpr("event_id", "value", "CAST(value * 1000 AS BIGINT) div 86400 AS d")
        .repartitionByRange(replicas, col("d"))
        .write.mode("overwrite").parquet(s"$work/plain_convert")
      1L
    }
    time("x45c_convert") {
      operators.SnapshotTable.convertInPlace(spark, s"$work/plain_convert", "d")
        .toLong
    }
    time("x45c_first_read") {
      operators.SnapshotTable.read(spark, s"$work/plain_convert")
        .agg(max(col("value"))).collect(); 1L
    }
    // r17: the convert footer harvest runs as a SPARK JOB — a 256-file
    // directory must convert at executor parallelism (the r16 weak was
    // a 256-step serial driver sweep; at object-store latency that is
    // the difference between seconds and hours at 100 TB file counts)
    time("x45c_stage_256files") {
      spark.read.parquet(s"$work/events.parquet")
        .selectExpr("event_id", "value", "CAST(value * 1000 AS BIGINT) div 86400 AS d")
        .repartition(256)
        .write.mode("overwrite").parquet(s"$work/plain_convert256")
      1L
    }
    time("x45c_convert_256files") {
      operators.SnapshotTable.convertInPlace(spark, s"$work/plain_convert256", "d")
        .toLong
    }
    // r17: ARRAY columns through the DSv2 connector (x47) — the CTAS
    // write and the element-access scan must price with data volume
    // like any primitive column (the decode is positional, zero
    // per-row name lookups)
    time("x47_array_dsv2_write") {
      spark.read.parquet(s"$work/embeddings.parquet")
        .write.format("graft-snapshot").mode("append").save(s"$work/snap_arr")
      1L
    }
    time("x47_array_dsv2_scan") {
      spark.read.format("graft-snapshot").load(s"$work/snap_arr")
        .selectExpr("vec_id", "aggregate(embedding, 0D, (a, x) -> a + x) AS s")
        .agg(max(col("s"))).collect(); 1L
    }
    // r17: add-column EVOLUTION over a nested-typed table — the
    // evolved scan null-fills the added column per file (the same
    // price primitive evolution pays) and must stay
    // data-proportional, not blow up against the pre-evolution scan
    time("x47e_arr_scan_preevolve_ref") {
      spark.read.format("graft-snapshot").load(s"$work/snap_arr")
        .selectExpr("vec_id", "try_element_at(embedding, 1) AS e1")
        .agg(max(col("e1"))).collect(); 1L
    }
    time("x47e_arr_add_column") {
      val ST = operators.SnapshotTable
      val root = s"$work/snap_arr"
      val v = ST.currentVersion(root)
      val cur = spark.read.format("graft-snapshot").load(root).schema
      ST.commitEntries(root, v, ST.manifestEntries(root, v), 16,
        ST.carriedMeta(root, v) +
          ("schema" -> "evolved:+note") +
          ("schemaJson" -> cur.add("note",
            org.apache.spark.sql.types.StringType, nullable = true).json))
        .toLong
    }
    time("x47e_arr_scan_evolved") {
      spark.read.format("graft-snapshot").load(s"$work/snap_arr")
        .selectExpr("vec_id", "try_element_at(embedding, 1) AS e1", "note")
        .agg(max(col("e1")), max(col("note"))).collect(); 1L
    }
    // r19: DEEP (depth-2) nested column mapping — the ALTERs stay
    // metadata-only at any depth (one manifest write by construction);
    // the scale question is whether the RECURSIVE struct-rebuild
    // projection and the deeper toLogicalFull/toPhysical round trip
    // price any differently from the one-level r16 probe. Twin
    // tables, identical depth-2 struct data; one deep-renamed +
    // deep-field-dropped.
    lazy val x44dev = spark.read.parquet(s"$work/events.parquet")
      .selectExpr("event_id", "CAST(value * 1000 AS BIGINT) AS sec", "value")
      .withColumn("d", expr("sec div 86400"))
      .selectExpr("event_id", "d",
        "named_struct('b', named_struct('tag', CAST(event_id % 7 AS STRING), 'value', value), 'e', value * 2) AS props",
        "CAST(0.0 AS DOUBLE) AS flag")
    time("x44d_stage_pair") {
      val ST = operators.SnapshotTable
      Seq(s"$work/snap_dcm", s"$work/snap_dcm_plain").foreach { root =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
        ST.commitEntries(root, 0,
          ST.writeDataFiles(x44dev.repartitionByRange(4, col("d")), root, "seed")
            .map(ST.footerEntry(root, _, "d")),
          16, Map("statsCol" -> "d"))
      }
      ST.renameColumn(spark, s"$work/snap_dcm", "props.b.value", "amount")
      ST.dropColumn(spark, s"$work/snap_dcm", "props.b.tag")
      1L
    }
    time("x44d_scan_plain_ref") {
      operators.SnapshotTable.read(spark, s"$work/snap_dcm_plain")
        .agg(sum(col("props.b.value"))).collect(); 1L
    }
    time("x44d_scan_mapped") {
      operators.SnapshotTable.read(spark, s"$work/snap_dcm")
        .agg(sum(col("props.b.amount"))).collect(); 1L
    }
    time("x44d_update_plain_ref") {
      operators.SnapshotTable.update(spark, s"$work/snap_dcm_plain",
        Seq("flag" -> "flag + 1.0"), "props.b.value > 15.0 AND d = 19720")
      1L
    }
    time("x44d_update_mapped") {
      operators.SnapshotTable.update(spark, s"$work/snap_dcm",
        Seq("flag" -> "flag + 1.0"), "props.b.amount > 15.0 AND d = 19720")
      1L
    }
    // r19: MAP columns through the DSv2 connector (x48) — the CTAS
    // write and the key-lookup scan must price with data volume like
    // any primitive (positional decode; variable-length key_value
    // groups, 1-or-2 entries per row here)
    time("x48_map_dsv2_write") {
      spark.read.parquet(s"$work/events.parquet")
        .selectExpr("event_id",
          "CASE WHEN value > 100.0 THEN map('v', value, 'big', value - 100.0) " +
            "ELSE map('v', value) END AS props")
        .write.format("graft-snapshot").mode("append").save(s"$work/snap_map")
      1L
    }
    time("x48_map_dsv2_scan") {
      spark.read.format("graft-snapshot").load(s"$work/snap_map")
        .selectExpr("try_element_at(props, 'v') AS v",
          "try_element_at(props, 'big') AS b")
        .agg(max(col("v")), max(col("b"))).collect(); 1L
    }
    // r14: scoped OPTIMIZE — the WHERE-window compaction must price
    // with the WINDOW's bytes, not the table's (the full form is the
    // reference; at 32× the gap is the whole point of the verb)
    time("x16_optimize_full_ref") {
      val ST = operators.SnapshotTable
      val root = s"$work/snap_optf"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      ST.commitEntries(root, 0, ST.stageDayClustered(spark, work, root),
        shardSize = 3, Map("statsCol" -> "ep_day"))
      val v = ST.optimizeClustered(spark, root, "ep_day", targetFiles = 7)
      ST.manifestEntries(root, v).size.toLong
    }
    time("x16_optimize_scoped") {
      val ST = operators.SnapshotTable
      val root = s"$work/snap_optw"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      ST.commitEntries(root, 0, ST.stageDayClustered(spark, work, root),
        shardSize = 3, Map("statsCol" -> "ep_day"))
      val v = ST.optimizeClusteredWhere(spark, root, "ep_day",
        19723L, 19732L, targetFiles = 2) // window intersects 3 of the 7 day files
      println(s"[scale] x16 scoped audit: ${ST.manifestMeta(root, v)("optimize")}")
      ST.manifestEntries(root, v).size.toLong
    }
    // r14 (VERDICT #10): graph ANN — the NN-descent build must scale
    // with V·K² (bounded-degree edge self-joins), not corpus², and
    // the query answering with seeds×K
    time("s10_knn_graph")(operators.Similarity.s10KnnGraph(spark, work).count())
    // r14 (VERDICT #5): the WIDE-SPREAD under-cap DV delete — every
    // day file loses a sliver, so the sidecar write is the cost. The
    // r13 shape funneled all ordinals through coalesce(1); now it
    // fans out across min(hitFiles, parallelism) tasks and the wall
    // must stay flat as replicas grow the per-file ordinal volume.
    time("x36_dv_spread_delete") {
      val ST = operators.SnapshotTable
      val root = s"$work/snap_dv_spread"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      ST.commitEntries(root, 0, ST.stageDayClustered(spark, work, root),
        shardSize = 3, Map("statsCol" -> "ep_day"))
      ST.enableDeletionVectors(root)
      val hits = ST.read(spark, root).filter(expr("event_id % 53 = 7")).count()
      val v = ST.delete(spark, root, "event_id % 53 = 7") // ~1.9% of EVERY file
      val audit = ST.manifestMeta(root, v)("delete")
      println(s"[scale] x36 spread audit: $audit (hits=$hits, dv entries: " +
        s"${ST.dvState(root, v).size})")
      // above the STATEMENT-GLOBAL ordinal budget the fallback to
      // copy-on-write is the designed behavior, not a probe failure —
      // assert whichever shape the budget predicts (r14 review)
      if (hits <= ST.DvMaxTotalOrdinals)
        assert(audit.startsWith("dv:"), s"spread delete fell back under budget: $audit")
      else
        assert(audit.startsWith("cow:"), s"over-budget spread must fall back: $audit")
      1L
    }
    // r19: version resolution on a DEEP commit history — the pointer-
    // anchored probe vs the listing fallback (the pre-r19 cost). The
    // fixture synthesizes the manifests directly (the resolution code
    // only reads files; committing 100k real versions would measure the
    // writer, not the resolver). Also times the binary-searched
    // TIMESTAMP AS OF against the same history.
    time("version_resolution_100k") {
      val ST = operators.SnapshotTable
      val n = 100000
      val root = s"$work/vres"
      val mdir = java.nio.file.Paths.get(root, "_manifests")
      java.nio.file.Files.createDirectories(mdir)
      (1 to n).foreach { v =>
        java.nio.file.Files.write(mdir.resolve(f"v$v%05d.txt"),
          s"#cts\t${1000000L + v}\nf$v.parquet\t0\t0\t1".getBytes)
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(root, "_latest"),
        n.toString.getBytes)
      def bench(tag: String, reps: Int)(f: => Unit): Unit = {
        val t0 = System.nanoTime(); (1 to reps).foreach(_ => f)
        println(f"[scale] vres $tag: ${(System.nanoTime() - t0) / 1e6 / reps}%.2f ms/op")
      }
      bench("pointer-anchored currentVersion", 200) {
        assert(ST.currentVersion(root) == n)
      }
      bench("TIMESTAMP-AS-OF binary search (oldest instant)", 200) {
        assert(ST.versionAtOrBefore(root, 1000001L).contains(1))
      }
      val latest = java.nio.file.Paths.get(root, "_latest")
      java.nio.file.Files.delete(latest) // forces the full-listing fallback
      bench("listing fallback (pre-r19 cost)", 5) {
        assert(ST.currentVersion(root) == n)
      }
      n.toLong
    }
    spark.stop()
  }
}
