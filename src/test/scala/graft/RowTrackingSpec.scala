package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** x41's contract: ROW TRACKING — every row a stable numeric identity.
  * Fresh files derive ids from a commit-time per-file base (zero
  * per-row write cost); deletion-vector DML preserves ordinals so ids
  * survive for free; copy-on-write rewrites (UPDATE/DELETE/MERGE/
  * OPTIMIZE) materialize carried ids into a hidden __row_id column the
  * colmap mechanism keeps out of plain reads; the high-water mark only
  * grows, so an id is never reused. */
class RowTrackingSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  val ST = graft.operators.SnapshotTable
  val Engine = graft.operators.Engine

  private def fresh(name: String, n: Long = 40L, files: Int = 2): String = {
    val root = Engine.tmpDir(s"graft_rt_$name")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    ST.commitEntries(root, 0,
      ST.writeDataFiles((1L to n).map(k => (k, k * 1.0)).toDF("k", "v")
        .repartitionByRange(files, col("k")), root, "a")
        .map(ST.footerEntry(root, _, "k")),
      16, Map("statsCol" -> "k"))
    ST.enableRowTracking(spark, root)
    root
  }

  private def ids(root: String): Map[Long, Long] =
    ST.readWithRowIds(spark, root).select("k", "_row_id")
      .as[(Long, Long)].collect().toMap

  test("enable: metadata-only, identity colmap minted, feature-stamped, ids dense and unique") {
    val root = fresh("enable")
    val v = ST.currentVersion(root)
    val meta = ST.manifestMeta(root, v)
    assert(meta("rowtracking") == "on" && meta("rowhw").toLong == 40L)
    assert(meta.contains("colmap"), "enable must mint the hiding mapping")
    assert(meta("writerFeatures").split(',').contains("rowtracking"))
    assert(ST.enableRowTracking(spark, root) == v, "re-enable must be a no-op")
    val m = ids(root)
    assert(m.size == 40 && m.values.toSet.size == 40, "ids must be unique")
    assert(m.values.min == 0 && m.values.max == 39, "bases cover [0, rows)")
    // plain reads never see the machinery
    assert(ST.read(spark, root).columns.toSeq == Seq("k", "v"))
    // appends get fresh ranges above the mark; resident ids unchanged
    val before = ids(root)
    graft.streaming.SnapshotSink.appendBatch(root,
      Seq((100L, 1.0), (101L, 2.0)).toDF("k", "v"), batchId = 0L, keyCol = "k")
    val after = ids(root)
    assert(before.forall { case (k, id) => after(k) == id }, "append moved ids")
    assert(Seq(100L, 101L).map(after).forall(_ >= 40L), "fresh ids below the mark")
  }

  test("files sharing a base name in sibling directories get distinct ids") {
    val root = DvSpec.siblingParts("rt_sib")
    ST.enableRowTracking(spark, root)
    val rows = ST.readWithRowIds(spark, root).select("k", "_row_id")
      .as[(Long, Long)].collect()
    assert(rows.length == 200, s"${rows.length} rows for 200")
    assert(rows.map(_._1).toSet == (0L until 200L).toSet)
    assert(rows.map(_._2).distinct.length == 200, "row ids collide across the two files")
  }

  test("DELETE preserves ids on both paths: DV (ordinals) and CoW (materialized)") {
    val root = fresh("del")
    ST.enableDeletionVectors(root)
    val before = ids(root)
    // sparse delete → DV sidecar, zero data movement, ids by ordinal
    ST.delete(spark, root, "k = 7")
    val m1 = ids(root)
    assert(!m1.contains(7L) && m1.size == 39)
    assert(m1.forall { case (k, id) => before(k) == id }, "DV delete moved ids")
    // wide delete → CoW rewrite; survivors' ids materialize
    ST.delete(spark, root, "k <= 20")
    val meta = ST.manifestMeta(root, ST.currentVersion(root))
    assert(meta("delete").startsWith("cow:"), meta.get("delete").toString)
    val m2 = ids(root)
    assert(m2.keySet == (21L to 40L).toSet)
    assert(m2.forall { case (k, id) => before(k) == id }, "CoW delete moved ids")
  }

  test("UPDATE keeps every id on both paths: sparse stays merge-on-read, wide falls back to CoW (r15)") {
    val root = fresh("upd")
    ST.enableDeletionVectors(root)
    val before = ids(root)
    // sparse: 1 of 20 rows in one file (5% ≤ DV cap) → DV-for-update;
    // the preimage ordinal goes in the sidecar, the postimage file
    // carries the row's id MATERIALIZED — no CoW fallback (r14 forced
    // tracked updates onto copy-on-write; the verdict asked for this)
    ST.update(spark, root, Seq("v" -> "v + 100.0"), "k = 10")
    val meta1 = ST.manifestMeta(root, ST.currentVersion(root))
    assert(meta1("update").startsWith("mor:"),
      s"sparse tracked UPDATE must stay merge-on-read, got ${meta1.get("update")}")
    val mat1 = ST.rowMatOf(meta1)
    assert(mat1.nonEmpty && mat1.forall(rel => ST.footerHasColumn(root, rel, "__row_id")),
      s"postimage must be manifest-tagged and physically materialized: $mat1")
    val m1 = ids(root)
    assert(m1 == before, "sparse MoR update moved ids")
    // a second sparse MoR update against the now-mixed layout (the DV'd
    // original beside the materialized postimage) also threads ids
    ST.update(spark, root, Seq("v" -> "v + 1.0"), "k = 15")
    val meta2 = ST.manifestMeta(root, ST.currentVersion(root))
    assert(meta2("update").startsWith("mor:"), meta2.get("update").toString)
    assert(ids(root) == before, "second sparse update moved ids")
    // wide: 20% per file → over the DV cap → CoW rewrite; it reads the
    // mixed materialized+positional+DV layout and every id survives,
    // including the materialized postimage rows it re-inherits
    ST.update(spark, root, Seq("v" -> "v + 1000.0"), "k % 5 = 0")
    val meta3 = ST.manifestMeta(root, ST.currentVersion(root))
    assert(meta3("update").startsWith("cow:"), meta3.get("update").toString)
    val rows = ST.readWithRowIds(spark, root).select("k", "v", "_row_id")
      .as[(Long, Double, Long)].collect()
    assert(rows.length == 40)
    rows.foreach { case (k, v, id) =>
      assert(id == before(k), s"row $k changed id")
      val want = k * 1.0 + (if (k == 10) 100.0 else 0.0) +
        (if (k == 15) 1.0 else 0.0) + (if (k % 5 == 0) 1000.0 else 0.0)
      assert(v == want, s"row $k value $v want $want")
    }
  }

  test("MERGE: updates inherit the replaced row's id, inserts mint fresh, deletes retire") {
    val root = fresh("merge")
    val before = ids(root)
    val hw = ST.manifestMeta(root, ST.currentVersion(root))("rowhw").toLong
    val changes = Seq(
      (5L, 555.0, "u"), (6L, 666.0, "u"), (41L, 41.0, "i"), (10L, 0.0, "d"))
      .toDF("k", "v", "op")
    ST.merge(spark, root, clusterCol = "k", idCol = "k", changes = changes)
    val m = ids(root)
    assert(m.size == 40) // 40 - 1 delete + 1 insert
    assert(m(5L) == before(5L) && m(6L) == before(6L), "update must keep the id")
    assert(!m.contains(10L))
    assert(m(41L) >= hw, s"insert id ${m(41L)} below the old mark $hw")
    (1L to 40L).filterNot(k => Seq(5L, 6L, 10L, 41L).contains(k)).foreach(k =>
      assert(m(k) == before(k), s"untouched row $k moved"))
    val vals = ST.read(spark, root).filter("k in (5, 6, 41)")
      .select("k", "v").as[(Long, Double)].collect().toMap
    assert(vals == Map(5L -> 555.0, 6L -> 666.0, 41L -> 41.0), vals.toString)
    // a changeset smuggling its own __row_id refuses — the engine owns ids
    val e = intercept[Exception](ST.merge(spark, root, clusterCol = "k",
      idCol = "k", changes = Seq((50L, 1.0, 7L, "i"))
        .toDF("k", "v", "__row_id", "op")))
    assert(e.getMessage.contains("assigned by the engine"), e.getMessage)
  }

  test("OPTIMIZE (full and scoped) compacts without re-identifying a single row") {
    val root = fresh("opt", n = 60L, files = 6)
    ST.delete(spark, root, "k = 30") // mix a materialized file in
    val before = ids(root)
    ST.optimizeClusteredWhere(spark, root, "k", 1L, 20L, targetFiles = 1)
    val m1 = ids(root)
    assert(m1 == before, "scoped optimize re-identified rows")
    ST.optimizeClustered(spark, root, "k", targetFiles = 2)
    val m2 = ids(root)
    assert(m2 == before, "full optimize re-identified rows")
    // the materialized table still hides the machinery and keeps stats
    assert(ST.read(spark, root).columns.toSeq == Seq("k", "v"))
    assert(ST.manifestMeta(root, ST.currentVersion(root)).contains("colmap"),
      "the hiding mapping must survive materialization")
    // and a post-optimize append still mints fresh, non-colliding ids
    graft.streaming.SnapshotSink.appendBatch(root,
      Seq((200L, 1.0)).toDF("k", "v"), batchId = 0L, keyCol = "k")
    val m3 = ids(root)
    assert(m3(200L) > m2.values.max, "fresh id collided after optimize")
  }

  test("interop: widen + row-CDF + generated columns compose with tracking") {
    val root = fresh("interop")
    ST.setTableFlags(root, Map("cdf" -> "row"))
    ST.setGeneratedColumn(spark, root, "v", "CAST(k AS DOUBLE)")
    val before = ids(root)
    // an UPDATE under ALL the machinery at once: gen recompute (k is
    // not SET so v re-derives to itself), row-grain CDC images, id
    // materialization — ids stable, values right, feed readable
    ST.update(spark, root, Seq("k" -> "k + 1000"), "k = 39")
    // wait: k is the stats/cluster col — SET on it is allowed for
    // UPDATE (only merge refuses); the row re-derives v = k + 1000
    val rows = ST.readWithRowIds(spark, root).select("k", "v", "_row_id")
      .as[(Long, Double, Long)].collect().map { case (k, v, id) => (k, (v, id)) }.toMap
    assert(rows.contains(1039L) && rows(1039L)._1 == 1039.0)
    assert(rows(1039L)._2 == before(39L), "updated row changed id")
    before.filterNot(_._1 == 39L).foreach { case (k, id) =>
      assert(rows(k)._2 == id, s"row $k moved") }
    // the row-grain feed still reads (the CDC files carry __row_id
    // inertly; the feed projects its own columns)
    val feed = spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true").option("afterVersion",
        (ST.currentVersion(root) - 1).toString).load(root)
    val types = feed.select("_change_type").as[String].collect().sorted
    assert(types.toSeq == Seq("update_postimage", "update_preimage"), types.toSeq)
    // widen the value column: mixed widths + mixed id layouts read
    ST.widenColumn(spark, root, "k", org.apache.spark.sql.types.LongType) // no-op (already long)
    val m2 = ids(root)
    assert(m2.values.toSet.size == m2.size)
  }

  test("racing appends assign disjoint fresh ranges (CAS serializes the mark)") {
    import graft.sources.{SnapshotCommit, SnapshotFileCommit}
    val root = fresh("race")
    val hw0 = ST.manifestMeta(root, ST.currentVersion(root))("rowhw").toLong
    // two independent writers stage files, then race their commits —
    // the CAS loser re-reads the winner's high-water mark, so the two
    // fresh ranges cannot overlap
    val relA = ST.writeDataFiles(Seq((201L, 1.0)).toDF("k", "v").coalesce(1), root, "ra").head
    val relB = ST.writeDataFiles(Seq((202L, 2.0), (203L, 3.0)).toDF("k", "v")
      .coalesce(1), root, "rb").head
    val t1 = new Thread(() => SnapshotCommit.append(root, Array(SnapshotFileCommit(relA)), Map.empty))
    val t2 = new Thread(() => SnapshotCommit.append(root, Array(SnapshotFileCommit(relB)), Map.empty))
    t1.start(); t2.start(); t1.join(); t2.join()
    val m = ids(root)
    assert(m.size == 43 && m.values.toSet.size == 43, "id collision under race")
    assert(Seq(201L, 202L, 203L).map(m).forall(_ >= hw0))
    assert(ST.manifestMeta(root, ST.currentVersion(root))("rowhw").toLong == hw0 + 3)
  }

  test("materialization is manifest-recorded, and mixed WIDTHS across materialized files read (r14 review)") {
    val root = fresh("widths", n = 40L, files = 2)
    // make the value column int so it can widen
    val root2 = Engine.tmpDir("graft_rt_widths2")
    Engine.listDir(Paths.get(root2)).foreach(Engine.deleteRecursively)
    ST.commitEntries(root2, 0,
      ST.writeDataFiles((1L to 40L).map(k => (k, (k * 10).toInt)).toDF("k", "q")
        .withColumn("q", col("q").cast("int"))
        .repartitionByRange(2, col("k")), root2, "a")
        .map(ST.footerEntry(root2, _, "k")),
      16, Map("statsCol" -> "k"))
    ST.enableRowTracking(spark, root2)
    val before = ST.readWithRowIds(spark, root2).select("k", "_row_id")
      .as[(Long, Long)].collect().toMap
    // materialize file 1 at INT width
    ST.update(spark, root2, Seq("q" -> "q + 1"), "k = 3")
    val meta1 = ST.manifestMeta(root2, ST.currentVersion(root2))
    val mat1 = ST.rowMatOf(meta1)
    assert(mat1.nonEmpty, "CoW rewrite must record its materialized rels")
    // the manifest bit agrees with the physical truth (no footer sweep
    // at read time, but the bit must be TRUE)
    mat1.foreach(rel => assert(ST.footerHasColumn(root2, rel, "__row_id"), rel))
    ST.manifestEntries(root2, ST.currentVersion(root2)).map(_.rel)
      .filterNot(mat1).foreach(rel =>
        assert(!ST.footerHasColumn(root2, rel, "__row_id"), s"$rel wrongly tagged"))
    // widen, then materialize ANOTHER file at LONG width: the id read
    // spans int32- and int64-width materialized files plus positional
    // ones — footer inference would refuse the merge; the explicit
    // schema upcasts in-slot
    ST.widenColumn(spark, root2, "q", org.apache.spark.sql.types.LongType)
    ST.update(spark, root2, Seq("q" -> "q + 6000000000"), "k = 25")
    val rows = ST.readWithRowIds(spark, root2).select("k", "q", "_row_id")
      .as[(Long, Long, Long)].collect()
    assert(rows.length == 40)
    rows.foreach { case (k, q, id) =>
      assert(id == before(k), s"row $k moved")
      val want = if (k == 3) 31L else if (k == 25) 250L + 6000000000L else k * 10
      assert(q == want, s"row $k q=$q want $want")
    }
  }

  test("metadata-added columns survive the id read and a second RT optimize (r14 review)") {
    val w = Files.createTempDirectory("graft_rt_addcol").toString
    spark.conf.set("spark.sql.catalog.grt", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grt.root", w)
    spark.sql("DROP TABLE IF EXISTS grt.t")
    (1L to 20L).map(k => (k, k * 1.0)).toDF("k", "v")
      .createOrReplaceTempView("rt_addcol_seed")
    spark.sql("CREATE TABLE grt.t AS SELECT * FROM rt_addcol_seed")
    val root = Paths.get(w, "t").toString
    ST.enableRowTracking(spark, root)
    val before = ids(root)
    ST.optimizeClustered(spark, root, "k", targetFiles = 2) // ALL files materialized
    spark.sql("ALTER TABLE grt.t ADD COLUMN tag STRING")
    // the id read must surface the metadata-added column (null-filled),
    // not silently drop it
    val withTag = ST.readWithRowIds(spark, root)
    assert(withTag.columns.contains("tag"), withTag.columns.mkString(","))
    assert(withTag.filter(col("tag").isNull).count() == 20)
    assert(withTag.select("k", "_row_id").as[(Long, Long)].collect().toMap == before)
    // a second RT optimize must MATERIALIZE the column, not delete it
    ST.optimizeClustered(spark, root, "k", targetFiles = 1)
    assert(ST.read(spark, root).columns.contains("tag"))
    assert(ids(root) == before, "second optimize re-identified rows")
  }

  test("restore past the enable commit keeps identities and the hiding mapping (r14 review)") {
    val root = fresh("preenable") // v1 seed, v2 enable
    val before = ids(root)
    // v3: rewrite one seed file away (its base now lives only in
    // intermediate manifests)
    ST.update(spark, root, Seq("v" -> "v + 1.0"), "k = 2")
    // restore to v1 — BEFORE enable: bases dug from v2/v3 manifests,
    // the hiding colmap re-minted, the flag stays on
    ST.restore(root, 1)
    val meta = ST.manifestMeta(root, ST.currentVersion(root))
    assert(meta("rowtracking") == "on" && meta.contains("colmap"),
      "restore past enable must keep the flag AND re-mint the mapping")
    val m = ids(root)
    assert(m == before, s"restore re-identified rows")
    // plain read shape intact (all data columns, no machinery)
    assert(ST.read(spark, root).columns.toSeq == Seq("k", "v"))
    // and the table still takes tracked DML after the round trip
    ST.update(spark, root, Seq("v" -> "v + 5.0"), "k = 1")
    assert(ids(root) == before)
  }

  test("DSv2 route parity: rowIds option and catalog metadata column ≡ readWithRowIds") {
    val root = fresh("dsv2", n = 40L, files = 2)
    ST.enableDeletionVectors(root)
    val vEnabled = ST.currentVersion(root)
    // build the adversarial mixed layout: a live DV on one positional
    // file, a materialized rewrite of another, a fresh positional append
    ST.delete(spark, root, "k = 25") // sparse → DV sidecar on file 2
    ST.update(spark, root, Seq("v" -> "v + 100.0"), "k <= 10") // rewrite of file 1
    graft.streaming.SnapshotSink.appendBatch(root,
      Seq((100L, 1.0)).toDF("k", "v"), batchId = 0L, keyCol = "k")
    assert(ST.rowMatOf(ST.manifestMeta(root, ST.currentVersion(root))).nonEmpty,
      "fixture must include a materialized file")
    assert(ST.dvState(root, ST.currentVersion(root)).nonEmpty,
      "fixture must include a live deletion vector")
    val expect = ST.readWithRowIds(spark, root).select("k", "v", "_row_id")
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    // path route: .option("rowIds", "true")
    val viaOpt = spark.read.format("graft-snapshot").option("rowIds", "true")
      .load(root).select("k", "v", "_row_id")
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(viaOpt == expect, "option route diverged from readWithRowIds")
    // id-only projection (zero scannable columns on positional files)
    val onlyIds = spark.read.format("graft-snapshot").option("rowIds", "true")
      .load(root).select("_row_id").as[Long].collect().sorted.toSeq
    assert(onlyIds == expect.map(_._3).sorted, "id-only projection diverged")
    // filters compose (residual above the scan, ids ride through)
    val filtered = spark.read.format("graft-snapshot").option("rowIds", "true")
      .load(root).filter("k <= 10").select("k", "_row_id")
      .as[(Long, Long)].collect().toMap
    assert(filtered == expect.filter(_._1 <= 10L).map(t => (t._1, t._3)).toMap)
    // time travel: ids as of the enable version
    val expectAt = ST.readWithRowIdsAt(spark, root, vEnabled)
      .select("k", "_row_id").as[(Long, Long)].collect().sortBy(_._1).toSeq
    val viaOptAt = spark.read.format("graft-snapshot").option("rowIds", "true")
      .option("version", vEnabled.toString).load(root)
      .select("k", "_row_id").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(viaOptAt == expectAt, "time-travel option route diverged")
    // catalog route: _row_id is a METADATA column — SQL reads it by name
    val w = java.nio.file.Files.createTempDirectory("graft_rt_dsv2cat").toString
    spark.conf.set("spark.sql.catalog.grtid", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grtid.root", w)
    spark.sql("DROP TABLE IF EXISTS grtid.t")
    ST.shallowClone(root, Paths.get(w, "t").toString)
    val viaSql = spark.sql("SELECT k, _row_id FROM grtid.t")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(viaSql == expect.map(t => (t._1, t._3)), "catalog metadata route diverged")
    // SELECT * must NOT leak the metadata column (hidden until named)
    assert(spark.sql("SELECT * FROM grtid.t").columns.toSeq == Seq("k", "v"))
    // refusals: untracked table, CDF combination, streaming
    val plain = fresh("dsv2_plain")
    val untracked = Engine.tmpDir("graft_rt_untracked")
    Engine.listDir(Paths.get(untracked)).foreach(Engine.deleteRecursively)
    ST.commitEntries(untracked, 0,
      ST.writeDataFiles(Seq((1L, 1.0)).toDF("k", "v").coalesce(1), untracked, "a")
        .map(ST.footerEntry(untracked, _, "k")), 16, Map("statsCol" -> "k"))
    val e1 = intercept[Exception](spark.read.format("graft-snapshot")
      .option("rowIds", "true").load(untracked).collect())
    assert(e1.getMessage.contains("row tracking is not enabled"), e1.getMessage)
    val e2 = intercept[Exception](spark.read.format("graft-snapshot")
      .option("rowIds", "true").option("readChangeFeed", "true").load(plain).collect())
    assert(e2.getMessage.toLowerCase.contains("mutually exclusive") ||
      e2.getMessage.contains("collide"), e2.getMessage)
    val e3 = intercept[Exception] {
      val q = spark.readStream.format("graft-snapshot").option("rowIds", "true")
        .load(plain).writeStream.format("memory").queryName("rt_dsv2_stream").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(e3.getMessage.contains("batch read option") ||
      Option(e3.getCause).exists(_.getMessage.contains("batch read option")),
      e3.toString)
  }

  test("clone and restore carry identities; reserved name refused") {
    val root = fresh("clone_src")
    val before = ids(root)
    val dst = Engine.tmpDir("graft_rt_clone_dst")
    Engine.listDir(Paths.get(dst)).foreach(Engine.deleteRecursively)
    ST.shallowClone(root, dst)
    assert(ids(dst) == before, "clone changed identities")
    // restore past a delete brings rows back under their OLD ids
    val vKeep = ST.currentVersion(root)
    ST.delete(spark, root, "k <= 10")
    ST.restore(root, vKeep)
    assert(ids(root) == before, "restore changed identities")
    val e = intercept[Exception](ST.renameColumn(spark, root, "v", "__row_id"))
    assert(e.getMessage.contains("reserved"), e.getMessage)
  }

  test("_row_id is reserved on every surface: no data column can shadow the id read") {
    import spark.implicits._
    // ALTER surface (validateIdent): rename-to refused, tracked or not
    val root = fresh("rsv")
    val e1 = intercept[Exception](ST.renameColumn(spark, root, "v", "_row_id"))
    assert(e1.getMessage.contains("reserved"), e1.getMessage)
    // DSv2 write seam: a batch carrying _row_id refuses on a PLAIN
    // (untracked) table too — committing it would brick every DSv2
    // read of that table ("row tracking is not enabled")
    val plain = Engine.tmpDir("graft_rsv_plain")
    Engine.listDir(Paths.get(plain)).foreach(Engine.deleteRecursively)
    val e2 = intercept[Exception](Seq((1L, 2L)).toDF("k", "_row_id")
      .write.format("graft-snapshot").mode("append").save(plain))
    assert(e2.getMessage.contains("reserved") ||
      Option(e2.getCause).exists(_.getMessage.contains("reserved")), e2.toString)
    // streaming sink seam
    val e3 = intercept[Exception](graft.streaming.SnapshotSink.appendBatch(root,
      Seq((1L, 1.0, 9L)).toDF("k", "v", "__row_id"), batchId = 99L, keyCol = "k"))
    assert(e3.getMessage.contains("reserved") ||
      Option(e3.getCause).exists(_.getMessage.contains("reserved")), e3.toString)
  }
}
