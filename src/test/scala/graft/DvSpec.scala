package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deletion vectors (merge-on-read deletes, Delta's design): on a
  * `dvmode=on` table a sparse DELETE commits tiny per-file ordinal
  * sidecars instead of rewriting; scans anti-filter through them on
  * every route; rewrites apply and retire them; OPTIMIZE compacts them
  * away; vacuum reclaims superseded sidecars with their manifests. */
class DvSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  val ST = graft.operators.SnapshotTable
  val Engine = graft.operators.Engine

  /** Two range-clustered files of 20 rows each, dvmode on. */
  private def fresh(name: String): String = {
    val root = Engine.tmpDir(s"graft_dv_$name")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    val rels = ST.writeDataFiles((1L to 40L).map(k => (k, k * 1.0))
      .toDF("k", "v").repartitionByRange(2, col("k")), root, "a")
      .map(ST.footerEntry(root, _, "k"))
    ST.commitEntries(root, 0, rels, 16, Map("statsCol" -> "k"))
    ST.enableDeletionVectors(root)
    root
  }

  private def fileBytes(root: String): Map[String, Long] =
    ST.manifestEntries(root, ST.currentVersion(root))
      .map(e => e.rel -> Files.size(Paths.get(root, e.rel))).toMap

  test("a sparse DELETE commits sidecars, moves no data bytes; DV ≡ CoW ≡ filter") {
    val root = fresh("basic")
    val entriesBefore = ST.manifestEntries(root, ST.currentVersion(root)).map(_.rel).toSet
    val bytesBefore = fileBytes(root)
    // the CoW twin on an identical table WITHOUT dvmode
    val cow = Engine.tmpDir("graft_dv_cow")
    Engine.listDir(Paths.get(cow)).foreach(Engine.deleteRecursively)
    val cowRels = ST.writeDataFiles((1L to 40L).map(k => (k, k * 1.0))
      .toDF("k", "v").repartitionByRange(2, col("k")), cow, "a")
      .map(ST.footerEntry(cow, _, "k"))
    ST.commitEntries(cow, 0, cowRels, 16, Map("statsCol" -> "k"))
    spark.sql(s"DELETE FROM '$root' WHERE k IN (3, 25)").collect()
    spark.sql(s"DELETE FROM '$cow' WHERE k IN (3, 25)").collect()
    val v = ST.currentVersion(root)
    // merge-on-read: SAME file list, SAME bytes, a dv audit + sidecars
    assert(ST.manifestEntries(root, v).map(_.rel).toSet == entriesBefore,
      "DV delete changed the data file list")
    assert(fileBytes(root) == bytesBefore, "DV delete rewrote data bytes")
    assert(ST.manifestMeta(root, v)("delete") == "dv:2of2",
      ST.manifestMeta(root, v).toString)
    assert(ST.dvState(root, v).size == 2)
    // the CoW twin REWROTE files
    assert(ST.manifestMeta(cow, 2)("delete").startsWith("cow:"),
      ST.manifestMeta(cow, 2).toString)
    // all three answers agree: DV scan ≡ CoW scan ≡ negated filter
    val expect = (1L to 40L).filterNot(k => k == 3 || k == 25).map(k => k -> k * 1.0).toMap
    def content(r: String) = ST.read(spark, r).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(content(root) == expect, "Scala-route DV scan wrong")
    assert(content(cow) == expect)
    val dsv2 = spark.read.format("graft-snapshot").load(root)
    assert(dsv2.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap == expect,
      "DSv2-route DV scan wrong")
    // count(*) must NOT take the manifest fast path (it would overcount)
    assert(dsv2.count() == 38)
    // time travel BEFORE the delete still serves every row
    assert(ST.readAt(spark, root, 2).count() == 40)
    // point lookup on a DV'd key returns nothing; on a live key, the row
    assert(ST.readPointLookup(spark, root, "k", Seq(3L)).count() == 0)
    assert(ST.readPointLookup(spark, root, "k", Seq(4L)).count() == 1)
    assert(ST.readPruned(spark, root, "k", 1L, 5L).count() == 4)
  }

  test("readPrunedBox applies deletion vectors like every other read") {
    val root = fresh("box")
    spark.sql(s"DELETE FROM '$root' WHERE k IN (3, 25)").collect()
    val got = ST.readPrunedBox(spark, root, "k", Seq(("k", 1L, 5L)))
      .select("k").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 4L, 5L), s"box read resurrected DV'd rows: $got")
  }

  test("files sharing a base name in sibling directories keep their own vectors") {
    val root = DvSpec.siblingParts("dv_sib")
    ST.enableDeletionVectors(root)
    spark.sql(s"DELETE FROM '$root' WHERE k IN (3, 117)").collect()
    val v = ST.currentVersion(root)
    assert(ST.manifestMeta(root, v)("delete") == "dv:2of2",
      ST.manifestMeta(root, v).toString)
    // each sidecar lands on its own data file and names exactly the
    // ordinal of that file's deleted row (a/ holds k 0..99, b/ 100..199)
    val dv = ST.dvState(root, v)
    assert(dv.keySet == Set("a/part-0.parquet", "b/part-0.parquet"), dv.toString)
    def ordinals(rel: String) =
      spark.read.parquet(Paths.get(root, dv(rel)).toString).as[Long].collect().toSeq
    assert(ordinals("a/part-0.parquet") == Seq(3L))
    assert(ordinals("b/part-0.parquet") == Seq(17L))
    val expect = (0L until 200L).filterNot(k => k == 3L || k == 117L)
    assert(ST.read(spark, root).select("k").as[Long].collect().sorted.toSeq == expect,
      "Scala-route DV scan wrong")
    assert(spark.read.format("graft-snapshot").load(root).select("k").as[Long]
      .collect().sorted.toSeq == expect, "DSv2-route DV scan wrong")
  }

  test("a second DELETE supersedes sidecars (old ∪ new); vacuum reclaims the old") {
    val root = fresh("supersede")
    spark.sql(s"DELETE FROM '$root' WHERE k = 5").collect()
    val v1 = ST.currentVersion(root)
    val dv1 = ST.dvState(root, v1)
    spark.sql(s"DELETE FROM '$root' WHERE k = 7").collect()
    val v2 = ST.currentVersion(root)
    val dv2 = ST.dvState(root, v2)
    // both target the lo file: ONE sidecar, new name, both ordinals
    assert(dv1.size == 1 && dv2.size == 1 && dv1 != dv2)
    val (rel, side2) = dv2.head
    assert(spark.read.parquet(Paths.get(root, side2).toString).count() == 2,
      "superseding sidecar must hold old ∪ new ordinals")
    assert(ST.read(spark, root).count() == 38)
    // a delete re-matching an already-DV'd row is a version no-op
    assert(ST.delete(spark, root, "k = 5") == v2, "re-delete must no-op")
    // vacuum keeping only the current version reclaims the superseded
    // sidecar but keeps the live one
    val side1 = Paths.get(root, dv1.head._2)
    assert(Files.exists(side1))
    ST.vacuum(root, keepFrom = v2)
    assert(!Files.exists(side1), "superseded sidecar must be reclaimed")
    assert(Files.exists(Paths.get(root, side2)))
    assert(ST.read(spark, root).count() == 38)
  }

  test("over-threshold deletes fall back to copy-on-write") {
    val root = fresh("fallback")
    // half the rows is way past DvMaxSelectivity
    spark.sql(s"DELETE FROM '$root' WHERE k <= 20").collect()
    val v = ST.currentVersion(root)
    assert(ST.manifestMeta(root, v)("delete").startsWith("cow:"),
      ST.manifestMeta(root, v).toString)
    assert(ST.dvState(root, v).isEmpty)
    assert(ST.read(spark, root).count() == 20)
  }

  test("TABLE-WIDE ordinal budget: disjoint-file accumulation trips the CoW fallback (r16)") {
    val root = Engine.tmpDir("graft_dv_budget")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    val rels = ST.writeDataFiles((1L to 400L).map(k => (k, k * 1.0))
      .toDF("k", "v").repartitionByRange(4, col("k")), root, "a")
      .map(ST.footerEntry(root, _, "k"))
    ST.commitEntries(root, 0, rels, 16, Map("statsCol" -> "k"))
    ST.enableDeletionVectors(root)
    spark.conf.set("spark.graft.dv.maxTotalOrdinals", "5")
    try {
      // statement 1: 3 ordinals in one file — under every cap, MoR
      spark.sql(s"DELETE FROM '$root' WHERE k IN (1, 2, 3)").collect()
      val v1 = ST.currentVersion(root)
      assert(ST.manifestMeta(root, v1)("delete").startsWith("dv:"),
        ST.manifestMeta(root, v1).toString)
      assert(ST.dvState(root, v1).size == 1)
      // the sidecar's ordinal count rides the manifest (`dvn`), so
      // later budget checks are arithmetic, not footer sweeps
      assert(ST.dvCountsOf(ST.manifestMeta(root, v1)).values.toSeq == Seq(3L),
        ST.manifestMeta(root, v1).get("dvn").toString)
      // statement 2: 3 ordinals in a DISJOINT file — statement-local
      // it is identical to statement 1, but the table would then hold
      // 6 > 5 total ordinals: the post-statement TABLE state busts the
      // budget, so this statement must fall back to copy-on-write
      // (before r16 only the touched files' ordinals were counted and
      // disjoint statements accumulated forever)
      spark.sql(s"DELETE FROM '$root' WHERE k IN (101, 102, 103)").collect()
      val v2 = ST.currentVersion(root)
      assert(ST.manifestMeta(root, v2)("delete").startsWith("cow:"),
        s"disjoint accumulation past the budget must fall back: " +
          ST.manifestMeta(root, v2).toString)
      // the first statement's sidecar survives untouched; content exact
      assert(ST.dvState(root, v2).size == 1)
      assert(ST.read(spark, root).count() == 394)
      // raising the budget re-admits MoR for the next statement
      spark.conf.set("spark.graft.dv.maxTotalOrdinals", "4000000")
      spark.sql(s"DELETE FROM '$root' WHERE k IN (201, 202)").collect()
      val v3 = ST.currentVersion(root)
      assert(ST.manifestMeta(root, v3)("delete").startsWith("dv:"),
        ST.manifestMeta(root, v3).toString)
      assert(ST.read(spark, root).count() == 392)
    } finally spark.conf.unset("spark.graft.dv.maxTotalOrdinals")
  }

  test("CONCURRENT MoR statements on disjoint files cannot jointly bust the ordinal budget (r16 ADVICE)") {
    // the budget was checked once against the statement's base version;
    // two racing MoR deletes on DISJOINT files each passed it (neither
    // trips the DV-conflict abort) and together committed more ordinals
    // than the table-wide cap — the commit loop now RE-prices untouched
    // sidecars at vNow and the CAS loser falls back to copy-on-write
    val root = fresh("budget_race") // 2 files: k 1..20 and 21..40
    spark.conf.set("spark.graft.dv.maxTotalOrdinals", "3")
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      def del(pred: String) = Future {
        barrier.await()
        ST.delete(spark, root, pred)
      }
      try Await.result(Future.sequence(Seq(
        del("k IN (1, 2)"), del("k IN (31, 32)"))), 120.seconds)
      finally pool.shutdown()
      val v = ST.currentVersion(root)
      // both statements applied...
      val ks = ST.read(spark, root).select("k").collect().map(_.getLong(0)).toSet
      assert(!ks.contains(1L) && !ks.contains(31L), "a delete was lost")
      assert(ST.read(spark, root).count() == 36)
      // ...and the surviving sidecars respect the table-wide budget
      val total = ST.dvCountsOf(ST.manifestMeta(root, v)).values.sum
      assert(total <= 3L,
        s"racing MoR statements jointly exceeded the ordinal budget: $total > 3")
    } finally spark.conf.unset("spark.graft.dv.maxTotalOrdinals")
  }

  test("rewrites apply the DV and retire it: UPDATE (MoR and CoW), MERGE, OPTIMIZE") {
    val root = fresh("rewrite")
    spark.sql(s"DELETE FROM '$root' WHERE k = 2").collect()
    assert(ST.dvState(root, ST.currentVersion(root)).size == 1)
    // a SPARSE update takes the MERGE-ON-READ path: the preimage's
    // ordinal joins the sidecar, ONE postimage file appends, the
    // original file is untouched — and k=2 stays deleted
    val bytesBefore = fileBytes(root)
    spark.sql(s"UPDATE '$root' SET v = v * 100 WHERE k = 4").collect()
    val vU = ST.currentVersion(root)
    assert(ST.manifestMeta(root, vU)("update").startsWith("mor:"),
      ST.manifestMeta(root, vU).toString)
    assert(ST.dvState(root, vU).size == 1)
    bytesBefore.foreach { case (rel, sz) =>
      assert(Files.size(Paths.get(root, rel)) == sz, s"MoR update rewrote $rel") }
    assert(ST.manifestEntries(root, vU).size == 3, "postimage file must append")
    val got = ST.read(spark, root).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!got.contains(2L), "MoR update resurrected a DV-deleted row")
    assert(got(4L) == 400.0 && got.size == 39)
    // both scan routes agree on the MoR state
    assert(spark.read.format("graft-snapshot").load(root).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap == got)
    // an OVER-CAP update falls back to CoW and RETIRES the applied DVs
    spark.sql(s"UPDATE '$root' SET v = v + 0.5 WHERE k <= 30").collect()
    val vC = ST.currentVersion(root)
    assert(ST.manifestMeta(root, vC)("update").startsWith("cow:"),
      ST.manifestMeta(root, vC).toString)
    assert(ST.dvState(root, vC).isEmpty, "CoW rewrite must retire the applied DV")
    val got2 = ST.read(spark, root).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!got2.contains(2L), "rewrite resurrected a DV-deleted row")
    assert(got2(4L) == 400.5 && got2(1L) == 1.5 && got2(40L) == 40.0 && got2.size == 39)
    // MERGE over a DV'd file: same contract
    spark.sql(s"DELETE FROM '$root' WHERE k = 6").collect()
    assert(ST.dvState(root, ST.currentVersion(root)).size == 1)
    ST.merge(spark, root, "k", "k", Seq((8L, 888.0, "u")).toDF("k", "v", "op"))
    val vM = ST.currentVersion(root)
    assert(ST.dvState(root, vM).isEmpty)
    val gotM = ST.read(spark, root).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!gotM.contains(6L) && gotM(8L) == 888.0 && gotM.size == 38)
    // OPTIMIZE compacts remaining DVs away
    spark.sql(s"DELETE FROM '$root' WHERE k = 10").collect()
    assert(ST.dvState(root, ST.currentVersion(root)).nonEmpty)
    ST.optimizeClustered(spark, root, "k", targetFiles = 2)
    val vO = ST.currentVersion(root)
    assert(ST.dvState(root, vO).isEmpty)
    assert(ST.read(spark, root).count() == 37)
  }

  test("the change feed sees a DV delete: row-grain delete images, correct fold") {
    val root = fresh("cdf")
    spark.sql(s"DELETE FROM '$root' WHERE k IN (11, 31)").collect()
    val feed = spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true").load(root).collect()
    val vDel = ST.currentVersion(root)
    val delRows = feed.filter(r => r.getAs[Long]("_commit_version") == vDel)
    // exactly the two deleted rows, typed delete — no file-grain noise
    // (a DV commit changes no files, so without the registered CDC
    // images the feed would be blind to it)
    assert(delRows.map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("k"))).toSet ==
      Set(("delete", 11L), ("delete", 31L)), delRows.mkString(","))
    // the signed fold of the whole feed = the live content
    val net = feed.groupBy(r => r.getAs[Long]("k"))
      .view.mapValues(_.map(r =>
        if (r.getAs[String]("_change_type") == "insert") 1 else -1).sum)
      .filter(_._2 != 0).keys.toSet
    assert(net == (1L to 40L).toSet -- Set(11L, 31L))
  }

  test("re-updating a MoR-updated row: the postimage file's cap forces CoW; values exact") {
    val root = fresh("reupdate")
    spark.sql(s"UPDATE '$root' SET v = v + 100 WHERE k = 4").collect()
    val v1 = ST.currentVersion(root)
    assert(ST.manifestMeta(root, v1)("update").startsWith("mor:"))
    // the same row again: it now lives in the 1-row postimage file,
    // where 1 hit / 1 row is past the 10% cap — CoW by design
    // (rewriting a tiny postimage beats chaining vectors over it)
    spark.sql(s"UPDATE '$root' SET v = v + 1000 WHERE k = 4").collect()
    val v2 = ST.currentVersion(root)
    assert(ST.manifestMeta(root, v2)("update").startsWith("cow:"),
      ST.manifestMeta(root, v2).toString)
    val got = ST.read(spark, root).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(4L) == 1104.0 && got.size == 40, got(4L).toString)
    assert(spark.read.format("graft-snapshot").load(root)
      .filter(col("k") === 4).head().getDouble(1) == 1104.0)
  }

  test("NULL into a REQUIRED column refuses loudly; rewrites keep parquet repetition uniform") {
    // this fixture's files declare REQUIRED k,v (staged from Scala
    // literals) — parquet REQUIRED is the table's NOT NULL constraint
    val root = fresh("notnull")
    val e = intercept[Exception](
      spark.sql(s"UPDATE '$root' SET v = NULL WHERE k = 4").collect())
    assert(e.getMessage != null)
    assert(ST.read(spark, root).filter(col("k") === 4).head().getDouble(1) == 4.0,
      "failed statement must not change the table")
    // a PARTIAL CoW rewrite (one of two files) keeps the survivors
    // readable through the uniform-table DSv2 route: the replacement
    // file must re-declare REQUIRED beside the untouched REQUIRED file
    spark.sql(s"DELETE FROM '$root' WHERE k <= 5").collect() // over cap → CoW of file 1
    assert(ST.manifestMeta(root, ST.currentVersion(root))("delete").startsWith("cow:"))
    val dsv2 = spark.read.format("graft-snapshot").load(root)
    assert(dsv2.count() == 35, "mixed parquet repetition broke the uniform read path")
    assert(dsv2.agg(sum("v")).head().getDouble(0) == (6L to 40L).map(_ * 1.0).sum)
  }

  test("a CoW rewrite racing a DV delete on the same file aborts instead of resurrecting") {
    val root = fresh("race")
    val v1 = ST.currentVersion(root)
    val entriesV1 = ST.manifestEntries(root, v1)
    // a DV delete lands AFTER the rewrite's read (simulated by handing
    // commitRewrite the stale base version)
    spark.sql(s"DELETE FROM '$root' WHERE k = 5").collect()
    val touched = entriesV1.head.rel
    val e = intercept[IllegalStateException](
      ST.commitRewrite(root, v1, Set(touched),
        Seq(entriesV1.head), shardSize = 16, "update"))
    assert(e.getMessage.contains("concurrent DV delete conflict"), e.getMessage)
    // the DV'd row stayed deleted
    assert(ST.read(spark, root).filter(col("k") === 5).count() == 0)
  }

  test("changesBetween sees DV commits: deletes, resurrections, and no double-report") {
    val root = fresh("cdc_batch")
    val v1 = ST.currentVersion(root)
    spark.sql(s"DELETE FROM '$root' WHERE k IN (4, 24)").collect() // v-> DV
    val v2 = ST.currentVersion(root)
    // the DV commit's delta: exactly the two newly-deleted rows
    val d12 = ST.changesBetween(spark, root, v1, v2).collect()
      .map(r => (r.getAs[String]("change_type"), r.getAs[Long]("k"))).toSet
    assert(d12 == Set(("delete", 4L), ("delete", 24L)), d12.toString)
    // RESTORE across the DV delete: the resurrected rows report as inserts
    ST.restore(root, v1)
    val v3 = ST.currentVersion(root)
    val d23 = ST.changesBetween(spark, root, v2, v3).collect()
      .map(r => (r.getAs[String]("change_type"), r.getAs[Long]("k"))).toSet
    assert(d23 == Set(("insert", 4L), ("insert", 24L)), d23.toString)
    // and the STREAMING/batch CDF planner agrees (delta partitions)
    val feed = spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true")
      .option("afterVersion", v2.toString).load(root).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("k"),
        r.getAs[Long]("_commit_version"))).toSet
    assert(feed == Set(("insert", 4L, v3.toLong), ("insert", 24L, v3.toLong)),
      feed.toString)
    // a CoW delete ON TOP of a DV does not re-report the DV'd rows
    ST.restore(root, v2) // back to the DV'd state
    val v4 = ST.currentVersion(root)
    spark.sql(s"DELETE FROM '$root' WHERE k <= 10").collect() // CoW (over cap)
    val v5 = ST.currentVersion(root)
    assert(ST.manifestMeta(root, v5)("delete").startsWith("cow:"))
    val d45 = ST.changesBetween(spark, root, v4, v5).collect()
      .map(r => (r.getAs[String]("change_type"), r.getAs[Long]("k"))).toSet
    assert(d45 == (1L to 10L).filterNot(_ == 4L).map(("delete", _)).toSet,
      s"already-DV-deleted row must not re-report: $d45")
  }

  test("shallow clone carries the DV state; clone scans skip the same rows") {
    val root = fresh("clone")
    spark.sql(s"DELETE FROM '$root' WHERE k = 13").collect()
    val cl = Engine.tmpDir("graft_dv_fork")
    Engine.listDir(Paths.get(cl)).foreach(Engine.deleteRecursively)
    ST.shallowClone(root, cl)
    assert(ST.read(spark, cl).count() == 39)
    assert(ST.read(spark, cl).filter(col("k") === 13).count() == 0,
      "clone resurrected a DV-deleted row")
    // and RESTORE to the pre-delete version resurfaces the row
    ST.restore(root, 2)
    assert(ST.read(spark, root).count() == 40)
  }
}

object DvSpec {
  import TestSession._
  import org.apache.spark.sql.functions.col

  /** Two 100-row files that share the base name `part-0.parquet` in
    * sibling directories (`a/` holds k 0..99, `b/` holds k 100..199),
    * adopted in place with stats on `k`. */
  def siblingParts(name: String): String = {
    val Engine = graft.operators.Engine
    val root = Engine.tmpDir(s"graft_$name")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    Seq("a" -> 0L, "b" -> 100L).foreach { case (dir, lo) =>
      val scratch = Engine.tmpDir(s"graft_${name}_$dir")
      spark.range(lo, lo + 100).select(col("id").as("k"), (col("id") * 1.0).as("v"))
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = Engine.listDir(Paths.get(scratch))
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(root, dir))
      Files.move(part, Paths.get(root, dir, "part-0.parquet"))
    }
    graft.operators.SnapshotTable.convertInPlace(spark, root, "k")
    root
  }
}
