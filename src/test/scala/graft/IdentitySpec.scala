package graft

import java.nio.file.Paths

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** x43's contract: GENERATED ALWAYS AS IDENTITY riding the x41
  * high-water allocator — the column IS the row-tracking id under a
  * user-facing name. Per-commit contiguous claims (dense, unique,
  * CAS-serialized), engine-owned values (every write surface refuses
  * explicit ones), DML stability inherited from row tracking, and the
  * same column visible through every read route. */
class IdentitySpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  val ST = graft.operators.SnapshotTable
  val Engine = graft.operators.Engine

  private def fresh(name: String, n: Long = 40L, files: Int = 2): String = {
    val root = Engine.tmpDir(s"graft_id_$name")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    ST.commitEntries(root, 0,
      ST.writeDataFiles((1L to n).map(k => (k, k * 1.0)).toDF("k", "v")
        .repartitionByRange(files, col("k")), root, "a")
        .map(ST.footerEntry(root, _, "k")),
      16, Map("statsCol" -> "k"))
    ST.setIdentityColumn(spark, root, "id")
    root
  }

  private def ids(root: String): Map[Long, Long] =
    ST.read(spark, root).select("k", "id").as[(Long, Long)].collect().toMap

  test("declare: dense unique ids, idempotent, appends claim contiguous fresh ranges") {
    val root = fresh("decl")
    assert(ST.read(spark, root).columns.toSeq == Seq("k", "v", "id"))
    val m = ids(root)
    assert(m.size == 40 && m.values.toSet == (0L until 40L).toSet,
      "seed ids must be dense [0, rows)")
    assert(ST.setIdentityColumn(spark, root, "id") == ST.currentVersion(root),
      "re-declare same name must be a no-op")
    val e0 = intercept[Exception](ST.setIdentityColumn(spark, root, "id2"))
    assert(e0.getMessage.contains("one per table"), e0.getMessage)
    // two sequential sink batches: contiguous ranges in commit order
    graft.streaming.SnapshotSink.appendBatch(root,
      Seq((100L, 1.0), (101L, 2.0)).toDF("k", "v"), batchId = 0L, keyCol = "k")
    graft.streaming.SnapshotSink.appendBatch(root,
      Seq((102L, 3.0)).toDF("k", "v"), batchId = 1L, keyCol = "k")
    val m2 = ids(root)
    assert(m2.values.toSet == (0L until 43L).toSet, "ingest must stay dense")
    assert(Seq(100L, 101L).map(m2).sorted == Seq(40L, 41L) && m2(102L) == 42L,
      s"commit-ordered contiguous claims: $m2")
  }

  test("racing commits claim disjoint ranges (CAS serializes the mark)") {
    import graft.sources.{SnapshotCommit, SnapshotFileCommit}
    val root = fresh("race")
    val relA = ST.writeDataFiles(Seq((201L, 1.0)).toDF("k", "v").coalesce(1), root, "ra").head
    val relB = ST.writeDataFiles(Seq((202L, 2.0), (203L, 3.0)).toDF("k", "v")
      .coalesce(1), root, "rb").head
    val t1 = new Thread(() => SnapshotCommit.append(root, Array(SnapshotFileCommit(relA)), Map.empty))
    val t2 = new Thread(() => SnapshotCommit.append(root, Array(SnapshotFileCommit(relB)), Map.empty))
    t1.start(); t2.start(); t1.join(); t2.join()
    val m = ids(root)
    assert(m.size == 43 && m.values.toSet == (0L until 43L).toSet,
      s"racing identity claims must be disjoint AND dense: ${m.values.toSeq.sorted}")
  }

  test("engine-owned: every write surface refuses explicit identity values") {
    val root = fresh("own")
    // sink batch carrying the column
    val e1 = intercept[Exception](graft.streaming.SnapshotSink.appendBatch(root,
      Seq((300L, 1.0, 7L)).toDF("k", "v", "id"), batchId = 9L, keyCol = "k"))
    assert(e1.getMessage.contains("GENERATED ALWAYS"), e1.getMessage)
    // DSv2 write carrying the column
    val e2 = intercept[Exception](Seq((300L, 1.0, 7L)).toDF("k", "v", "id")
      .write.format("graft-snapshot").mode("append").save(root))
    assert(e2.getMessage.contains("GENERATED ALWAYS") ||
      Option(e2.getCause).exists(_.getMessage.contains("GENERATED ALWAYS")), e2.toString)
    // UPDATE SET on it
    val e3 = intercept[Exception](ST.update(spark, root, Seq("id" -> "99"), "k = 1"))
    assert(e3.getMessage.contains("GENERATED ALWAYS"), e3.getMessage)
    // merge changeset carrying it
    val e4 = intercept[Exception](ST.merge(spark, root, clusterCol = "k",
      idCol = "k", changes = Seq((50L, 1.0, 7L, "i")).toDF("k", "v", "id", "op")))
    assert(e4.getMessage.contains("GENERATED ALWAYS"), e4.getMessage)
    // ALTER reclaiming the name
    val e5 = intercept[Exception](ST.renameColumn(spark, root, "v", "id"))
    assert(e5.getMessage.contains("IDENTITY"), e5.getMessage)
    // ansi merge with a source carrying it
    Seq((1L, 5.0, 9L)).toDF("k", "v", "id").createOrReplaceTempView("id_src")
    val e6 = intercept[Exception](ST.ansiMerge(spark, root, "t", "id_src", "s",
      "k", "k", Seq(ST.WhenMatchedUpdate(None, Seq("v" -> "s.v")))))
    assert(e6.getMessage.contains("GENERATED ALWAYS"), e6.getMessage)
  }

  test("DML keeps every identity; merge inserts mint fresh above the mark") {
    val root = fresh("dml")
    val before = ids(root)
    ST.update(spark, root, Seq("v" -> "v + 100.0"), "k <= 10")
    assert(ids(root) == before, "UPDATE moved identities")
    ST.delete(spark, root, "k = 7")
    val m1 = ids(root)
    assert(!m1.contains(7L) && m1.forall { case (k, id) => before(k) == id })
    // ansi merge: update inherits, insert mints fresh
    val hw = ST.manifestMeta(root, ST.currentVersion(root))("rowhw").toLong
    Seq((5L, 555.0), (41L, 41.0)).toDF("k", "v").createOrReplaceTempView("id_chg")
    ST.ansiMerge(spark, root, "t", "id_chg", "s", "k", "k", Seq(
      ST.WhenMatchedUpdate(None, Seq("v" -> "s.v")),
      ST.WhenNotMatchedInsert(None)))
    val m2 = ids(root)
    assert(m2(5L) == before(5L), "merge update must inherit the identity")
    assert(m2(41L) >= hw, "merge insert must mint above the mark")
    ST.optimizeClustered(spark, root, "k", targetFiles = 1)
    assert(ids(root) == m2, "OPTIMIZE re-identified rows")
  }

  test("route parity: DSv2 path load, catalog SQL, streaming read and time travel") {
    val root = fresh("routes")
    graft.streaming.SnapshotSink.appendBatch(root,
      Seq((100L, 1.0)).toDF("k", "v"), batchId = 0L, keyCol = "k")
    val expect = ids(root)
    // path route: the identity column is part of the schema — no option
    val viaDsv2 = spark.read.format("graft-snapshot").load(root)
      .select("k", "id").as[(Long, Long)].collect().toMap
    assert(viaDsv2 == expect, "DSv2 path route diverged")
    // the pruned and point-lookup reads serve it too
    def kid(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "id").as[(Long, Long)].collect().toMap
    assert(kid(ST.readPruned(spark, root, "k", 1L, 100L)) == expect,
      "readPruned diverged")
    assert(kid(ST.readPrunedBox(spark, root, "k", Seq(("k", 1L, 100L)))) == expect,
      "readPrunedBox diverged")
    assert(kid(ST.readPointLookup(spark, root, "k", Seq(7L, 100L))) ==
      expect.filter(kv => kv._1 == 7L || kv._1 == 100L), "readPointLookup diverged")
    // with rowIds too: both columns, same values
    val both = spark.read.format("graft-snapshot").option("rowIds", "true")
      .load(root).select("id", "_row_id").as[(Long, Long)].collect()
    assert(both.forall(p => p._1 == p._2), "identity and _row_id must agree")
    // catalog route
    val w = java.nio.file.Files.createTempDirectory("graft_id_cat").toString
    spark.conf.set("spark.sql.catalog.gid", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gid.root", w)
    ST.shallowClone(root, Paths.get(w, "t").toString)
    val viaSql = spark.sql("SELECT k, id FROM gid.t")
      .as[(Long, Long)].collect().toMap
    assert(viaSql == expect, "catalog route diverged (clone must carry identity)")
    // SQL declaration spelling on a fresh path table
    val root2 = Engine.tmpDir("graft_id_sqldecl")
    Engine.listDir(Paths.get(root2)).foreach(Engine.deleteRecursively)
    ST.commitEntries(root2, 0,
      ST.writeDataFiles(Seq((1L, 1.0)).toDF("k", "v").coalesce(1), root2, "a")
        .map(ST.footerEntry(root2, _, "k")), 16, Map("statsCol" -> "k"))
    spark.sql(s"ALTER TABLE '$root2' ADD COLUMN sk BIGINT GENERATED ALWAYS AS IDENTITY")
    assert(ST.read(spark, root2).columns.contains("sk"))
    assert(ST.read(spark, root2).select("sk").as[Long].head() == 0L)
    // time travel to BEFORE the declaration: no identity column
    val preDecl = spark.read.format("graft-snapshot").option("version", "1")
      .load(root2)
    assert(!preDecl.columns.contains("sk"), "pre-declaration travel leaked the column")
    // streaming read serves the identity column with batch-consistent ids
    val ckpt = java.nio.file.Files.createTempDirectory("graft_id_stream").toString
    val q = spark.readStream.format("graft-snapshot").load(root)
      .writeStream.format("memory").queryName("id_stream_out")
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("id_stream_out").select("k", "id")
      .as[(Long, Long)].collect().toMap
    assert(streamed == expect, "streaming route diverged")
  }

  test("CREATE TABLE ... GENERATED ALWAYS AS IDENTITY declares at create (r16)") {
    val w = java.nio.file.Files.createTempDirectory("graft_id_ct").toString
    spark.conf.set("spark.sql.catalog.gct", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gct.root", w)
    spark.sql("CREATE TABLE gct.t (k BIGINT, v DOUBLE, " +
      "id BIGINT GENERATED ALWAYS AS IDENTITY)")
    val root = Paths.get(w, "t").toString
    assert(ST.pendingIdentity(root).contains("id"), "declaration must park pending")
    // engine-owned already in the PENDING window: a path-route write
    // carrying the declared name refuses before the first commit
    val ep = intercept[Exception](Seq((0L, 0.0, 5L)).toDF("k", "v", "id")
      .write.format("graft-snapshot").mode("append").save(root))
    assert(ep.toString.contains("GENERATED ALWAYS") ||
      Option(ep.getCause).exists(_.getMessage.contains("GENERATED ALWAYS")),
      ep.toString)
    // first INSERT seeds the table; the pending declaration applies on
    // that commit — dense ids from the declared start (the BARE
    // spelling parses as START WITH 1: Delta's default, honored r17)
    spark.sql("INSERT INTO gct.t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    assert(ST.pendingIdentity(root).isEmpty, "first commit must apply the declaration")
    val m = spark.sql("SELECT k, id FROM gct.t").as[(Long, Long)].collect().toMap
    assert(m.keySet == Set(1L, 2L, 3L) && m.values.toSet == (1L to 3L).toSet,
      s"create-time identity must claim dense seed ids from 1: $m")
    // the same dense-claim contract continues on the ingest routes
    // (post-declaration catalog INSERT INTO is all-columns by Spark's
    // own arity rule — the documented x43 envelope; ingest goes
    // through the sink / path append, which omit the column)
    graft.streaming.SnapshotSink.appendBatch(root,
      Seq((4L, 4.0)).toDF("k", "v"), batchId = 0L, keyCol = "k")
    val m2 = spark.sql("SELECT k, id FROM gct.t").as[(Long, Long)].collect().toMap
    assert(m2.values.toSet == (1L to 4L).toSet, s"ingest must stay dense: $m2")
    // engine-owned from birth: supplying the column refuses
    val e = intercept[Exception](Seq((5L, 5.0, 99L)).toDF("k", "v", "id")
      .write.format("graft-snapshot").mode("append").save(root))
    assert(e.toString.contains("GENERATED ALWAYS") ||
      Option(e.getCause).exists(_.getMessage.contains("GENERATED ALWAYS")), e.toString)
    // refusal matrix at CREATE: custom step, BY DEFAULT, non-BIGINT
    val e1 = intercept[Exception](spark.sql(
      "CREATE TABLE gct.bad1 (k BIGINT, id BIGINT GENERATED ALWAYS AS " +
        "IDENTITY (START WITH 100 INCREMENT BY 5))"))
    assert(e1.getMessage.contains("step 1"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      "CREATE TABLE gct.bad2 (k BIGINT, id BIGINT GENERATED BY DEFAULT AS IDENTITY)"))
    assert(e2.getMessage.contains("engine-owned"), e2.getMessage)
    val e3 = intercept[Exception](spark.sql(
      "CREATE TABLE gct.bad3 (k BIGINT, id INT GENERATED ALWAYS AS IDENTITY)"))
    assert(e3.getMessage.contains("must be BIGINT"), e3.getMessage)
  }

  test("START WITH is honored on every read route (r17): offset ids, DML-stable, clone carries") {
    val w = java.nio.file.Files.createTempDirectory("graft_id_sw").toString
    spark.conf.set("spark.sql.catalog.gsw", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsw.root", w)
    spark.sql("CREATE TABLE gsw.t (k BIGINT, v DOUBLE, " +
      "id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100))")
    val root = Paths.get(w, "t").toString
    spark.sql("INSERT INTO gsw.t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    // catalog SQL route
    val m = spark.sql("SELECT k, id FROM gsw.t").as[(Long, Long)].collect().toMap
    assert(m.values.toSet == (100L to 102L).toSet,
      s"START WITH 100 must yield ids from 100: $m")
    // Scala route agrees
    assert(ST.read(spark, root).select("id").as[Long].collect().toSet ==
      (100L to 102L).toSet)
    // DSv2 path route agrees; _row_id stays the RAW 0-based engine id
    val both = spark.read.format("graft-snapshot").option("rowIds", "true")
      .load(root).select("id", "_row_id").as[(Long, Long)].collect()
    assert(both.forall(p => p._1 == p._2 + 100L),
      s"identity must be _row_id + 100: ${both.toSeq}")
    // streaming read serves the offset ids too (before the DML below —
    // a change commit fails the plain append-only stream by design)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_id_sw_stream").toString
    val q = spark.readStream.format("graft-snapshot").load(root)
      .writeStream.format("memory").queryName("id_sw_out")
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("id_sw_out").select("id").as[Long].collect().toSet ==
      (100L to 102L).toSet, "streaming route diverged from the declared start")
    // DML stability: ids survive a CoW update, offset intact
    val before = spark.sql("SELECT k, id FROM gsw.t").as[(Long, Long)].collect().toMap
    spark.sql(s"UPDATE '$root' SET v = v + 10 WHERE k = 2").collect()
    val after = spark.sql("SELECT k, id FROM gsw.t").as[(Long, Long)].collect().toMap
    assert(after == before, s"ids moved across UPDATE: $before -> $after")
    // clone carries the declared start with the identity
    val cl = Engine.tmpDir("graft_id_sw_clone")
    Engine.listDir(Paths.get(cl)).foreach(Engine.deleteRecursively)
    ST.shallowClone(root, cl)
    assert(ST.read(spark, cl).select("id").as[Long].collect().toSet ==
      (100L to 102L).toSet, "clone dropped the START WITH offset")
    // a re-declaration with a DIFFERENT start refuses
    val e = intercept[Exception](ST.setIdentityColumn(spark, root, "id", 5L))
    assert(e.getMessage.contains("cannot change"), e.getMessage)
    // the path-SQL ALTER spelling takes START WITH too (bare stays 0 —
    // explicitly engine ids; the catalog CREATE bare spelling is 1
    // because Spark's parser delivers Delta's default)
    val root2 = Engine.tmpDir("graft_id_sw_path")
    Engine.listDir(Paths.get(root2)).foreach(Engine.deleteRecursively)
    ST.commitEntries(root2, 0,
      ST.writeDataFiles(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").coalesce(1),
        root2, "a").map(ST.footerEntry(root2, _, "k")), 16, Map("statsCol" -> "k"))
    spark.sql(s"ALTER TABLE '$root2' ADD COLUMN sk BIGINT GENERATED ALWAYS " +
      "AS IDENTITY (START WITH 1000)")
    assert(ST.read(spark, root2).select("sk").as[Long].collect().toSet ==
      Set(1000L, 1001L))
    val eStep = intercept[Exception](
      spark.sql(s"ALTER TABLE '$root2' ADD COLUMN sk2 BIGINT GENERATED ALWAYS " +
        "AS IDENTITY (START WITH 1 INCREMENT BY 2)"))
    assert(eStep.getMessage.contains("step 1"), eStep.getMessage)
    // strict options: INCREMENT BY alone reaches the clear refusal,
    // duplicate clauses refuse instead of silently honoring the first,
    // and an out-of-BIGINT start refuses with the option named
    val eStep2 = intercept[Exception](
      spark.sql(s"ALTER TABLE '$root2' ADD COLUMN sk2 BIGINT GENERATED ALWAYS " +
        "AS IDENTITY (INCREMENT BY 2)"))
    assert(eStep2.getMessage.contains("step 1"), eStep2.getMessage)
    val eDup = intercept[Exception](
      spark.sql(s"ALTER TABLE '$root2' ADD COLUMN sk2 BIGINT GENERATED ALWAYS " +
        "AS IDENTITY (START WITH 5 START WITH 9)"))
    assert(eDup.getMessage.contains("duplicate identity option"), eDup.getMessage)
    val eBig = intercept[Exception](
      spark.sql(s"ALTER TABLE '$root2' ADD COLUMN sk2 BIGINT GENERATED ALWAYS " +
        "AS IDENTITY (START WITH 99999999999999999999)"))
    assert(eBig.getMessage.contains("out of BIGINT range"), eBig.getMessage)
  }

  test("delete-all leaves a readable empty identity table (no recursion)") {
    // regression: readAt's identity branch routes through
    // readWithRowIdsAt, whose zero-entry case used to call readAt back
    // — StackOverflowError on any identity table whose current version
    // has no manifest entries
    val root = fresh("empty")
    ST.delete(spark, root, "k >= 0")
    val df = ST.read(spark, root)
    assert(df.columns.toSeq == Seq("k", "v", "id"),
      s"empty identity read must keep the logical schema: ${df.columns.toSeq}")
    assert(df.count() == 0L)
    // and the table is not bricked: a fresh append claims ids again
    graft.streaming.SnapshotSink.appendBatch(root,
      Seq((500L, 5.0)).toDF("k", "v"), batchId = 50L, keyCol = "k")
    val m = ids(root)
    assert(m.keySet == Set(500L) && m(500L) >= 40L,
      s"post-empty append must claim a fresh id past the high-water mark: $m")
  }
}
