package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Column mapping (rename/drop evolution, Delta's design): the
  * manifest's `colmap` meta indirects logical names from the files'
  * physical names, so ALTER RENAME/DROP are metadata-only commits,
  * old files stay readable, time travel keeps old names, and OPTIMIZE
  * materializes the mapping away. */
class ColumnMappingSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  val ST = graft.operators.SnapshotTable
  val Engine = graft.operators.Engine

  private def fresh(name: String, statsCol: String = "k"): String = {
    val root = Engine.tmpDir(s"graft_cm_$name")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    val rels = ST.writeDataFiles((1L to 6L).map(k => (k, s"t$k", k * 1.0))
      .toDF("k", "tag", "v").repartitionByRange(2, col("k")), root, "a")
      .map(ST.footerEntry(root, _, statsCol))
    ST.commitEntries(root, 0, rels, 16, Map("statsCol" -> statsCol))
    root
  }

  private def dataFiles(root: String): Set[String] =
    ST.manifestEntries(root, ST.currentVersion(root)).map(_.rel).toSet

  test("RENAME is metadata-only; reads resolve the mapping; time travel keeps old names") {
    val root = fresh("rename")
    val before = dataFiles(root)
    val v2 = ST.renameColumn(spark, root, "v", "score")
    assert(v2 == 2)
    // metadata-only: the data file set is IDENTICAL
    assert(dataFiles(root) == before, "rename moved data files")
    // the logical view serves the new name, same values
    val got = ST.read(spark, root).select("k", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == (1L to 6L).map(k => k -> k * 1.0).toMap)
    assert(!ST.read(spark, root).columns.contains("v"))
    // time travel BEFORE the rename keeps the old name
    assert(ST.readAt(spark, root, 1).columns.toSeq == Seq("k", "tag", "v"))
    // the DSv2 route agrees with the Scala route
    val dsv2 = spark.read.format("graft-snapshot").load(root)
    assert(dsv2.columns.toSeq == Seq("k", "tag", "score"))
    assert(dsv2.agg(sum("score")).head().getDouble(0) == 21.0)
    val pinned = spark.read.format("graft-snapshot").option("version", "1").load(root)
    assert(pinned.columns.toSeq == Seq("k", "tag", "v"))
  }

  test("stats pruning keeps working on a RENAMED cluster column (both routes)") {
    val root = fresh("prunestat")
    ST.renameColumn(spark, root, "k", "id")
    // Scala route: readPruned takes the LOGICAL name
    val pr = ST.readPruned(spark, root, "id", 1L, 2L)
    assert(pr.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // DSv2 route: a pushed filter on the new name must still prune to
    // one of the two range files (the planned partition count shows it)
    val scan = spark.read.format("graft-snapshot").load(root).filter(col("id") <= 2)
    assert(scan.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(scan.rdd.getNumPartitions == 1,
      s"filter on the renamed stats column did not prune: ${scan.rdd.getNumPartitions} partitions")
  }

  test("readPrunedBox takes LOGICAL names on a renamed column and still prunes") {
    val root = fresh("prunebox")
    ST.renameColumn(spark, root, "k", "key")
    val box = ST.readPrunedBox(spark, root, "key", Seq(("key", 1L, 2L)))
    assert(box.columns.toSeq == Seq("key", "tag", "v"))
    assert(box.select("key").as[Long].collect().toSet == Set(1L, 2L))
    assert(box.inputFiles.length == 1,
      s"box on the renamed stats column did not prune: ${box.inputFiles.toSeq}")
  }

  test("DROP hides the column everywhere; re-ADD gets a fresh physical — no resurrection") {
    val root = fresh("drop")
    val before = dataFiles(root)
    ST.dropColumn(spark, root, "tag")
    assert(dataFiles(root) == before, "drop moved data files")
    assert(ST.read(spark, root).columns.toSeq == Seq("k", "v"))
    assert(spark.read.format("graft-snapshot").load(root).columns.toSeq == Seq("k", "v"))
    // re-add the same LOGICAL name through the catalog ALTER: the old
    // values must NOT resurrect — the new column reads null everywhere
    val w = Files.createTempDirectory("graft_cm_cat").toString
    spark.conf.set("spark.sql.catalog.gcm", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcm.root", w)
    val link = Paths.get(w, "t1")
    Files.createDirectories(link)
    // build a catalog-addressable copy: CTAS from the dropped view
    ST.read(spark, root).createOrReplaceTempView("cm_drop_src")
    spark.sql("DROP TABLE IF EXISTS gcm.t2")
    spark.sql("CREATE TABLE gcm.t2 AS SELECT * FROM cm_drop_src")
    spark.sql("ALTER TABLE gcm.t2 RENAME COLUMN v TO score") // enter mapping mode
    spark.sql("ALTER TABLE gcm.t2 ADD COLUMN tag STRING")
    val re = spark.table("gcm.t2")
    assert(re.columns.toSeq == Seq("k", "score", "tag"))
    assert(re.filter(col("tag").isNotNull).count() == 0,
      "re-added column resurrected old values")
    // and its physical (storage) name is fresh, not `tag`
    val t2root = Paths.get(w, "t2").toString
    val cm = ST.colMap(t2root, ST.currentVersion(t2root)).get
    val physTag = cm.collectFirst { case ("tag", p) => p }.get
    assert(physTag != "tag" && physTag.startsWith("tag_"), physTag)
  }

  test("mapping lineage across ALTERs; OPTIMIZE materializes the mapping") {
    val root = fresh("lineage")
    ST.renameColumn(spark, root, "v", "score")
    ST.renameColumn(spark, root, "score", "points") // rename of a rename
    ST.dropColumn(spark, root, "tag")
    val cm = ST.colMap(root, ST.currentVersion(root)).get
    assert(cm == Seq(("k", "k"), ("points", "v")), cm.toString)
    assert(ST.read(spark, root).columns.toSeq == Seq("k", "points"))
    // every intermediate version resolves ITS OWN mapping
    assert(ST.readAt(spark, root, 2).columns.toSeq == Seq("k", "tag", "score"))
    assert(ST.readAt(spark, root, 3).columns.toSeq == Seq("k", "tag", "points"))
    // OPTIMIZE reads the logical view and rewrites: mapping gone,
    // files physically carry the logical names, dropped column purged
    ST.optimizeClustered(spark, root, "k", targetFiles = 2)
    val v5 = ST.currentVersion(root)
    assert(ST.colMap(root, v5).isEmpty, "OPTIMIZE must materialize the mapping away")
    assert(ST.read(spark, root).columns.toSeq == Seq("k", "points"))
    val footer = spark.read.parquet(
      Paths.get(root, ST.manifestEntries(root, v5).head.rel).toString)
    assert(footer.columns.toSeq == Seq("k", "points"),
      s"materialized files must carry logical names: ${footer.columns.toSeq}")
  }

  test("UPDATE/DELETE/INSERT speak the new names; row-grain CDF translates") {
    val root = fresh("dml")
    // opt into row-grain CDF to check the feed across the rename
    val v1meta = ST.carriedMeta(root, 1) + ("cdf" -> "row")
    ST.commitEntries(root, 1, ST.manifestEntries(root, 1), 16, v1meta)
    ST.renameColumn(spark, root, "v", "score")
    // UPDATE on the renamed column (path route SQL)
    spark.sql(s"UPDATE '$root' SET score = score * 10 WHERE k <= 2").collect()
    // DELETE with the renamed column in the predicate (k=6 carries 6.0)
    spark.sql(s"DELETE FROM '$root' WHERE score = 6.0").collect()
    val got = ST.read(spark, root).select("k", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 10.0, 2L -> 20.0, 3L -> 3.0, 4L -> 4.0, 5L -> 5.0), got)
    // old physical name is gone from the user surface
    val e = intercept[Exception](
      spark.sql(s"UPDATE '$root' SET v = 0.0 WHERE k = 1").collect())
    assert(e.getMessage.contains("unknown column"), e.getMessage)
    // the CDF feed serves the LOGICAL names and row-grain images
    val feed = spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true").load(root)
    assert(feed.columns.contains("score") && !feed.columns.contains("v"))
    val ups = feed.filter(col("_change_type") === "update_postimage")
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("score")).toMap
    assert(ups == Map(1L -> 10.0, 2L -> 20.0), ups.toString)
    // appends through the sink under the new names read back correctly
    assert(graft.streaming.SnapshotSink.appendBatch(root,
      Seq((9L, "t9", 9.0)).toDF("k", "tag", "score"), batchId = 99L, keyCol = "k"))
    assert(ST.read(spark, root).filter(col("k") === 9L).head().getDouble(2) == 9.0)
  }

  test("ANSI MERGE on a table whose cluster column was RENAMED: bounds resolve, SET guard holds") {
    val root = Engine.tmpDir("graft_cm_ansimerge")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    val rels = ST.writeDataFiles(Seq((1L, 10L, 1.0), (2L, 20L, 2.0))
      .toDF("k", "d", "v").coalesce(1), root, "a")
      .map(ST.footerEntry(root, _, "d"))
    ST.commitEntries(root, 0, rels, 16, Map("statsCol" -> "d"))
    ST.renameColumn(spark, root, "d", "day")
    Seq((1L, 5.0)).toDF("k", "delta").createOrReplaceTempView("cm_am_src")
    // the SET guard must refuse the RENAMED cluster column by its
    // logical name (the physical statsCol would sail past it)
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO '$root' AS t USING cm_am_src AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET day = t.day + 1""").collect())
    assert(e.getMessage.contains("cluster column day"), e.getMessage)
    // ...and a legal merge resolves the bounds under the logical name
    spark.sql(s"""MERGE INTO '$root' AS t USING cm_am_src AS s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = t.v + s.delta""").collect()
    assert(ST.read(spark, root).filter(col("k") === 1).head().getDouble(2) == 6.0)
  }

  test("drop-then-readd of the SAME name: later UPDATE/DELETE must not hit ambiguity") {
    val root = fresh("readd_dml")
    // enter mapping mode, drop tag, re-add the same logical name
    ST.renameColumn(spark, root, "v", "score")
    ST.dropColumn(spark, root, "tag")
    val w = java.nio.file.Files.createTempDirectory("graft_cm_readd").toString
    spark.conf.set("spark.sql.catalog.gcmr", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcmr.root", w)
    // a catalog link to the SAME root (the catalog resolves names to
    // directories; symlink the table dir in)
    java.nio.file.Files.createSymbolicLink(Paths.get(w, "t"), Paths.get(root))
    spark.sql("ALTER TABLE gcmr.t ADD COLUMN tag STRING")
    // old physical `tag` is resident in every file AND logical `tag`
    // maps to the fresh physical — the rewrite plumbing must keep them
    // apart (reserved ride-along alias), not crash on ambiguity
    spark.sql(s"UPDATE '$root' SET tag = 'fresh' WHERE k = 1").collect()
    spark.sql(s"DELETE FROM '$root' WHERE k = 2").collect()
    val got = ST.read(spark, root).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) null else r.getString(2)))
    assert(got.head == ((1L, 1.0, "fresh")), got.head.toString)
    assert(!got.exists(_._1 == 2L))
    assert(got.filter(_._1 > 2).forall(_._3 == null),
      "re-added column resurrected old values through the rewrite")
    assert(got.length == 5)
  }

  test("refusals: drop stats column, colliding rename, merge over dropped physicals") {
    val root = fresh("refuse")
    val e1 = intercept[Exception](ST.dropColumn(spark, root, "k"))
    assert(e1.getMessage.contains("stats/cluster column"), e1.getMessage)
    ST.renameColumn(spark, root, "v", "score")
    // a rename targeting another column's resident physical is refused
    val e2 = intercept[Exception](ST.renameColumn(spark, root, "score", "tag"))
    assert(e2.getMessage.contains("already exists"), e2.getMessage)
    val e3 = intercept[Exception](ST.renameColumn(spark, root, "tag", "v"))
    assert(e3.getMessage.contains("resident physical"), e3.getMessage)
    // ...but renaming BACK to its own physical name is fine
    assert(ST.renameColumn(spark, root, "score", "v") > 0)
    // merge over a table with dropped physicals refuses with guidance
    ST.dropColumn(spark, root, "tag")
    val ch = Seq((1L, 99.0, "u")).toDF("k", "v", "op")
    val e4 = intercept[Exception](ST.merge(spark, root, "k", "k", ch))
    assert(e4.getMessage.contains("materialize"), e4.getMessage)
    // after OPTIMIZE materializes, the same merge succeeds
    ST.optimizeClustered(spark, root, "k", targetFiles = 2)
    ST.merge(spark, root, "k", "k", ch)
    assert(ST.read(spark, root).filter(col("k") === 1).head().getDouble(1) == 99.0)
  }

  test("ALTER surface refuses delimiter-injectable and nested names (ADVICE r13)") {
    val root = fresh("ident")
    // colmap encodes `l=p,l=p`; meta lines tab-split; extra-stats
    // fields colon-split — a name carrying any of those delimiters
    // would COMMIT fine and brick every later read of the version
    Seq("a=b", "a,b", "a;b", "a:b", "a\tb", "a\nb", "a#b", "a>b").foreach { bad =>
      val e = intercept[Exception](ST.renameColumn(spark, root, "v", bad))
      assert(e.getMessage.contains("manifest-delimiter"), s"'$bad': ${e.getMessage}")
    }
    // a dotted rename TARGET is a mistake, not a path (only the FROM
    // side of RENAME and DROP accept field paths)
    val en = intercept[Exception](ST.renameColumn(spark, root, "v", "props.score"))
    assert(en.getMessage.contains("field paths"), en.getMessage)
    // a field path into a non-struct (or missing) parent refuses loudly
    val ed = intercept[Exception](ST.dropColumn(spark, root, "props.score"))
    assert(ed.getMessage.contains("no column props"), ed.getMessage)
    val ev = intercept[Exception](ST.dropColumn(spark, root, "v.x"))
    assert(ev.getMessage.contains("not a struct column"), ev.getMessage)
    // deeper paths are SUPPORTED since r19 — a deep path into a
    // missing column refuses by name, not by depth
    val e2l = intercept[Exception](ST.renameColumn(spark, root, "a.b.c", "d"))
    assert(e2l.getMessage.contains("no column a"), e2l.getMessage)
    // a trailing dot must refuse too, not silently execute as "a.b"
    // (String.split drops trailing empty segments — r16 review)
    val etd = intercept[Exception](ST.dropColumn(spark, root, "v.x."))
    assert(etd.getMessage.contains("non-empty"), etd.getMessage)
    // the table is untouched — no version minted by any refusal
    assert(ST.currentVersion(root) == 1)
    // the catalog's ADD COLUMN route validates the same way (backtick
    // quoting smuggles a literal dot through as ONE field name)
    val w = java.nio.file.Files.createTempDirectory("graft_cm_ident").toString
    spark.conf.set("spark.sql.catalog.gident", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gident.root", w)
    spark.sql("CREATE TABLE gident.t (k BIGINT)")
    spark.sql("INSERT INTO gident.t VALUES (1)")
    val ec = intercept[Exception](
      spark.sql("ALTER TABLE gident.t ADD COLUMN `a.b` BIGINT").collect())
    assert(ec.getMessage.contains("plain top-level name"), ec.getMessage)
    val ec2 = intercept[Exception](
      spark.sql("ALTER TABLE gident.t ADD COLUMN `a=b` BIGINT").collect())
    assert(ec2.getMessage.contains("manifest-delimiter"), ec2.getMessage)
  }

  private def freshNested(name: String): String = {
    val root = Engine.tmpDir(s"graft_cm_$name")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    val df = (1L to 6L).map(k => (k, s"t$k", k * 1.0, k * 10.0))
      .toDF("k", "tag", "v", "flag")
      .select(col("k"), struct(col("tag"), col("v")).as("props"), col("flag"))
    val rels = ST.writeDataFiles(df.repartitionByRange(2, col("k")), root, "a")
      .map(ST.footerEntry(root, _, "k"))
    ST.commitEntries(root, 0, rels, 16, Map("statsCol" -> "k"))
    root
  }

  private def propsFields(root: String, v: Int): Seq[String] =
    ST.readAt(spark, root, v).schema("props").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq

  test("NESTED field rename/drop: metadata-only, ncolmap stamped, time travel keeps old names") {
    val root = freshNested("nested")
    val before = dataFiles(root)
    // path-SQL spelling for both verbs
    spark.sql(s"ALTER TABLE '$root' RENAME COLUMN props.v TO score").collect()
    assert(dataFiles(root) == before, "nested rename moved data files")
    assert(propsFields(root, ST.currentVersion(root)) == Seq("tag", "score"))
    val got = ST.read(spark, root).select(col("k"), col("props.score"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == (1L to 6L).map(k => k -> k * 1.0).toMap, got)
    // the dotted mint stamps the ncolmap READER feature (a
    // nested-ignorant binary would serve raw physical field names)
    val m = ST.manifestMeta(root, ST.currentVersion(root))
    assert(m("readerFeatures").split(',').contains("ncolmap"), m.toString)
    // ...and ONLY ncolmap: one-level maps must stay readable by
    // one-level (r16-r18) binaries — dcolmap is depth >= 2 only
    assert(!m("readerFeatures").split(',').contains("dcolmap"), m.toString)
    // time travel BEFORE the mint resolves the original field names
    assert(propsFields(root, 1) == Seq("tag", "v"))
    // DROP a field: metadata-only, field hidden, storage stays resident
    spark.sql(s"ALTER TABLE '$root' DROP COLUMN props.tag").collect()
    assert(dataFiles(root) == before, "nested drop moved data files")
    assert(propsFields(root, ST.currentVersion(root)) == Seq("score"))
    // a NULL struct must stay null through the rebuilt projection
    assert(ST.read(spark, root).filter(col("props").isNull).count() == 0)
    // refusals one level down: duplicate target, missing field, only field
    val e1 = intercept[Exception](
      ST.renameColumn(spark, root, "props.score", "score"))
    assert(e1.getMessage.contains("already exists") ||
      e1.getMessage.contains("collides"), e1.getMessage)
    val e2 = intercept[Exception](ST.dropColumn(spark, root, "props.nope"))
    assert(e2.getMessage.contains("no field"), e2.getMessage)
    val e3 = intercept[Exception](ST.dropColumn(spark, root, "props.score"))
    assert(e3.getMessage.contains("only field"), e3.getMessage)
    // a dropped-field storage name cannot be shadowed by a rename (no
    // resurrection through the ride-along contract)
    val e4 = intercept[Exception](
      ST.renameColumn(spark, root, "props.score", "tag"))
    assert(e4.getMessage.contains("resident physical"), e4.getMessage)
    // merge refuses dropped struct FIELDS like dropped top-level
    // columns (r19 review): its rewrite speaks the logical view (no
    // ride-along), so committing would silently strip props.tag from
    // rewritten files — inner widths diverging without the marker
    val ch = ST.read(spark, root).withColumn("op", lit("u")).limit(1)
    val e5 = intercept[Exception](ST.merge(spark, root, "k", "k", ch))
    assert(e5.getMessage.contains("dropped struct fields") &&
      e5.getMessage.contains("props.tag"), e5.getMessage)
  }

  test("NESTED DML round-trip: rewrites ride dropped fields physically; OPTIMIZE materializes") {
    val root = freshNested("nested_dml")
    spark.sql(s"ALTER TABLE '$root' RENAME COLUMN props.v TO score").collect()
    spark.sql(s"ALTER TABLE '$root' DROP COLUMN props.tag").collect()
    val before = dataFiles(root)
    // UPDATE reads the logical nested name in its predicate and
    // rewrites through toPhysical — the file a hit lands in must KEEP
    // the dropped field's storage bytes (ride-along, one level down)
    spark.sql(s"UPDATE '$root' SET flag = flag + 0.5 " +
      "WHERE props.score >= 5.0").collect()
    val after = ST.read(spark, root).select(col("k"), col("flag")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(after == (1L to 6L).map(k =>
      k -> (k * 10.0 + (if (k >= 5) 0.5 else 0.0))).toMap, after)
    val rewritten = dataFiles(root) -- before
    assert(rewritten.nonEmpty, "update rewrote nothing")
    rewritten.foreach { rel =>
      val fld = spark.read.parquet(Paths.get(root, rel).toString)
        .schema("props").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
      assert(fld.contains("tag") && fld.contains("v"),
        s"rewritten file dropped resident physical fields: $fld")
    }
    // logical view still hides them
    assert(propsFields(root, ST.currentVersion(root)) == Seq("score"))
    // DELETE keyed on the nested field
    spark.sql(s"DELETE FROM '$root' WHERE props.score = 1.0").collect()
    assert(ST.read(spark, root).count() == 5)
    // OPTIMIZE materializes the whole mapping: colmap (and the ncolmap
    // stamp with it) gone, files carry the LOGICAL field names, the
    // dropped field physically purged
    ST.optimizeClustered(spark, root, "k", targetFiles = 2)
    val v = ST.currentVersion(root)
    assert(ST.colMap(root, v).isEmpty, "OPTIMIZE must materialize the mapping away")
    assert(!ST.manifestMeta(root, v).get("readerFeatures")
      .exists(_.split(',').contains("ncolmap")),
      "materialized table must not keep requiring ncolmap")
    val fld = spark.read.parquet(
      Paths.get(root, ST.manifestEntries(root, v).head.rel).toString)
      .schema("props").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    assert(fld == Seq("score"), s"materialized files must carry logical field names: $fld")
    // sink appends under the LOGICAL nested shape keep working after
    // re-entering mapping mode
    spark.sql(s"ALTER TABLE '$root' RENAME COLUMN props.score TO pts").collect()
    assert(graft.streaming.SnapshotSink.appendBatch(root,
      Seq((9L, 9.0, 90.0)).toDF("k", "pts", "flag")
        .select(col("k"), struct(col("pts")).as("props"), col("flag")),
      batchId = 99L, keyCol = "k"))
    val nine = ST.read(spark, root).filter(col("k") === 9L)
      .select(col("props.pts")).head().getDouble(0)
    assert(nine == 9.0)
  }

  test("RESTORE and SHALLOW CLONE carry the mapping") {
    val root = fresh("restore")
    ST.renameColumn(spark, root, "v", "score")
    ST.dropColumn(spark, root, "tag")
    // clone sees the clone-time mapping
    val cl = Engine.tmpDir("graft_cm_clone")
    Engine.listDir(Paths.get(cl)).foreach(Engine.deleteRecursively)
    ST.shallowClone(root, cl)
    assert(ST.read(spark, cl).columns.toSeq == Seq("k", "score"))
    // restore to the pre-rename version resurfaces the ORIGINAL names
    ST.restore(root, 1)
    assert(ST.read(spark, root).columns.toSeq == Seq("k", "tag", "v"))
    // ...and a second restore redoes the mapped state
    ST.restore(root, 3)
    assert(ST.read(spark, root).columns.toSeq == Seq("k", "score"))
  }

  test("NESTED mapping resolves on the DSv2 READ routes (r17): schema, values, drops, rowIds, CDF; writes refuse") {
    val root = freshNested("nested_dsv2")
    spark.sql(s"ALTER TABLE '$root' RENAME COLUMN props.v TO score").collect()
    spark.sql(s"ALTER TABLE '$root' DROP COLUMN props.tag").collect()
    // path-route read: logical field names, dropped field invisible,
    // values byte-identical to the Scala route
    val dsv2 = spark.read.format("graft-snapshot").load(root)
    assert(dsv2.schema("props").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("score"))
    val got = dsv2.select(col("k"), col("props.score")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == (1L to 6L).map(k => k -> k * 1.0).toMap, got)
    // catalog route through plain SQL
    val w = Files.createTempDirectory("graft_cm_ncat").toString
    spark.conf.set("spark.sql.catalog.gcmn", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcmn.root", w)
    Files.createSymbolicLink(Paths.get(w, "nt"), Paths.get(root))
    assert(spark.sql("SELECT SUM(props.score) FROM gcmn.nt").head().getDouble(0) == 21.0)
    // time travel through the connector resolves the PRE-mint names
    val pinned = spark.read.format("graft-snapshot").option("version", "1").load(root)
    assert(pinned.schema("props").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("tag", "v"))
    assert(pinned.agg(sum(col("props.v"))).head().getDouble(0) == 21.0)
    // rowIds compose with the nested translation
    ST.enableRowTracking(spark, root)
    val ids = spark.read.format("graft-snapshot").option("rowIds", "true")
      .load(root).select(col("_row_id"), col("props.score").as("sc"))
    assert(ids.count() == 6 && ids.select("_row_id").distinct().count() == 6)
    assert(ids.agg(sum("sc")).head().getDouble(0) == 21.0)
    // the CHANGE FEED decodes the nested-mapped struct too
    val feed = spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true").option("afterVersion", "0").load(root)
    assert(feed.filter(col("_change_type") === "insert")
      .agg(sum(col("props.score"))).head().getDouble(0) == 21.0)
    // post-mapping DML REORDERS the rewritten file's inner struct
    // layout (toPhysical rebuilds (score, ride-along tag) as (v, tag)
    // while untouched files carry (tag, v)) — the per-file decode
    // must index each FILE's own group layout, never the head
    // footer's, or the reordered file serves tag-as-score (r17 review)
    spark.sql(s"UPDATE '$root' SET flag = flag + 0.5 " +
      "WHERE props.score <= 2.0").collect()
    val ids2 = spark.read.format("graft-snapshot").option("rowIds", "true")
      .load(root).select(col("k"), col("props.score").as("sc")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ids2 == (1L to 6L).map(k => k -> k * 1.0).toMap,
      s"reordered rewrite mis-decoded on the rowIds route: $ids2")
    val feed2 = spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true")
      .option("afterVersion", (ST.currentVersion(root) - 1).toString).load(root)
    val post2 = feed2.filter(col("_change_type") === "insert")
      .select(col("k"), col("props.score").as("sc")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(post2.forall { case (k, sc) => sc == k * 1.0 },
      s"reordered rewrite mis-decoded on the CDF route: $post2")
    // DSv2 WRITES translate logical struct-field names to physical
    // (r17): the catalog INSERT lands a file carrying the residents'
    // physical inner names, readable on every route
    spark.sql("INSERT INTO gcmn.nt SELECT 9L, named_struct('score', 9.0), 90.0")
    assert(spark.sql("SELECT props.score FROM gcmn.nt WHERE k = 9")
      .head().getDouble(0) == 9.0)
    assert(ST.read(spark, root).filter(col("k") === 9)
      .select(col("props.score")).head().getDouble(0) == 9.0)
    // the landed file physically carries `v` (the storage name), never
    // the logical `score` — uniform beside residents
    val withV = dataFiles(root).filter { rel =>
      spark.read.parquet(Paths.get(root, rel).toString)
        .schema("props").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.contains("v")
    }
    assert(withV == dataFiles(root),
      s"a DSv2 write landed LOGICAL field names: ${dataFiles(root) -- withV}")
    // a dropped field the residents declare REQUIRED (NOT NULL) has no
    // value to write — refuses at plan time, pointing at OPTIMIZE
    val root2 = freshNested("nested_dsv2_w")
    spark.sql(s"ALTER TABLE '$root2' DROP COLUMN props.v").collect()
    val eReq = intercept[Exception](ST.read(spark, root2)
      .write.format("graft-snapshot").mode("append").save(root2))
    assert(Iterator.iterate(eReq: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(m =>
        m.contains("REQUIRED field") && m.contains("OPTIMIZE"))), eReq.getMessage)
  }

  /** Depth-2 nested table: a: struct<b: struct<c double, d string>,
    * e double>, plus scalars. */
  private def freshDeep(name: String): String = {
    val root = Engine.tmpDir(s"graft_cm_$name")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    val df = (1L to 6L).map(k => (k, k * 1.0, s"t$k", k * 10.0, k * 100.0))
      .toDF("k", "c", "d", "e", "flag")
      .select(col("k"),
        struct(struct(col("c"), col("d")).as("b"), col("e")).as("a"),
        col("flag"))
    val rels = ST.writeDataFiles(df.repartitionByRange(2, col("k")), root, "x")
      .map(ST.footerEntry(root, _, "k"))
    ST.commitEntries(root, 0, rels, 16, Map("statsCol" -> "k"))
    root
  }

  private def structFields(root: String, v: Int, path: Seq[String]): Seq[String] = {
    var dt: org.apache.spark.sql.types.DataType = ST.readAt(spark, root, v).schema
    path.foreach { seg =>
      dt = dt.asInstanceOf[org.apache.spark.sql.types.StructType](seg).dataType }
    dt.asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
  }

  test("DEEP nested mapping (r19): depth-2 rename/drop, identity synthesis down the path, subtree re-keying") {
    val root = freshDeep("deep")
    val before = dataFiles(root)
    spark.sql(s"ALTER TABLE '$root' RENAME COLUMN a.b.c TO z").collect()
    assert(dataFiles(root) == before, "deep rename moved data files")
    // the mint synthesizes COMPLETE identity lists down the touched
    // path (the complete-list-per-mapped-node invariant), in canonical
    // flatten order
    val cm = ST.colMap(root, ST.currentVersion(root)).get
    assert(cm == Seq(("k", "k"), ("a", "a"), ("a.b", "a.b"),
      ("a.b.z", "a.b.c"), ("a.b.d", "a.b.d"), ("a.e", "a.e"),
      ("flag", "flag")), cm.toString)
    val m = ST.manifestMeta(root, ST.currentVersion(root))
    assert(m("readerFeatures").split(',').contains("ncolmap"), m.toString)
    // depth >= 2 stamps its OWN reader feature: a one-level (r16-r18)
    // binary declares ncolmap but decodes only the first segment
    // split — it would serve raw deep physical names instead of
    // failing, so it must refuse the manifest outright
    assert(m("readerFeatures").split(',').contains("dcolmap"), m.toString)
    // reads resolve the rename two levels down; values intact
    val got = ST.read(spark, root).select(col("k"), col("a.b.z"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == (1L to 6L).map(k => k -> k * 1.0).toMap, got)
    // time travel BEFORE the mint keeps the original deep names
    assert(structFields(root, 1, Seq("a", "b")) == Seq("c", "d"))
    // renaming the INTERMEDIATE struct re-keys its deeper entries
    spark.sql(s"ALTER TABLE '$root' RENAME COLUMN a.b TO bb").collect()
    assert(structFields(root, ST.currentVersion(root), Seq("a")) == Seq("bb", "e"))
    val got2 = ST.read(spark, root).select(col("k"), col("a.bb.z"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got2 == got, s"intermediate rename orphaned the deep entry: $got2")
    // deep DROP hides the field; the sibling survives
    spark.sql(s"ALTER TABLE '$root' DROP COLUMN a.bb.d").collect()
    assert(structFields(root, ST.currentVersion(root), Seq("a", "bb")) == Seq("z"))
    assert(dataFiles(root) == before, "deep drop moved data files")
    // deep refusals: only-field, missing field, resident-physical shadow
    val e1 = intercept[Exception](ST.dropColumn(spark, root, "a.bb.z"))
    assert(e1.getMessage.contains("only field"), e1.getMessage)
    val e2 = intercept[Exception](ST.dropColumn(spark, root, "a.bb.nope"))
    assert(e2.getMessage.contains("no field"), e2.getMessage)
    val e3 = intercept[Exception](ST.renameColumn(spark, root, "a.bb.z", "d"))
    assert(e3.getMessage.contains("resident physical"), e3.getMessage)
    // dropping the intermediate struct takes its whole subtree
    spark.sql(s"ALTER TABLE '$root' DROP COLUMN a.bb").collect()
    assert(structFields(root, ST.currentVersion(root), Seq("a")) == Seq("e"))
    val cm2 = ST.colMap(root, ST.currentVersion(root)).get
    assert(!cm2.exists(_._1.startsWith("a.bb")), cm2.toString)
  }

  test("DEEP nested mapping: DML ride-along at depth, DSv2 read/write, OPTIMIZE materializes") {
    val root = freshDeep("deep_dml")
    spark.sql(s"ALTER TABLE '$root' RENAME COLUMN a.b.c TO z").collect()
    spark.sql(s"ALTER TABLE '$root' DROP COLUMN a.b.d").collect()
    val before = dataFiles(root)
    // UPDATE keyed two levels down; the rewrite must KEEP the dropped
    // deep field's storage bytes (ride-along at every level)
    spark.sql(s"UPDATE '$root' SET flag = flag + 0.5 WHERE a.b.z >= 5.0").collect()
    val after = ST.read(spark, root).select(col("k"), col("flag")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(after == (1L to 6L).map(k =>
      k -> (k * 100.0 + (if (k >= 5) 0.5 else 0.0))).toMap, after)
    val rewritten = dataFiles(root) -- before
    assert(rewritten.nonEmpty, "update rewrote nothing")
    rewritten.foreach { rel =>
      val bf = spark.read.parquet(Paths.get(root, rel).toString)
        .schema("a").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]("b")
        .dataType.asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
      assert(bf.contains("c") && bf.contains("d"),
        s"rewritten file lost deep resident physical fields: $bf")
    }
    // DSv2 path route: deep logical schema + values
    val dsv2 = spark.read.format("graft-snapshot").load(root)
    assert(dsv2.schema("a").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]("b")
      .dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("z"))
    val gotD = dsv2.select(col("k"), col("a.b.z")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gotD == (1L to 6L).map(k => k -> k * 1.0).toMap, gotD)
    // catalog route + DSv2 WRITE translating deep logical→physical
    val w = Files.createTempDirectory("graft_cm_deepcat").toString
    spark.conf.set("spark.sql.catalog.gcmd", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcmd.root", w)
    Files.createSymbolicLink(Paths.get(w, "dt"), Paths.get(root))
    assert(spark.sql("SELECT SUM(a.b.z) FROM gcmd.dt").head().getDouble(0) == 21.0)
    spark.sql("INSERT INTO gcmd.dt SELECT 9L, " +
      "named_struct('b', named_struct('z', 9.0), 'e', 90.0), 900.0")
    assert(spark.sql("SELECT a.b.z FROM gcmd.dt WHERE k = 9").head().getDouble(0) == 9.0)
    assert(ST.read(spark, root).filter(col("k") === 9)
      .select(col("a.b.z")).head().getDouble(0) == 9.0)
    // the landed file physically carries `c` two levels down
    val landed = dataFiles(root).filter { rel =>
      spark.read.parquet(Paths.get(root, rel).toString)
        .schema("a").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]("b")
        .dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.contains("c")
    }
    assert(landed == dataFiles(root),
      s"a DSv2 write landed LOGICAL deep field names: ${dataFiles(root) -- landed}")
    // rowIds and the CHANGE FEED resolve the deep mapping too
    ST.enableRowTracking(spark, root)
    val ids = spark.read.format("graft-snapshot").option("rowIds", "true")
      .load(root).select(col("_row_id"), col("a.b.z").as("z"))
    assert(ids.select("_row_id").distinct().count() == 7)
    assert(ids.agg(sum("z")).head().getDouble(0) == 30.0)
    val feed0 = spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true").option("afterVersion", "0").load(root)
    assert(feed0.filter(col("_change_type") === "insert")
      .agg(sum(col("a.b.z"))).head().getDouble(0) >= 30.0)
    // the catalog-NAME route speaks deep paths too (Spark hands the
    // nested reference as a TableChange fieldNames array)
    spark.sql("ALTER TABLE gcmd.dt RENAME COLUMN a.e TO e2")
    assert(spark.sql("SELECT SUM(a.e2) FROM gcmd.dt").head().getDouble(0) == 300.0)
    spark.sql("ALTER TABLE gcmd.dt DROP COLUMN a.e2")
    assert(spark.table("gcmd.dt").schema("a").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("b"))
    // OPTIMIZE materializes the whole deep mapping away — under row
    // tracking (enabled above) an IDENTITY colmap legitimately stays
    // (it hides the materialized __row_id physical), but every dotted
    // entry and the nested stamps must retire
    ST.optimizeClustered(spark, root, "k", targetFiles = 2)
    val v = ST.currentVersion(root)
    assert(!ST.colMap(root, v).exists(_.exists(_._1.contains("."))),
      ST.colMap(root, v).toString)
    assert(!ST.manifestMeta(root, v).get("readerFeatures").exists(f =>
      f.split(',').exists(x => x == "ncolmap" || x == "dcolmap")),
      "materialized table must stop requiring nested-colmap features")
    val bf = spark.read.parquet(
      Paths.get(root, ST.manifestEntries(root, v).head.rel).toString)
      .schema("a").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]("b")
      .dataType.asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    assert(bf == Seq("z"), s"materialized files must carry logical deep names: $bf")
  }

  test("identity synthesis refuses resident names that would brick the colmap (r19 review)") {
    // ALTER input goes through validateIdent, but SYNTHESIZED identity
    // entries copy names from resident data files — a field named with
    // a colmap delimiter would COMMIT fine and fail parseColMap on
    // every later read (the ADVICE-r13 bricking class, entered through
    // data instead of DDL). Both synthesis points must refuse.
    val root = Engine.tmpDir("graft_cm_badname")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    val df = Seq((1L, 1.0, 2.0, "x")).toDF("k", "bad", "ok", "w")
      .select(col("k"), col("bad").as("v=1"), col("ok"), col("w"))
    val rels = ST.writeDataFiles(df.coalesce(1), root, "a")
      .map(ST.footerEntry(root, _, "k"))
    ST.commitEntries(root, 0, rels, 16, Map("statsCol" -> "k"))
    // top-level synthesis (currentColMap) hits the bad resident name
    val e1 = intercept[Exception](ST.renameColumn(spark, root, "w", "w2"))
    assert(e1.getMessage.contains("colmap-delimiter"), e1.getMessage)
    assert(ST.currentVersion(root) == 1, "refusal must not mint a version")
    // nested synthesis (editNestedNode) — a struct FIELD with a comma
    val root2 = Engine.tmpDir("graft_cm_badfield")
    Engine.listDir(Paths.get(root2)).foreach(Engine.deleteRecursively)
    val df2 = Seq((1L, 1.0, 2.0)).toDF("k", "a", "b")
      .select(col("k"), struct(col("a").as("b,c"), col("b").as("ok")).as("props"))
    val rels2 = ST.writeDataFiles(df2.coalesce(1), root2, "a")
      .map(ST.footerEntry(root2, _, "k"))
    ST.commitEntries(root2, 0, rels2, 16, Map("statsCol" -> "k"))
    val e2 = intercept[Exception](
      ST.renameColumn(spark, root2, "props.ok", "fine"))
    assert(e2.getMessage.contains("colmap-delimiter"), e2.getMessage)
    assert(ST.currentVersion(root2) == 1, "refusal must not mint a version")
  }

  test("ColNode parse/flatten round-trips on random trees (r19 property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // generator for mapping trees: unique logical+physical names per
    // node, 1-4 fields, children on a random subset, depth <= 3
    def genNode(depth: Int, tag: String): Gen[ST.ColNode] = for {
      n <- Gen.choose(1, 4)
      fields = (1 to n).map(i => (s"l${tag}_$i", s"p${tag}_$i"))
      kids <- if (depth == 0) Gen.const(Map.empty[String, ST.ColNode])
        else Gen.sequence[List[(String, ST.ColNode)], (String, ST.ColNode)](
          fields.toList.zipWithIndex.collect { case ((l, _), i) if i % 2 == 0 =>
            genNode(depth - 1, s"$tag$i").map(l -> _) }).map(_.toMap)
    } yield ST.ColNode(fields, kids)
    val params = org.scalacheck.Gen.Parameters.default
    (1 to 60).foreach { i =>
      val t = genNode(2, "r").pureApply(params, Seed(i.toLong))
      val flat = ST.flattenColTree(t)
      assert(ST.parseColTree(flat) == t, s"seed $i: $flat")
      // canonical: flatten is a fixed point through a second round trip
      assert(ST.flattenColTree(ST.parseColTree(flat)) == flat, s"seed $i")
    }
  }

  test("depth-3 ALTER torture: interleaved deep renames/drops keep the view consistent (r19)") {
    // depth-3 struct: a.b.c.{u,w}, a.b.d, a.e — rename/drop at every
    // level incl. the intermediates, checking values and the mapping's
    // canonical round-trip after each step
    val root = Engine.tmpDir("graft_cm_torture")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    val df = (1L to 4L).map(k => (k, k * 1.0, k * 2.0, k * 3.0, k * 4.0))
      .toDF("k", "u", "w", "d", "e")
      .select(col("k"), struct(
        struct(struct(col("u"), col("w")).as("c"), col("d")).as("b"),
        col("e")).as("a"))
    val rels = ST.writeDataFiles(df.coalesce(1), root, "x")
      .map(ST.footerEntry(root, _, "k"))
    ST.commitEntries(root, 0, rels, 16, Map("statsCol" -> "k"))
    def check(selects: (String, Long => Double)*): Unit = selects.foreach {
      case (path, f) =>
        val got = ST.read(spark, root).selectExpr("k", path).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(got == (1L to 4L).map(k => k -> f(k)).toMap, s"$path: $got")
        val cm = ST.colMap(root, ST.currentVersion(root)).get
        assert(ST.flattenColTree(ST.parseColTree(cm)) == cm,
          s"colmap not canonical after $path: $cm")
    }
    ST.renameColumn(spark, root, "a.b.c.u", "u2")      // depth-3 leaf
    check("a.b.c.u2" -> (k => k * 1.0))
    ST.renameColumn(spark, root, "a.b.c", "cc")        // depth-2 struct w/ kids
    check("a.b.cc.u2" -> (k => k * 1.0), "a.b.cc.w" -> (k => k * 2.0))
    ST.renameColumn(spark, root, "a.b", "bb")          // depth-1 struct w/ grandkids
    check("a.bb.cc.u2" -> (k => k * 1.0), "a.bb.d" -> (k => k * 3.0))
    ST.dropColumn(spark, root, "a.bb.cc.w")            // depth-3 drop
    check("a.bb.cc.u2" -> (k => k * 1.0))
    ST.renameColumn(spark, root, "a", "aa")            // top struct w/ deep subtree
    check("aa.bb.cc.u2" -> (k => k * 1.0), "aa.e" -> (k => k * 4.0))
    ST.dropColumn(spark, root, "aa.bb.cc")             // drop an intermediate subtree
    check("aa.bb.d" -> (k => k * 3.0))
    val cm = ST.colMap(root, ST.currentVersion(root)).get
    assert(!cm.exists(_._1.contains("cc")), cm.toString)
    // dropped subtree's storage stays resident, rides a rewrite, and
    // time travel still resolves every historical spelling
    spark.sql(s"UPDATE '$root' SET k = k + 10 WHERE aa.bb.d = 3.0").collect()
    assert(ST.read(spark, root).count() == 4)
    assert(ST.readAt(spark, root, 1).selectExpr("a.b.c.u").count() == 4)
    assert(ST.readAt(spark, root, 4).selectExpr("a.bb.cc.u2").count() == 4)
  }

  test("RESTORE and SHALLOW CLONE carry a NESTED mapping (ncolmap stamp included)") {
    val root = freshNested("nested_carry")
    spark.sql(s"ALTER TABLE '$root' RENAME COLUMN props.v TO score").collect()
    val cl = Engine.tmpDir("graft_cm_nclone")
    Engine.listDir(Paths.get(cl)).foreach(Engine.deleteRecursively)
    ST.shallowClone(root, cl)
    assert(propsFields(cl, ST.currentVersion(cl)) == Seq("tag", "score"))
    assert(ST.manifestMeta(cl, ST.currentVersion(cl))("readerFeatures")
      .split(',').contains("ncolmap"), "clone dropped the ncolmap stamp")
    ST.restore(root, 1)
    assert(propsFields(root, ST.currentVersion(root)) == Seq("tag", "v"))
    assert(!ST.manifestMeta(root, ST.currentVersion(root))
      .get("readerFeatures").exists(_.split(',').contains("ncolmap")),
      "restore to the pre-mint version must stop requiring ncolmap")
    ST.restore(root, 2)
    assert(propsFields(root, ST.currentVersion(root)) == Seq("tag", "score"))
  }
}
