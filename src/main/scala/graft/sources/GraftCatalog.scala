package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.SnapshotTable

/** A DSv2 `TableCatalog` over a directory of snapshot tables — the
  * name-addressed surface that makes the connector feel like a real
  * warehouse instead of a pile of paths:
  *
  * {{{
  * spark.sql.catalog.graft      = graft.sources.GraftCatalog
  * spark.sql.catalog.graft.root = /warehouse
  *
  * CREATE TABLE graft.analytics.scores (user_id BIGINT, p DOUBLE)
  * INSERT INTO graft.analytics.scores SELECT ...
  * SELECT count(*) FROM graft.analytics.scores   -- manifest-only
  * }}}
  *
  * Layout: `root/<namespace dirs...>/<table>/` IS the snapshot-table
  * root (`_manifests/`, data files) — every path-addressed tool
  * (OPTIMIZE/MERGE/VACUUM SQL, the Scala API, `format("graft-snapshot")
  * .load(path)`) works on catalog tables unchanged, exactly as Delta's
  * catalog names resolve to its path tables.
  *
  * Schema lifecycle: CREATE TABLE records the declared schema in
  * `_schema.json` (catalog-level metadata, never referenced by
  * manifests, never touched by vacuum — which only deletes `*.parquet`
  * and manifest files). Once data is committed, the parquet footer of
  * the current version is the source of truth (so evolution through the
  * snapshot API keeps reads honest); the JSON only serves the window
  * between CREATE and first INSERT, where it makes the empty table
  * selectable with its declared columns.
  *
  * Scale note: catalog calls are pure driver-side metadata (directory
  * listings, one small file read) — nothing here touches data, so a
  * 100 TB table costs the same `loadTable` as an empty one. */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var rootDir: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val r = options.get("root")
    require(r != null,
      s"graft catalog '$name': set spark.sql.catalog.$name.root=<warehouse dir>")
    rootDir = Paths.get(r)
    Files.createDirectories(rootDir)
  }
  override def name(): String = catalogName

  private def dirOf(ns: Array[String]): Path = ns.foldLeft(rootDir)(_.resolve(_))
  private def tableDir(ident: Identifier): Path =
    dirOf(ident.namespace()).resolve(ident.name())
  private def schemaFile(dir: Path): Path = dir.resolve("_schema.json")
  private def isTableDir(dir: Path): Boolean =
    Files.exists(schemaFile(dir)) || Files.isDirectory(dir.resolve("_manifests"))

  // ---- TableCatalog -------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = dirOf(namespace)
    if (!Files.isDirectory(d)) throw new NoSuchNamespaceException(namespace)
    Files.list(d).iterator().asScala
      .filter(p => Files.isDirectory(p) && isTableDir(p))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean = isTableDir(tableDir(ident))

  override def loadTable(ident: Identifier): Table = {
    val d = tableDir(ident)
    if (!isTableDir(d)) throw new NoSuchTableException(ident)
    val root = d.toString
    val cur = SnapshotTable.currentVersion(root)
    val schema =
      if (cur > 0)
        // the exposed LOGICAL schema; column DEFAULTs re-attach as
        // field metadata (the analyzer's INSERT-fill keys)
        SnapshotSourceUtil.exposedSchema(root, cur, defaults = true)
      else
        DataType.fromJson(new String(Files.readAllBytes(schemaFile(d))))
          .asInstanceOf[StructType]
    new SnapshotDsv2Table(root, schema, CaseInsensitiveStringMap.empty())
  }

  /** SQL time travel — `SELECT ... FROM cat.tbl VERSION AS OF <v>`
    * resolves here (Spark's TimeTravelSpec → TableCatalog.loadTable
    * with a version string). The returned table is pinned: every scan
    * plans against that snapshot's manifest AND its schema as of that
    * version (a later widening never leaks phantom columns into a
    * historical read), and writes/deletes are refused. Planning cost
    * is the same one-manifest read as a current-version load — at
    * 100 TB, time travel is free at plan time because data files are
    * immutable and the manifest IS the snapshot. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val d = tableDir(ident)
    if (!isTableDir(d)) throw new NoSuchTableException(ident)
    val root = d.toString
    // a NUMBER or a TAG name (Iceberg's `VERSION AS OF 'ref'`) — the
    // shared resolver decodes both against the current version's refs
    val v = SnapshotTable.resolveVersionRef(root, version.trim)
    val cur = SnapshotTable.currentVersion(root)
    require(v >= 1 && v <= cur,
      s"graft catalog: $root has versions 1..$cur, no version $v")
    // a vacuumed version passes the range check but its manifest is
    // gone — surface the same clean error TIMESTAMP AS OF produces,
    // not a raw filesystem exception mid-planning
    // time travel resolves the mapping AS OF the snapshot: a read
    // before a RENAME surfaces the old names (Delta's contract)
    val schema = try SnapshotSourceUtil.exposedSchema(root, v) catch {
      case _: java.nio.file.NoSuchFileException => throw new IllegalArgumentException(
        s"graft catalog: version $v of $root was vacuumed away — " +
          "its snapshot is no longer addressable")
    }
    new SnapshotDsv2Table(root, schema, CaseInsensitiveStringMap.empty(), Some(v))
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands the timestamp in MICROSECONDS
    * since epoch; resolve to the NEWEST version whose commit landed at
    * or before it (Delta's contract), using the commit clock
    * [[SnapshotTable.commitTimeMillis]] — the IN-COMMIT timestamp when
    * the manifest carries one (immune to mtime churn from table
    * copies/restores), manifest mtime for pre-ICT versions. Versions
    * vacuumed away are skipped — they are no longer addressable
    * snapshots. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val d = tableDir(ident)
    if (!isTableDir(d)) throw new NoSuchTableException(ident)
    val root = d.toString
    val cur = SnapshotTable.currentVersion(root)
    val tsMillis = timestamp / 1000L
    // the SHARED resolver (versionAtOrBefore): skips ONLY vacuumed
    // versions — a gated version (unknown reader feature) refuses
    // loudly instead of being silently skipped for a stale snapshot
    val v = SnapshotTable.versionAtOrBefore(root, tsMillis)
      .getOrElse(throw new IllegalArgumentException(
        s"graft catalog: $root has no commit at or before timestamp ${tsMillis}ms"))
    loadTable(ident, v.toString)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    require(partitions.isEmpty,
      "graft catalog: PARTITIONED BY is not supported — cluster with OPTIMIZE ... CLUSTER BY")
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val d = tableDir(ident)
    Files.createDirectories(d)
    Files.write(schemaFile(d), schema.json.getBytes("UTF-8"))
    new SnapshotDsv2Table(d.toString, schema, CaseInsensitiveStringMap.empty())
  }

  private def toStruct(
      cols: Array[org.apache.spark.sql.connector.catalog.Column]): StructType =
    StructType(cols.map(c => org.apache.spark.sql.types.StructField(
      c.name(), c.dataType(), c.nullable())))

  /** Declared so Spark's parser accepts `GENERATED ALWAYS AS IDENTITY`
    * in CREATE TABLE column lists and routes it to the Column[]
    * createTable below (x43's create-time spelling). */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      // column DEFAULTs: the fill happens ANALYZER-side off the
      // StructField metadata the table exposes — declaring the
      // capability is what lets CREATE TABLE carry DEFAULT clauses
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** `CREATE TABLE (... , id BIGINT GENERATED ALWAYS AS IDENTITY)` —
    * the create-time identity spelling (Delta's). The identity values
    * ARE the engine's dense row-tracking ids (x43), engine-owned.
    * `START WITH` is HONORED (r17) as a read-side offset over the
    * 0-based engine ids — the bare spelling parses as start=1, so an
    * undeclared table starts at 1, exactly Delta's default.
    * `INCREMENT BY` ≠ 1 refuses loudly (the values are the row ids;
    * scaled steps would break the id⇄position arithmetic), and
    * `GENERATED BY DEFAULT` (explicit inserts allowed) contradicts
    * the ALWAYS ownership contract. The identity metadata lives in
    * the manifest, which an empty table lacks — the declaration parks
    * as a pending marker the FIRST commit applies (seed rows claim
    * [start, start+rows) exactly as a manual declare would). */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    val (idCols, dataCols) = columns.partition(_.identityColumnSpec() != null)
    // column DEFAULTs at CREATE: the declared SQL rides the stored
    // schema as StructField metadata (the analyzer's fill keys) for
    // the pre-first-commit window, AND parks as pending `default.`
    // manifest keys the first commit applies — from then on loadTable
    // re-attaches the metadata from the manifest (the footer-derived
    // schema carries none)
    val defaults: Seq[(String, String)] = dataCols.toSeq
      .filter(_.defaultValue() != null)
      .map(c => c.name() -> c.defaultValue().getSql)
    defaults.foreach { case (c, sql) =>
      require(sql != null && sql.nonEmpty,
        s"graft catalog: DEFAULT for column $c has no SQL form") }
    def withDefaultMeta(st: StructType): StructType =
      if (defaults.isEmpty) st
      else StructType(st.fields.map { f =>
        defaults.find(_._1.equalsIgnoreCase(f.name)) match {
          case Some((_, sql)) => f.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putString("CURRENT_DEFAULT", sql)
              .putString("EXISTS_DEFAULT", sql).build())
          case None => f
        }
      })
    def parkDefaults(root: String): Unit =
      if (defaults.nonEmpty)
        Files.write(SnapshotTable.pendingDefaultsFile(root),
          defaults.map { case (c, e) => s"$c\t$e" }.mkString("\n").getBytes("UTF-8"))
    if (idCols.isEmpty) {
      val t = createTable(ident, withDefaultMeta(toStruct(columns)),
        partitions, properties)
      parkDefaults(tableDir(ident).toString)
      return t
    }
    require(idCols.length == 1,
      "graft catalog: one GENERATED ALWAYS AS IDENTITY column per table")
    val idc = idCols.head
    val spec = idc.identityColumnSpec()
    require(idc.dataType() == org.apache.spark.sql.types.LongType,
      s"graft catalog: identity column ${idc.name()} must be BIGINT " +
        s"(got ${idc.dataType().simpleString}) — the values are the engine's row ids")
    require(!spec.isAllowExplicitInsert,
      s"graft catalog: GENERATED BY DEFAULT is not supported — identity values " +
        "are engine-owned (GENERATED ALWAYS)")
    // START WITH is honored (r17) as a READ-SIDE offset over the
    // engine's dense 0-based row ids; only a non-unit INCREMENT is
    // outside the envelope (the values ARE the row ids, scaled steps
    // would break the id⇄position arithmetic). NOTE Spark's parser
    // delivers start=1 for the bare spelling, so an undeclared start
    // begins at 1 — exactly Delta's default.
    require(spec.getStep == 1,
      s"graft catalog: INCREMENT BY ${spec.getStep} — identity values are the " +
        "engine's dense row ids (step 1); custom increments are not supported")
    require(dataCols.nonEmpty,
      "graft catalog: an identity-only table has no data columns to commit")
    require(partitions.isEmpty,
      "graft catalog: PARTITIONED BY is not supported — cluster with OPTIMIZE ... CLUSTER BY")
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val d = tableDir(ident)
    val root = d.toString
    SnapshotTable.validateIdent(root, "identity column", idc.name())
    val dataSchema = withDefaultMeta(toStruct(dataCols))
    require(!dataSchema.fieldNames.exists(_.equalsIgnoreCase(idc.name())),
      s"graft catalog: duplicate column ${idc.name()}")
    Files.createDirectories(d)
    Files.write(schemaFile(d), dataSchema.json.getBytes("UTF-8"))
    Files.write(SnapshotTable.pendingIdentityFile(root),
      s"${idc.name()}\t${spec.getStart}".getBytes("UTF-8"))
    parkDefaults(root)
    new SnapshotDsv2Table(root, dataSchema, CaseInsensitiveStringMap.empty())
  }

  /** ALTER TABLE ADD COLUMN — METADATA-ONLY widening (Delta's design:
    * the log, not the files, owns the schema): the commit appends no
    * data files and rewrites none; it re-lists the current entries
    * under a widened all-nullable schema capture (`#schemaJson`) plus
    * the evolution marker, so every existing file null-fills the new
    * column at read time and the NEXT ingest may carry it. At 100 TB
    * adding a column costs one manifest commit, never a table rewrite.
    * Historical versions keep their own width (time travel reads the
    * schema AS OF the snapshot). RENAME COLUMN and DROP
    * COLUMN are metadata-only commits through COLUMN MAPPING (see
    * [[SnapshotTable.renameColumn]]/[[SnapshotTable.dropColumn]] —
    * logical→physical indirection in the log; under a mapping, an
    * added column's storage name is freshly minted so re-adding a
    * dropped name can never resurrect old values). Retype/reposition
    * are refused — those genuinely need a rewrite. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val d = tableDir(ident)
    if (!isTableDir(d)) throw new NoSuchTableException(ident)
    val root = d.toString
    // ALTER TABLE ... SET/UNSET TBLPROPERTIES — the SQL spelling for
    // the table flags (Delta's `delta.enableChangeDataFeed` shape):
    // `cdf` = 'row' opts into row-grain CDC emission, `dvmode` = 'on'
    // into merge-on-read deletes/updates. One CAS metadata commit for
    // the whole statement; unknown keys refuse loudly rather than
    // silently recording dead weight in the manifest.
    if (changes.nonEmpty && changes.forall(c =>
        c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty])) {
      val sets = changes.collect { case p: TableChange.SetProperty =>
        p.property() -> p.value() }
      val unsets = changes.collect { case p: TableChange.RemoveProperty => p.property() }
      // ONE policy point for both the catalog and path-SQL spellings:
      // check./gen. keys dispatch to the resident-validating verbs
      // (one per statement — each commits independently, so a
      // multi-key statement could half-apply, r14 review); plain keys
      // go to the idempotent flag engine
      SnapshotTable.applyTableProperties(
        org.apache.spark.sql.SparkSession.active, root, sets, unsets)
      return loadTable(ident)
    }
    // RENAME/DROP COLUMN — column-mapping evolution (metadata-only
    // commits; see SnapshotTable.renameColumn/dropColumn). Spark sends
    // each such statement as a single change.
    changes.toList match {
      case List(rn: TableChange.RenameColumn) =>
        // Spark hands nested references as a fieldNames ARRAY — join
        // to the dotted spelling renameColumn's field route speaks. A
        // backticked name carrying a literal dot would be
        // indistinguishable after the join, so it refuses (such a
        // column could never have been created here anyway —
        // validateIdent rejects dots).
        require(rn.fieldNames().forall(!_.contains(".")),
          "graft catalog: RENAME COLUMN — a (backticked) column name " +
            "containing a literal dot is not addressable")
        require(SnapshotTable.currentVersion(root) > 0,
          "graft catalog: RENAME COLUMN needs a committed version — " +
            "on a never-written table, DROP and re-CREATE instead")
        SnapshotTable.renameColumn(org.apache.spark.sql.SparkSession.active,
          root, rn.fieldNames().mkString("."), rn.newName())
        return loadTable(ident)
      case List(del: TableChange.DeleteColumn) =>
        require(del.fieldNames().forall(!_.contains(".")),
          "graft catalog: DROP COLUMN — a (backticked) column name " +
            "containing a literal dot is not addressable")
        require(SnapshotTable.currentVersion(root) > 0,
          "graft catalog: DROP COLUMN needs a committed version — " +
            "on a never-written table, DROP and re-CREATE instead")
        SnapshotTable.dropColumn(org.apache.spark.sql.SparkSession.active,
          root, del.fieldNames().mkString("."))
        return loadTable(ident)
      // ALTER COLUMN ... SET/DROP DEFAULT — metadata-only (Spark sends
      // DROP DEFAULT as an update to the empty string)
      case List(ud: TableChange.UpdateColumnDefaultValue) =>
        require(ud.fieldNames().length == 1,
          "graft catalog: ALTER COLUMN DEFAULT supports top-level columns only")
        require(SnapshotTable.currentVersion(root) > 0,
          "graft catalog: ALTER COLUMN DEFAULT needs a committed version")
        val sql = Option(ud.newDefaultValue()).getOrElse("")
        if (sql.isEmpty)
          SnapshotTable.dropColumnDefault(root, ud.fieldNames()(0))
        else
          SnapshotTable.setColumnDefault(
            org.apache.spark.sql.SparkSession.active, root,
            ud.fieldNames()(0), sql)
        return loadTable(ident)
      // ALTER COLUMN ... TYPE — metadata-only TYPE WIDENING
      // (int→long/double, float→double); anything else refuses inside
      // widenColumn with the rewrite guidance
      case List(ut: TableChange.UpdateColumnType) =>
        require(ut.fieldNames().length == 1,
          "graft catalog: ALTER COLUMN TYPE supports top-level columns only")
        require(SnapshotTable.currentVersion(root) > 0,
          "graft catalog: ALTER COLUMN TYPE needs a committed version")
        SnapshotTable.widenColumn(org.apache.spark.sql.SparkSession.active,
          root, ut.fieldNames()(0), ut.newDataType())
        return loadTable(ident)
      case _ => () // fall through to the ADD COLUMN path
    }
    val supported: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.DoubleType, org.apache.spark.sql.types.FloatType,
      org.apache.spark.sql.types.BooleanType, org.apache.spark.sql.types.StringType)
    // validate EVERY change before committing ANY: an ALTER is one
    // statement — applying column `a` and then refusing column `b`
    // would leave a half-applied, unretryable widening
    val adds: Seq[(String, org.apache.spark.sql.types.DataType)] = changes.map {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "graft catalog: ADD COLUMN supports top-level columns only")
        require(add.position() == null,
          "graft catalog: ADD COLUMN position is not supported — new columns append at the end")
        require(add.isNullable,
          "graft catalog: an added column must be nullable — existing rows hold null")
        // ADD COLUMN ... DEFAULT would SILENTLY diverge from its SQL
        // meaning here: the standard backfills existing rows with the
        // default, but this format null-fills added columns — refuse
        // loudly instead of dropping the clause (r16 review)
        require(add.defaultValue() == null,
          "graft catalog: ADD COLUMN ... DEFAULT is not supported — existing " +
            "rows null-fill added columns here, they would NOT take the " +
            "default the SQL standard promises; add the column, then " +
            "ALTER COLUMN ... SET DEFAULT for FUTURE inserts if NULL history " +
            "is acceptable")
        require(supported.contains(add.dataType()),
          s"graft catalog: unsupported added-column type ${add.dataType()}")
        // delimiter/nested guard: a name the colmap/meta encodings can't
        // carry must refuse HERE, not brick the table on next read
        SnapshotTable.validateIdent(d.toString, "graft catalog: ADD COLUMN",
          add.fieldNames()(0))
        add.fieldNames()(0) -> add.dataType()
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER TABLE change $other — supported: " +
          "ADD COLUMN, RENAME COLUMN, DROP COLUMN (retype/reposition need a rewrite)")
    }
    require(adds.map(_._1.toLowerCase).distinct.size == adds.size,
      "graft catalog: duplicate column name in ADD COLUMNS")
    if (adds.nonEmpty) {
      if (SnapshotTable.currentVersion(root) == 0) {
        // never-written table: the declared schema file IS the schema
        val cur = DataType.fromJson(
          new String(Files.readAllBytes(schemaFile(d)))).asInstanceOf[StructType]
        adds.foreach { case (name, _) =>
          require(!cur.fieldNames.exists(_.equalsIgnoreCase(name)),
            s"graft catalog: column $name already exists") }
        Files.write(schemaFile(d), adds.foldLeft(cur) { case (sch, (name, dt)) =>
          sch.add(name, dt, nullable = true) }.json.getBytes("UTF-8"))
      } else {
        // ONE CAS-retried metadata commit for the whole statement: same
        // file list, capture widened by every added column. The shared
        // retry policy reclaims a dead committer's zero-byte claim and
        // fails loudly instead of busy-spinning forever against it.
        SnapshotTable.casCommit(root) { v =>
          val cur = SnapshotSourceUtil.physicalSchema(root, v)
          // add-column evolution over NESTED-typed tables is
          // in-envelope since r17: Spark's parquet reader null-fills
          // the added column per file, so the evolved table keeps
          // reading on this route
          // uniqueness runs in the LOGICAL namespace (what users see)
          val map = SnapshotTable.colMap(root, v)
          val logicalNames = map.map(_.map(_._1)).getOrElse(cur.fieldNames.toSeq)
          adds.foreach { case (name, _) =>
            require(!logicalNames.exists(_.equalsIgnoreCase(name)),
              s"graft catalog: column $name already exists") }
          // under column mapping a new column gets a FRESH physical
          // (storage) name, so re-adding a previously DROPPED logical
          // name can never resurrect the old files' values — they live
          // under the old physical name, which stays unread
          val physAdds = adds.map { case (name, dt) =>
            val phys = map match {
              case None => name
              case Some(_) =>
                s"${name}_${SnapshotTable.uniqueTag()}"
            }
            (name, phys, dt)
          }
          val union = StructType(
            (cur.fields.map(_.copy(nullable = true)) ++
              physAdds.map { case (_, phys, dt) =>
                org.apache.spark.sql.types.StructField(phys, dt, nullable = true) }).toSeq)
          val nextMap = map.map(m => m ++ physAdds.map { case (l, p, _) => (l, p) })
          val priorAdds = SnapshotTable.manifestMeta(root, v).get("schema")
            .map(_.stripPrefix("evolved:+") + ",").getOrElse("")
          val names = adds.map(_._1).mkString(",")
          val physNames = physAdds.map(_._2).mkString(",")
          SnapshotTable.commitEntries(root, v, SnapshotTable.manifestEntries(root, v),
            shardSize = 16, SnapshotTable.carriedMeta(root, v) +
              ("schema" -> s"evolved:+$priorAdds$physNames") +
              ("schemaJson" -> union.json) +
              ("alter" -> s"addcol:$names") ++
              nextMap.map("colmap" -> SnapshotTable.fmtColMap(_)))
        }
        // CREATE-time declarations that were waiting on a column this
        // widening just made resident apply NOW (r16 ADVICE: pending
        // DEFAULTs previously applied only on data commits, leaving a
        // window where column-list INSERTs landed NULL where the
        // CREATE-declared DEFAULT promised a fill)
        SnapshotTable.applyPendingIdentity(
          org.apache.spark.sql.SparkSession.active, root)
      }
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val d = tableDir(ident)
    if (!isTableDir(d)) return false
    // delete deepest-first; the table dir holds only snapshot state
    Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(dirOf(newIdent.namespace()))
    Files.move(tableDir(oldIdent), tableDir(newIdent))
  }

  // ---- SupportsNamespaces (directories that are not tables) ---------

  override def defaultNamespace(): Array[String] = Array.empty

  override def listNamespaces(): Array[Array[String]] =
    Files.list(rootDir).iterator().asScala
      .filter(p => Files.isDirectory(p) && !isTableDir(p))
      .map(p => Array(p.getFileName.toString))
      .toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val d = dirOf(namespace)
    if (!Files.isDirectory(d)) throw new NoSuchNamespaceException(namespace)
    Files.list(d).iterator().asScala
      .filter(p => Files.isDirectory(p) && !isTableDir(p))
      .map(p => namespace :+ p.getFileName.toString)
      .toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val d = dirOf(namespace)
    namespace.isEmpty || (Files.isDirectory(d) && !isTableDir(d))
  }

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = {
    Files.createDirectories(dirOf(namespace))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog: namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val d = dirOf(namespace)
    if (!namespaceExists(namespace) || namespace.isEmpty) return false
    val empty = !Files.list(d).iterator().hasNext
    if (!empty && !cascade) throw new IllegalStateException(
      s"graft catalog: namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
    Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    true
  }
}
