package graft.sources

import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptContext, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.schema.MessageType

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsOverwrite, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory, PartitionedFile, SchemaColumnConvertNotSupportedException}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{AlwaysTrue, And, DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.operators.SnapshotTable

/** DataSource V2 connector for the manifest-committed snapshot table —
  * the API surface a table format exposes to every Spark user, not just
  * callers of the Scala helpers:
  *
  *   - `spark.read.format("graft-snapshot").load(root)` — a batch scan
  *     pinned to the CURRENT version at planning time (snapshot
  *     isolation by construction: the file list is resolved once);
  *     `.option("version", n)` time-travels;
  *   - `spark.readStream.format("graft-snapshot").load(root)` — a
  *     micro-batch stream whose OFFSETS ARE TABLE VERSIONS: each
  *     trigger ingests the files appended by the next commit(s)
  *     (`maxVersionsPerTrigger`, default 1 — one commit per batch, the
  *     Delta/Iceberg streaming-read shape). Offsets are plain version
  *     numbers → checkpoint/restart replays the exact manifest diff,
  *     and since planning is pure manifest arithmetic the source is
  *     fully replayable (exactly-once with an idempotent sink).
  *     Commits that REMOVE files (merge/optimize rewrites) are not
  *     streamable and fail loudly rather than emitting wrong deltas —
  *     the append-only contract streaming reads of real table formats
  *     enforce by default. `.option("readChangeFeed", "true")` switches
  *     to the CHANGE DATA FEED mode that lifts that restriction: each
  *     commit's manifest diff streams as row-level `insert`/`delete`
  *     changes tagged `_change_type`/`_commit_version`, so DML commits
  *     upstream keep a downstream pipeline alive (see
  *     [[SnapshotCdfMicroBatchStream]] for the file-grain contract).
  *     The same option on a BATCH read serves the
  *     (`afterVersion`, `endingVersion`] window in one scan.
  *     NOTE the window naming: the batch option is `afterVersion`
  *     because it is EXCLUSIVE ("changes after this version" — the
  *     resume-token shape). `startingVersion` is REFUSED on the batch
  *     path: Delta's `table_changes(t, startingVersion)` is INCLUSIVE,
  *     and honoring the name with exclusive meaning silently dropped a
  *     commit for ported pipelines (a Delta migrant passes
  *     `afterVersion = delta_start - 1`). The STREAMING path keeps
  *     `startingVersion` as its initial offset (exclusive, the offset
  *     contract); `startingTimestamp` resolves a wall-clock instant to
  *     the first commit at-or-after it via the same commit-time source
  *     time travel uses (in-commit timestamps when present).
  *
  * Data files decode through Spark's own parquet reader and encode
  * through its writer (`ParquetFileFormat`, the format the path API
  * scans and writes with), so both routes share one type mapping.
  * Projection pushdown is real: `pruneColumns` narrows the schema that
  * reader is asked for, so a 2-column aggregate over a wide table
  * decodes 2 columns (SnapshotSourceSpec pins the scan's readSchema).
  * Each data file is one InputPartition — at 100 TB planning ships
  * paths, never data, and task parallelism is file-granular, the same
  * unit the manifest commits in. */
class SnapshotTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-snapshot"

  private def root(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft-snapshot: .load(<table root>) is required")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val r = root(options)
    // an EMPTY table (no committed version) has no schema yet — the
    // write path supplies the query's schema instead (first append
    // creates v1); reads of an empty table fail at scan build
    if (SnapshotTable.currentVersion(r) == 0) new StructType()
    else SnapshotSourceUtil.branchName(options) match {
      case Some(b) =>
        // the branch audit read (r20): schema resolves through the
        // branch's BASE version; the staged entries carry no schema
        // changes (appendToBranch's contract)
        require(options.get("version") == null,
          s"graft-snapshot: branch and version options conflict on $r — " +
            "a branch read IS a version choice")
        require(!SnapshotSourceUtil.cdfEnabled(options) &&
            !SnapshotSourceUtil.rowIdsEnabled(options),
          s"graft-snapshot: branch reads serve the staged SNAPSHOT of $r — " +
            "no change feed and no row-id contract until publish")
        schemaAt(r, SnapshotTable.branchState(r, b)._3, options)
      case None =>
        // the option takes a NUMBER or a TAG name (Iceberg's named refs)
        val v = Option(options.get("version"))
          .map(SnapshotTable.resolveVersionRef(r, _))
          .getOrElse(SnapshotTable.currentVersion(r))
        schemaAt(r, v, options)
    }
  }

  /** The exposed LOGICAL schema as of version `v`: renamed columns
    * surface under their current names, dropped columns don't surface
    * at all; a version-pinned load resolves schema AND mapping as of
    * ITS snapshot (time travel keeps the old names). Shared by
    * [[inferSchema]] and the tag-pinning branch of [[getTable]] so a
    * pinned ref's schema and scan derive from the SAME resolution. */
  private def schemaAt(r: String, v: Int,
      options: CaseInsensitiveStringMap): StructType =
    // change-data-feed reads surface the table's data columns plus the
    // change metadata columns (Delta's CDF column contract) — a diff
    // row has no id contract, so no identity column
    if (SnapshotSourceUtil.cdfEnabled(options))
      SnapshotSourceUtil.withCdfColumns(
        SnapshotSourceUtil.exposedSchema(r, v, identity = false))
    else {
      val withId = SnapshotSourceUtil.exposedSchema(r, v)
      if (SnapshotSourceUtil.rowIdsEnabled(options)) {
        // `.option("rowIds", "true")`: the path-route spelling of the
        // x41 row-id read — the table schema plus `_row_id` (the
        // catalog route exposes the same column as a DSv2 METADATA
        // column, no option needed). Requires tracking AS OF the
        // scanned version: a pre-enable time travel has no id story.
        require(SnapshotTable.manifestMeta(r, v).get("rowtracking").contains("on"),
          s"graft-snapshot rowIds: row tracking is not enabled on $r at version $v " +
            "(SnapshotTable.enableRowTracking)")
        SnapshotSourceUtil.withRowIdColumn(withId)
      } else withId
    }

  // the write path hands the incoming query's schema to getTable
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts0 = new CaseInsensitiveStringMap(properties)
    val r = root(opts0)
    // pin a TAG ref to its numeric version HERE, once, and REBUILD the
    // schema from that same resolution: inferSchema resolved the tag
    // independently, so a DROP TAG + re-point between the two calls —
    // or between load and the lazy scan build — would otherwise serve
    // one snapshot's schema over another snapshot's data. Everything
    // downstream derives from the one version pinned here.
    SnapshotSourceUtil.branchName(opts0) match {
      case Some(b) =>
        // pin the branch's BASE version here, once (same one-resolution
        // discipline as tags below): the scan still re-reads the
        // branch's ENTRY list lazily — a FAST FORWARD or DROP between
        // load and scan refuses loudly through branchState
        val base = SnapshotTable.branchState(r, b)._3
        val m = new java.util.HashMap[String, String](properties)
        m.put("version", base.toString)
        val opts = new CaseInsensitiveStringMap(m)
        return new SnapshotDsv2Table(r, schemaAt(r, base, opts), opts)
      case None => ()
    }
    Option(opts0.get("version")).filter(!_.forall(_.isDigit)) match {
      case Some(ref) =>
        val v = SnapshotTable.resolveVersionRef(r, ref)
        val m = new java.util.HashMap[String, String](properties)
        m.put("version", v.toString)
        val opts = new CaseInsensitiveStringMap(m)
        new SnapshotDsv2Table(r, schemaAt(r, v, opts), opts)
      case None => new SnapshotDsv2Table(r, schema, opts0)
    }
  }
}

private[sources] object SnapshotSourceUtil {

  /** Byte-budgeted streaming admission (Delta's `maxBytesPerTrigger`):
    * the newest version in `(cur, latest]` such that the admitted
    * window's DATA bytes fit `maxBytes` — pure manifest arithmetic
    * over the r19 `__bytes` entry sizes (pre-r19 entries degrade to
    * one stat each), reading only the manifests it actually admits
    * plus one, so a first catch-up on a deep-history table prices by
    * the BATCH it returns, not the backlog. A version's cost is its
    * newly-added files' bytes; with `bothSides` (the change feed,
    * which reads removed files to emit their delete rows) removed
    * files count too. The FIRST version past `cur` always admits even
    * over budget (Delta's contract — a single oversized commit must
    * not wedge the stream), and `maxVersions` caps the walk
    * regardless, so the batch-boundary-is-commit-boundary contract
    * holds under every option combination. Cost is an UPPER bound by
    * design: a skipped change commit's files never stream, and a
    * row-grain CDC commit reads its (small) change files instead of
    * the full add/remove pair — over-counting only under-admits,
    * never tears a commit. */
  def admitUpTo(root: String, cur: Int, latest: Int, maxVersions: Int,
      maxBytes: Option[Long], bothSides: Boolean): Int = {
    val capped = math.min(latest.toLong, cur.toLong + maxVersions).toInt
    maxBytes match {
      case None => capped
      case Some(budget) =>
        def byteMap(v: Int): Map[String, Long] =
          SnapshotTable.manifestEntries(root, v)
            .map(e => e.rel -> SnapshotTable.entryBytes(root, e)).toMap
        var v = cur
        var spent = 0L
        var prev = if (cur == 0) Map.empty[String, Long] else byteMap(cur)
        var stop = false
        while (!stop && v < capped) {
          val next = byteMap(v + 1)
          val cost = (next.keySet -- prev.keySet).toSeq.map(next).sum +
            (if (bothSides) (prev.keySet -- next.keySet).toSeq.map(prev).sum
             else 0L)
          if (v > cur && spent + cost > budget) stop = true
          else { spent += cost; v += 1; prev = next }
        }
        v
    }
  }

  /** Change-data-feed metadata columns (Delta's CDF names): every CDF
    * row carries its change kind and the commit version that produced
    * it. `_commit_timestamp` is deliberately absent — manifest mtimes
    * are resolvable but not replay-stable, and the version IS the
    * replayable identity of a commit. */
  val CdfTypeCol = "_change_type"
  val CdfVersionCol = "_commit_version"
  val CdfTimestampCol = "_commit_timestamp"

  def cdfEnabled(o: CaseInsensitiveStringMap): Boolean =
    "true".equalsIgnoreCase(o.get("readChangeFeed"))

  /** The row-id read's OUTPUT column (x41): the logical name
    * [[SnapshotTable.readWithRowIds]] serves, now also the connector's
    * — `.option("rowIds", "true")` on the path route, a DSv2 metadata
    * column (`SELECT _row_id, ...`) on the catalog route. */
  val RowIdField = "_row_id"

  def rowIdsEnabled(o: CaseInsensitiveStringMap): Boolean =
    "true".equalsIgnoreCase(o.get("rowIds"))

  /** `.option("branch", "<name>")` — read a BRANCH's staged state
    * (base snapshot + staged appends) through the standard reader:
    * the audit read of write-audit-publish on the route every Spark
    * user already takes. Resolves through the branch's BASE version
    * for schema/colmap/DV purposes (staging never changes them). */
  def branchName(o: CaseInsensitiveStringMap): Option[String] =
    Option(o.get("branch")).filter(_.nonEmpty)

  def withRowIdColumn(base: StructType): StructType = {
    require(!base.fieldNames.contains(RowIdField),
      s"graft-snapshot rowIds: table columns collide with $RowIdField")
    base.add(RowIdField, LongType, nullable = true)
  }

  /** The LOGICAL schema version `v` of `root` exposes on every DSv2
    * route (path load, catalog, time travel): the physical schema of
    * record with the column mapping resolved (renames surface, dropped
    * columns don't), plus — unless `identity` is off, as on the change
    * feed — the IDENTITY column (engine-assigned, = the row tracking
    * id under a user-facing name; the twin of [[SnapshotTable.readAt]]'s
    * identity append). `defaults` re-attaches column DEFAULTs as field
    * metadata (the catalog's INSERT-fill keys). */
  def exposedSchema(root: String, v: Int, identity: Boolean = true,
      defaults: Boolean = false): StructType = {
    val base = logicalStruct(physicalSchema(root, v), SnapshotTable.colMap(root, v))
    val withId = SnapshotTable.identityCol(root, v) match {
      case Some(ic) if identity && !base.fieldNames.contains(ic) =>
        base.add(ic, LongType, nullable = true)
      case _ => base
    }
    if (defaults) withDefaults(withId, root, v) else withId
  }

  /** The PHYSICAL (file-named) Spark schema of record of version `v`:
    * the captured union when the version has one (what the path API's
    * read core scans with), else the footer schema — one footer on a
    * uniform table, the union on an evolved one — converted by
    * [[sparkSchema]]. */
  def physicalSchema(root: String, v: Int): StructType = {
    require(v > 0, s"graft-snapshot: $root has no committed version")
    SnapshotTable.manifestMeta(root, v).get("schemaJson") match {
      case Some(js) => DataType.fromJson(js).asInstanceOf[StructType]
      case None => sparkSchema(tableMessageType(root, v))
    }
  }

  /** Re-attach column-DEFAULT metadata (the analyzer's
    * CURRENT_DEFAULT/EXISTS_DEFAULT fill keys) from the manifest's
    * `default.<col>` state — the footer-derived schema carries none. */
  private def withDefaults(base: StructType, root: String, v: Int): StructType = {
    val ds = SnapshotTable.columnDefaults(root, v)
    if (ds.isEmpty) base
    else StructType(base.fields.map { f =>
      ds.collectFirst { case (c, sql) if c.equalsIgnoreCase(f.name) => sql } match {
        case Some(sql) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString("CURRENT_DEFAULT", sql)
            .putString("EXISTS_DEFAULT", sql).build())
        case None => f
      }
    })
  }

  def withCdfColumns(base: StructType): StructType = {
    require(!base.fieldNames.exists(n =>
        n == CdfTypeCol || n == CdfVersionCol || n == CdfTimestampCol),
      s"graft-snapshot: table columns collide with CDF metadata " +
        s"($CdfTypeCol/$CdfVersionCol/$CdfTimestampCol)")
    base.add(CdfTypeCol, StringType, nullable = false)
      .add(CdfVersionCol, LongType, nullable = false)
      // Delta's third CDF column: the producing commit's wall-clock
      // (in-commit timestamp when present — see SnapshotTable
      // .commitTimeMillis)
      .add(CdfTimestampCol, org.apache.spark.sql.types.TimestampType,
        nullable = false)
  }

  private def footerSchema(root: String, rel: String): MessageType =
    ParquetFooters.withReader(ParquetFooters.inputFile(root, rel))(
      _.getFooter.getFileMetaData.getSchema)

  /** The footer schema of version `v` of a table without a schema
    * capture (see [[physicalSchema]]) — as of that snapshot, so a later
    * widening never leaks phantom columns into a historical read. */
  private def tableMessageType(root: String, v: Int): MessageType = {
    val entries = SnapshotTable.manifestEntries(root, v)
    val meta = SnapshotTable.manifestMeta(root, v)
    // EVOLVED (mixed-width) versions read each file by NAME through
    // Spark's parquet reader, which null-fills the columns a file
    // lacks — also NESTED ones, so add-column evolution over a
    // struct/array/map-bearing table is in-envelope; the union below
    // enforces that the nested columns THEMSELVES never change shape
    // across files (add-column evolution only, same rule as
    // primitives).
    if (entries.isEmpty)
      // a zero-entry version (delete-all) is plannable only through
      // its schema capture — refuse with an accurate diagnosis instead
      // of crashing on entries.head (a legacy empty commit)
      throw new IllegalStateException(s"graft-snapshot: version $v of $root has no " +
        "file entries and no schema capture — read it through SnapshotTable.readAt")
    else if (!meta.contains("schema"))
      // the overwhelmingly common case: uniform-width files — ONE
      // footer read prices the whole planning step
      footerSchema(root, entries.head.rel)
    else {
      // evolved (mixed-width) version: the table schema is the UNION of
      // the file schemas, in first-appearance order — the same answer
      // parquet mergeSchema resolves, priced the same way (a footer
      // read per file, planning-time only, no data pages). The reader
      // null-fills per file (see SnapshotFileReaderFactory).
      val seen = new java.util.LinkedHashMap[String, org.apache.parquet.schema.Type]()
      val hits = new java.util.HashMap[String, Integer]()
      val optionalCarrier = new java.util.HashSet[String]()
      entries.foreach { e =>
        footerSchema(root, e.rel).getFields.asScala.foreach { f =>
          val prev = seen.putIfAbsent(f.getName, f)
          if (f.isPrimitive) {
            require(prev == null || (prev.isPrimitive &&
                prev.asPrimitiveType().getPrimitiveTypeName ==
                  f.asPrimitiveType().getPrimitiveTypeName &&
                prev.asPrimitiveType().getLogicalTypeAnnotation ==
                  f.asPrimitiveType().getLogicalTypeAnnotation),
              // primitive name alone is not type identity: plain INT64
              // vs timestamp-annotated INT64 share it but decode
              // differently — the annotation must agree too (ADVICE r10)
              s"graft-snapshot: evolved table $root has conflicting types for " +
                s"column ${f.getName}: $prev vs $f — add-column evolution only")
          } else {
            // NESTED columns (r17): structural identity up to
            // repetition — a CoW rewrite legitimately flips inner
            // REQUIRED to OPTIONAL, so compare the nullable-normalized
            // Spark types (through the same converter the reader
            // uses), not the raw declarations; a genuinely different
            // shape (new field, retyped element) refuses like a
            // primitive conflict
            require(prev == null || (!prev.isPrimitive &&
                nullNormalized(sparkField(f)) == nullNormalized(sparkField(prev))),
              s"graft-snapshot: evolved table $root has conflicting nested " +
                s"types for column ${f.getName}: $prev vs $f — add-column " +
                "evolution only (nested columns themselves cannot evolve)")
          }
          if (!f.isRepetition(org.apache.parquet.schema.Type.Repetition.REQUIRED))
            optionalCarrier.add(f.getName)
          hits.merge(f.getName, 1, (a, b) => a + b)
        }
      }
      val fields: Iterable[org.apache.parquet.schema.Type] = seen.values().asScala.map { f =>
        // a column absent from ANY file surfaces null there, so the
        // union field must be OPTIONAL even if every carrier file
        // declared it REQUIRED; likewise a column REQUIRED in the first
        // file but OPTIONAL in another may hold nulls — the union takes
        // the WEAKEST repetition across carriers, not the first file's
        val rep =
          if (hits.get(f.getName) == entries.size
              && !optionalCarrier.contains(f.getName)) f.getRepetition
          else org.apache.parquet.schema.Type.Repetition.OPTIONAL
        if (f.isPrimitive) {
          val p = f.asPrimitiveType()
          val b = org.apache.parquet.schema.Types.primitive(p.getPrimitiveTypeName, rep)
          (if (p.getLogicalTypeAnnotation != null) b.as(p.getLogicalTypeAnnotation) else b)
            .named(p.getName)
        } else if (rep == f.getRepetition) f
        else {
          // same group, demoted top-level repetition (the union is a
          // PLANNING artifact — files are read under their own
          // declarations)
          val g = f.asGroupType()
          val b0 = org.apache.parquet.schema.Types.buildGroup(rep)
          val b = if (g.getLogicalTypeAnnotation != null)
            b0.as(g.getLogicalTypeAnnotation) else b0
          g.getFields.asScala.foreach(b.addField)
          b.named(g.getName)
        }
      }
      new MessageType("spark_schema", fields.toList.asJava: java.util.List[org.apache.parquet.schema.Type])
    }
  }

  /** Every nullability flag forced true, recursively — structural
    * type identity up to repetition (the evolution union's nested
    * comparison) and the reader's null-filling request (Spark's own
    * asNullable is private[spark]). */
  private[sources] def nullNormalized(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case StructType(fs) => StructType(fs.map(f =>
      StructField(f.name, nullNormalized(f.dataType), nullable = true)))
    case ArrayType(et, _) => ArrayType(nullNormalized(et), containsNull = true)
    case MapType(kt, vt, _) =>
      MapType(nullNormalized(kt), nullNormalized(vt), valueContainsNull = true)
    case other => other
  }

  /** Parquet schema → Spark schema through Spark's own converter
    * (`ParquetToSparkSchemaConverter` under the session's settings) —
    * the mapping Spark's parquet reader and the path API apply, so
    * dates, decimals, INT96 timestamps, binary and legacy 2-level
    * lists expose as they read. REQUIRED exposes as NOT NULL. */
  def sparkSchema(m: MessageType): StructType =
    new ParquetToSparkSchemaConverter(SQLConf.get).convert(m)

  private def sparkField(f: org.apache.parquet.schema.Type): DataType =
    sparkSchema(new MessageType("spark_schema", f)).head.dataType

  /** Physical (file-named) struct → the LOGICAL schema the table's
    * column mapping exposes: mapped fields rename, unmapped (dropped)
    * fields disappear, order follows the mapping. NESTED entries (r17;
    * ARBITRARY depth since r19) rebuild a mapped struct column's field
    * list the same way, recursively. Identity when the table has no
    * mapping. */
  def logicalStruct(physical: StructType,
      map: Option[Seq[(String, String)]]): StructType = map match {
    case None => physical
    case Some(m0) => logicalStructNode(physical, SnapshotTable.parseColTree(m0))
  }

  private def logicalStructNode(physical: StructType,
      node: SnapshotTable.ColNode): StructType =
    StructType(node.fields.flatMap { case (l, p) =>
      physical.fields.find(_.name == p).map { f =>
        node.children.get(l) match {
          case Some(child) if f.dataType.isInstanceOf[StructType] =>
            f.copy(name = l, dataType =
              logicalStructNode(f.dataType.asInstanceOf[StructType], child))
          case _ => f.copy(name = l)
        }
      }
    })

  /** Logical-named struct → the reader's PHYSICAL request: names
    * translate through the column mapping tree at every depth, mapped
    * struct fields included, since Spark's parquet reader matches
    * fields by name. Output rows are positional, so only
    * `readSchema()` speaks logical. */
  def physicalRequest(logical: StructType,
      map: Option[Seq[(String, String)]]): StructType = {
    def rename(st: StructType, node: SnapshotTable.ColNode): StructType =
      StructType(st.fields.map { f =>
        val dt = (f.dataType, node.children.get(f.name)) match {
          case (s: StructType, Some(child)) => rename(s, child)
          case (other, _) => other
        }
        f.copy(name = node.physicalOf(f.name), dataType = dt)
      })
    map.fold(logical)(m => rename(logical, SnapshotTable.parseColTree(m)))
  }
}

private[sources] class SnapshotDsv2Table(root: String, schema: StructType,
    options: CaseInsensitiveStringMap,
    pinnedVersion: Option[Int] = None)
    extends Table with SupportsRead with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** The catalog-route spelling of the x41 row-id read: on a
    * row-tracked table `_row_id` is a DSv2 METADATA column — `SELECT
    * _row_id, * FROM cat.tbl` (or `.table(...).select("_row_id", ...)`)
    * resolves it like Delta's row-id metadata field, and the scan
    * serves coalesce(materialized __row_id, file base + position)
    * exactly as [[SnapshotTable.readWithRowIds]] does. Empty when
    * tracking is off AS OF this table's version (time travel before the
    * enable commit has no id story) or when the schema already carries
    * the column (the path route's `rowIds` option put it there — a
    * second, conflicting declaration would shadow it). */
  override def metadataColumns():
      Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val v = pinnedVersion.getOrElse(SnapshotTable.currentVersion(root))
    val tracked = v > 0 &&
      SnapshotTable.manifestMeta(root, v).get("rowtracking").contains("on")
    if (!tracked || schema0.fieldNames.contains(SnapshotSourceUtil.RowIdField))
      Array.empty
    else Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = SnapshotSourceUtil.RowIdField
      override def dataType(): org.apache.spark.sql.types.DataType = LongType
      override def isNullable(): Boolean = true
      override def comment(): String =
        "stable row identity (row tracking): survives appends, DV DML, " +
          "copy-on-write rewrites and OPTIMIZE"
    })
  }
  override def name(): String = pinnedVersion match {
    case Some(v) => s"graft_snapshot(`$root`@v$v)"
    case None => s"graft_snapshot(`$root`)"
  }
  override def schema(): StructType = schema0
  private val schema0 = schema
  /** The user-facing table state for `SHOW TBLPROPERTIES` / DESCRIBE
    * EXTENDED — the same keys the SET/UNSET TBLPROPERTIES routes
    * accept (flags, constraints, generation expressions) plus the
    * read-only operational markers. Computed on demand (only the SHOW
    * path calls it), one driver-side manifest read. */
  override def properties(): java.util.Map[String, String] = {
    val v = pinnedVersion.getOrElse(SnapshotTable.currentVersion(root))
    val meta = if (v == 0) Map.empty[String, String]
      else SnapshotTable.manifestMeta(root, v)
    val shown = Set("cdf", "dvmode", "rowtracking", "statsCol", "identity")
    val out = new java.util.HashMap[String, String]()
    meta.foreach { case (k, va) =>
      if (shown.contains(k) || k.startsWith("check.") || k.startsWith("gen.") ||
          k.startsWith("default."))
        out.put(k, va) }
    out
  }
  override def capabilities(): java.util.Set[TableCapability] =
    if (pinnedVersion.isDefined)
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    else
      java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
        TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    // a time-travel load pins every scan to its snapshot, overriding
    // any reader-supplied version option — the catalog already
    // resolved the AS OF clause to this table instance
    val eff = pinnedVersion match {
      case Some(v) =>
        val m = new java.util.HashMap[String, String](o.asCaseSensitiveMap())
        m.put("version", v.toString)
        new CaseInsensitiveStringMap(m)
      case None => o
    }
    new SnapshotScanBuilder(root, schema0, eff)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"graft-snapshot: cannot write to a time-travel snapshot of $root")
    // a DSv2 write with a branch option would silently land on MAIN —
    // staging goes through SnapshotTable.appendToBranch (the verb that
    // owns the branch-manifest CAS), never this route
    require(SnapshotSourceUtil.branchName(info.options()).isEmpty &&
        SnapshotSourceUtil.branchName(options).isEmpty,
      s"graft-snapshot: writes take no branch option on $root — stage with " +
        "SnapshotTable.appendToBranch and publish with FAST FORWARD BRANCH")
    new SnapshotWriteBuilder(root, info)
  }

  /** DELETE FROM ... WHERE through the standard row-level API —
    * copy-on-write like [[SnapshotTable.merge]]: manifest stats prune
    * the rewrite to files that CAN hold matching rows; untouched files'
    * entries (and their footer stats) carry to the new version
    * verbatim, so at 100 TB a day-targeted delete rewrites a day's
    * files, not the table. Rows where the predicate is NULL are kept
    * (SQL DELETE removes only WHERE=TRUE rows). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(SnapshotFilterSql.toColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    require(pinnedVersion.isEmpty,
      s"graft-snapshot: cannot delete from a time-travel snapshot of $root")
    val s = org.apache.spark.sql.SparkSession.active
    val v = SnapshotTable.currentVersion(root)
    if (v == 0) return // empty table: nothing to delete
    val carried = SnapshotTable.carriedMeta(root, v)
    val statsCol = carried.get("statsCol")
    val entries = SnapshotTable.manifestEntries(root, v)
    val cands = statsCol match {
      case Some(c0) =>
        // filters name LOGICAL columns; the stats column's meta name is
        // physical — match on its logical name (identity when unmapped)
        val c = SnapshotTable.logicalName(SnapshotTable.colMap(root, v), c0)
        val bounds = filters.flatMap(SnapshotScanBuilder.bound(_, c))
        if (bounds.isEmpty) entries
        else {
          val (qlo, qhi) = (bounds.map(_._1).max, bounds.map(_._2).min)
          entries.filter(_.overlaps(c0, c0, qlo, qhi))
        }
      case None => entries
    }
    if (cands.isEmpty) return // stats prove no file holds a match
    val cond = filters.map(f => SnapshotFilterSql.toColumn(f).getOrElse(
      throw new UnsupportedOperationException(
        s"graft-snapshot DELETE: unsupported predicate $f"))).reduce(_ && _)
    // mirror readAt: on a schema-evolved table (the `schema` marker —
    // mixed-width files) the rewrite must resolve the UNION schema, or
    // the sample-footer width silently drops evolved columns from every
    // surviving row in a wider candidate file
    // the predicate names LOGICAL columns: convert the candidate read
    // to the logical view (dropped physicals ride along inert) and
    // back to physical names for the rewrite (see SnapshotTable.delete)
    val map = SnapshotTable.colMap(root, v)
    val kept = SnapshotTable.toLogicalFull(
        SnapshotTable.readFiles(s, root, v, cands), map)
      .filter(not(coalesce(cond, lit(false))))
    val tag = SnapshotTable.uniqueTag()
    val rels = SnapshotTable.writeDataFiles(
      SnapshotTable.toPhysical(kept, map), root, s"del_$tag")
    // zero-row part files are not manifested (see SnapshotTable.delete)
    val fresh = rels.map(SnapshotTable.footerEntry(root, _, statsCol.getOrElse("")))
      .filter(_.rows > 0)
    // commitRewrite carries untouched files from whatever version the
    // commit lands on (so a racing append survives), drops evolution
    // markers on a full rewrite, and aborts loudly if a concurrent
    // committer rewrote the candidate files this delete read
    SnapshotTable.commitRewrite(root, v, cands.map(_.rel).toSet, fresh,
      shardSize = 16, "delete",
      emptySchemaJson = Some(SnapshotTable.allNullableJson(
        SnapshotTable.readAtPhysical(s, root, v).schema)))
  }
}

/** V1 `sources.Filter` → `Column` for the delete path — the common
  * predicate shapes; anything else makes `canDeleteWhere` answer false
  * so Spark rejects the statement instead of silently over-deleting. */
private[sources] object SnapshotFilterSql {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isInCollection(vs.toSeq))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case And(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
    case Or(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
    case Not(c) => toColumn(c).map(!_)
    case _: AlwaysTrue => Some(lit(true))
    case _ => None
  }
}

private[graft] class SnapshotScanBuilder(root: String, full: StructType,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates {

  private var pruned: StructType = full
  private var pushed = Array.empty[Filter]
  /** A completely-pushed aggregation's (schema, answer row), computed
    * from the manifest at plan time — None for ordinary scans. */
  private var aggAnswer: Option[(StructType, Array[Any])] = None

  // the CDF metadata columns enter the schema in the provider's
  // inferSchema — only the PATH load route runs it. A catalog-name load
  // resolves the table schema without them, and serving change rows
  // whose kind is indistinguishable would be silently wrong — refuse.
  require(!SnapshotSourceUtil.cdfEnabled(options) ||
      full.fieldNames.contains(SnapshotSourceUtil.CdfTypeCol),
    s"graft-snapshot CDF: the resolved schema of $root carries no " +
      s"${SnapshotSourceUtil.CdfTypeCol} column — read the change feed through the " +
      "path route: spark.read/readStream.format(\"graft-snapshot\")" +
      ".option(\"readChangeFeed\", \"true\").load(<table root>)")

  private val version = Option(options.get("version"))
    .map(SnapshotTable.resolveVersionRef(root, _))
    .getOrElse(
      // a branch read without an explicit version resolves through the
      // branch BASE (r20 review): the path route's provider pins it,
      // but the catalog route reaches this builder with bare options —
      // resolving to the current version there would apply current
      // colmap/DV state to base-vintage staged entries
      SnapshotSourceUtil.branchName(options)
        .map(b => SnapshotTable.branchState(root, b)._3)
        .getOrElse(SnapshotTable.currentVersion(root)))

  /** Branch audit read (r20): the ENTRY LIST comes from the branch
    * head (base + staged appends) instead of a committed version;
    * schema/colmap/DV state resolve through `version` (the base — the
    * provider pinned it). Resolved lazily so a FAST FORWARD or DROP
    * BRANCH between load and scan refuses loudly. */
  private val branchEntries: Option[Seq[SnapshotTable.FileEntry]] =
    SnapshotSourceUtil.branchName(options).map { b =>
      require(!SnapshotSourceUtil.cdfEnabled(options) &&
          !SnapshotSourceUtil.rowIdsEnabled(options),
        s"graft-snapshot: branch reads serve the staged SNAPSHOT of $root — " +
          "no change feed and no row-id contract until publish")
      SnapshotTable.branchState(root, b)._1
    }
  /** Which column the manifest's per-file [lo, hi] stats describe —
    * recorded by the committer as `#statsCol` metadata. Absent → no
    * stats pruning (scan everything; always sound). */
  // NOTE: statsCol meta stores a PHYSICAL name; filters arrive under
  // LOGICAL names, so matching runs on its logical name (identity when
  // unmapped; dropColumn refuses to unmap the stats column)
  private val statsCol: Option[String] =
    if (version > 0)
      SnapshotTable.manifestMeta(root, version).get("statsCol")
        .map(c => SnapshotTable.logicalName(SnapshotTable.colMap(root, version), c))
    else None

  /** Every column a comparison filter can prune FILES on (r20):
    * logical name → physical name for each top-level signed-integral
    * column of the table schema. The manifest's per-entry stats are a
    * primary [lo, hi] (the statsCol) plus `extra` per-column ranges the
    * commit-time harvest now collects for every such column — so a
    * predicate on a NON-cluster column (`WHERE user_id = ?` on a
    * day-clustered table) narrows the planned file set too, exactly
    * Delta's multi-column file skipping. Entries without the stat
    * (pre-r20 commits, all-null files) serve the never-pruned sentinel:
    * pruning is sound by construction, the residual filter re-checks
    * rows either way. Restricted to plain integral logical types — a
    * DecimalType/DateType literal's long() coercion would compare a
    * SCALED value against unscaled footer ints, an unsound judgment. */
  private val prunableCols: Map[String, String] =
    if (version == 0) Map.empty
    else {
      val map = SnapshotTable.colMap(root, version)
      full.fields.iterator.filter(f => f.dataType == LongType ||
          f.dataType == IntegerType ||
          f.dataType == org.apache.spark.sql.types.ShortType ||
          f.dataType == org.apache.spark.sql.types.ByteType)
        .map(f => f.name -> SnapshotTable.physicalName(map, f.name))
        .toMap
    }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // Spark hands the required columns in table-schema order; an empty
    // projection (count(*)) still decodes zero columns per row
    pruned = requiredSchema

  /** When the stats column is GENERATED from a single input by a
    * whitelisted monotone expression (x40), filters on the INPUT
    * derive bounds on the stats column — see
    * [[SnapshotScanBuilder.monotoneGenMapper]]. Resolved once per
    * scan build; None for the overwhelmingly common ungenerated case. */
  private lazy val genDerive: Option[(String, Long => Option[Long])] =
    statsCol.flatMap { sc =>
      if (version == 0) None
      else {
        val meta = SnapshotTable.manifestMeta(root, version)
        SnapshotTable.gensOf(meta).get(sc).flatMap { ge =>
          val spark = org.apache.spark.sql.SparkSession.active
          SnapshotTable.checkReferencedCols(spark, ge) match {
            case Seq(in) =>
              // the strict-bound tightening in deriveOnStats assumes
              // an INTEGRAL input domain (in < v ⇒ in <= v-1)
              val integral = full.fields.find(_.name == in).exists(f =>
                f.dataType == org.apache.spark.sql.types.LongType ||
                  f.dataType == org.apache.spark.sql.types.IntegerType ||
                  f.dataType == org.apache.spark.sql.types.ShortType ||
                  f.dataType == org.apache.spark.sql.types.ByteType)
              if (!integral) None
              else SnapshotScanBuilder.monotoneGenMapper(in, ge).map((in, _))
            case _ => None
          }
        }
      }
    }

  /** File-level stats pruning through the STANDARD API: comparison
    * filters on the manifest's stats column narrow the planned file
    * set. Every filter is returned as residual — stats prune FILES,
    * Spark's re-applied predicate prunes rows within survivors, so
    * pushdown is never unsound (same split as [[SnapshotTable
    * .readPruned]], now automatic for any `.filter(...)`). Filters on
    * a generated stats column's INPUT additionally derive stats-column
    * bounds (the derived filter is a FILE judgment only — the input
    * filter itself stays residual like everything else). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // a filter prunes files when it bounds ANY stats-carrying column —
    // the declared statsCol or any auto-harvested integral column
    // (r20); derived bounds additionally map generated-column inputs
    // onto the stats column. Tables with no statsCol meta keep the
    // pre-r20 contract (no pruning) — their manifests predate the
    // general harvest, so extras would be absent anyway.
    pushed = statsCol match {
      case Some(_) =>
        val direct = filters.filter(f =>
          prunableCols.keys.exists(c => SnapshotScanBuilder.bound(f, c).isDefined))
        val derived = statsCol.toArray.flatMap(c =>
          genDerive.toArray.flatMap { case (in, g) =>
            filters.flatMap(SnapshotScanBuilder.deriveOnStats(_, in, c, g))
          })
        direct ++ derived
      case None => Array.empty
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** COUNT(*) with no grouping and no filters is a MANIFEST READ: the
    * commit-time footer row counts sum to the answer without touching
    * one data byte — the metadata-only query every table format
    * special-cases. Spark only attempts aggregate pushdown when no
    * filter remains above the scan, and pushFilters always returns
    * residuals, so a filtered count can never reach this path. */
  /** MANIFEST-ANSWERED aggregates (r19 widens the COUNT(*) fast path
    * to MIN/MAX of the stats column): an ungrouped, unfiltered
    * COUNT(*)/MIN(statsCol)/MAX(statsCol) — any mix — is answered from
    * the manifest's footer-harvested row counts and [lo, hi] bounds in
    * ONE zero-IO partition. `SELECT max(ep_day) FROM events` — the
    * freshness probe every ingest dashboard runs — reads no data bytes
    * at any table size. Soundness: parquet INT64 statistics are EXACT
    * and null-skipping exactly like Min/Max; disqualified whenever any
    * entry lacks genuine stats (the stat-less sentinel is
    * indistinguishable from a real Long.MinValue/MaxValue extremum),
    * under CDF (the feed's cardinality is the DIFF's) or deletion
    * vectors (a DV'd row may hold the extremum), or for any other
    * column/shape — Spark then aggregates the ordinary scan. Filters
    * can never reach this path: pushFilters keeps every filter
    * residual, and Spark only pushes aggregates below an empty
    * residual. */
  private def manifestAgg(agg: Aggregation): Option[(StructType, Array[Any])] = {
    if (SnapshotSourceUtil.cdfEnabled(options)) return None
    if (version > 0 && SnapshotTable.dvState(root, version).nonEmpty) return None
    if (agg.groupByExpressions.nonEmpty || agg.aggregateExpressions.isEmpty) return None
    val entries = if (version == 0) Nil
      else branchEntries.getOrElse(SnapshotTable.manifestEntries(root, version))
    val rowsKnown = entries.forall(_.rows >= 0)
    // min/max serve ANY column whose stats EVERY entry genuinely
    // carries (r20 — the general per-column harvest makes that most
    // integral columns on current tables), at its declared type; the
    // stat-less sentinel on any one entry disqualifies the column
    // (it is indistinguishable from a real Long.MinValue/MaxValue
    // extremum), so the answer is exact or not served at all
    val physPrimary: String =
      if (version > 0)
        SnapshotTable.manifestMeta(root, version).getOrElse("statsCol", "")
      else ""
    def colBounds(name: String): Option[(Long, Long, StructField)] =
      full.fields.find(_.name == name)
        .filter(f => f.dataType == LongType || f.dataType == IntegerType)
        .flatMap { fld =>
          if (entries.isEmpty) Some((0L, 0L, fld)) // null-served below
          else {
            val p = prunableCols.getOrElse(name, name)
            val bs = entries.map(_.statsFor(p, physPrimary))
            if (bs.forall(b => !(b._1 == Long.MinValue && b._2 == Long.MaxValue)))
              Some((bs.map(_._1).min, bs.map(_._2).max, fld))
            else None
          }
        }
    def named(e: org.apache.spark.sql.connector.expressions.Expression):
        Option[String] = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
      case _ => None
    }
    def typed(v: Long, dt: DataType): Any =
      if (dt == IntegerType) v.toInt else v
    val cols: Seq[Option[(StructField, Any)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar if rowsKnown =>
          Some((StructField("count(*)", LongType, nullable = false),
            entries.map(_.rows).sum: Any))
        case m: Min => named(m.column).flatMap(colBounds).map { case (lo, _, f) =>
          (StructField(s"min(${f.name})", f.dataType),
            if (entries.isEmpty) null else typed(lo, f.dataType)) }
        case m: Max => named(m.column).flatMap(colBounds).map { case (_, hi, f) =>
          (StructField(s"max(${f.name})", f.dataType),
            if (entries.isEmpty) null else typed(hi, f.dataType)) }
        case _ => None
      }
    if (cols.exists(_.isEmpty)) None
    else Some((StructType(cols.map(_.get._1)), cols.map(_.get._2).toArray))
  }
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    manifestAgg(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean = {
    aggAnswer = manifestAgg(agg)
    aggAnswer.isDefined
  }

  override def build(): Scan =
    new SnapshotScan(root, version, pruned, pushed.toSeq, statsCol, prunableCols,
      aggAnswer, options, branchEntries)
}

private[graft] object SnapshotScanBuilder {
  private def long(v: Any): Option[Long] = v match {
    case n: Number => Some(n.longValue)
    case _ => None
  }

  /** Derived-filter file pruning for GENERATED stats columns (Delta's
    * partition filter generation): when the stats column is generated
    * from ONE input by a provably monotone, overflow-free expression —
    * chains of `div <positive literal>` with widening casts, the
    * canonical day-bucket shape `(ts div 1e9) div 86400` — a pushed
    * filter on the INPUT maps to a bound on the stats column by
    * EVALUATING the generation expression at the filter's constants,
    * so file pruning fires for queries that never mention the derived
    * column. Soundness: truncating division by a positive constant is
    * monotone non-decreasing over ALL longs and cannot overflow, so
    * input ∈ [a,b] ⇒ gen ∈ [g(a), g(b)] for every representable
    * input; the generated-column invariant (x40) guarantees the
    * STORED values ARE g(input); and the original filter always stays
    * residual, so rows are re-checked regardless. Anything outside the
    * whitelist simply doesn't derive (no pruning — always sound). */
  private[sources] def monotoneGenMapper(input: String,
      exprSql: String): Option[Long => Option[Long]] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{LongType => CLong, DecimalType, DoubleType, IntegerType, ShortType, ByteType}
    val spark = org.apache.spark.sql.SparkSession.active
    val resolved = scala.util.Try {
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(input, CLong))))
      val p = empty.select(org.apache.spark.sql.functions.expr(exprSql)
        .cast("long").as("__g")).queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
      val a = p.projectList.head.asInstanceOf[Alias].child
      BindReferences.bindReference(a, p.child.output)
    }.toOption
    def posLit(e: Expression): Boolean = e.foldable && (e.eval() match {
      case n: java.lang.Number => n.longValue > 0
      case _ => false
    })
    // value-preserving integral→long widenings ONLY: a narrowing cast
    // wraps, a float cast loses precision past 2^53, and a DECIMAL
    // cast can overflow to NULL in non-ANSI sessions — any of these
    // makes g partial/non-monotone and the derived bound unsound
    // (r14 review: decimal was wrongly whitelisted)
    def wideCast(c: Cast): Boolean = c.dataType == CLong &&
      (c.child.dataType == CLong || c.child.dataType == IntegerType ||
        c.child.dataType == ShortType || c.child.dataType == ByteType)
    def mono(e: Expression): Boolean = e match {
      case _: BoundReference => true
      case c: Cast => wideCast(c) && mono(c.child)
      case d: IntegralDivide => mono(d.left) && posLit(d.right)
      case _ => false
    }
    resolved.flatMap { b =>
      val refs = b.collect { case r: BoundReference => r }
      if (refs.size != 1 || !mono(b)) None
      else Some { (v: Long) =>
        scala.util.Try(Option(b.eval(
          org.apache.spark.sql.catalyst.InternalRow(v)))
          .map(_.asInstanceOf[Long])).toOption.flatten
      }
    }
  }

  /** Translate a filter on the generation INPUT into the equivalent
    * bound on the generated stats column. The input column is INTEGRAL
    * (the caller guards), so strict bounds tighten to inclusive ones a
    * step in — `in < v` ⇒ `in <= v-1` ⇒ `gen <= g(v-1)` — saturating
    * at the domain edges; g itself is monotone, not strictly so. */
  private[sources] def deriveOnStats(f: Filter, input: String,
      statsCol: String, g: Long => Option[Long]): Option[Filter] = f match {
    case EqualTo(c, v) if c == input => long(v).flatMap(g).map(EqualTo(statsCol, _))
    case GreaterThan(c, v) if c == input =>
      long(v).map(x => if (x == Long.MaxValue) x else x + 1)
        .flatMap(g).map(GreaterThanOrEqual(statsCol, _))
    case GreaterThanOrEqual(c, v) if c == input =>
      long(v).flatMap(g).map(GreaterThanOrEqual(statsCol, _))
    case LessThan(c, v) if c == input =>
      long(v).map(x => if (x == Long.MinValue) x else x - 1)
        .flatMap(g).map(LessThanOrEqual(statsCol, _))
    case LessThanOrEqual(c, v) if c == input =>
      long(v).flatMap(g).map(LessThanOrEqual(statsCol, _))
    case In(c, vs) if c == input && vs.nonEmpty =>
      val mapped = vs.flatMap(v => long(v).flatMap(g))
      if (mapped.length == vs.length) Some(In(statsCol, mapped.map(Long.box).toArray))
      else None
    case _ => None
  }
  /** The runtime-filter path needs the same literal coercion. */
  private[sources] def longValue(v: Any): Option[Long] = long(v)
  /** The [lo, hi] key range a filter on the stats column admits; None =
    * not a stats-prunable filter. Strict bounds SATURATE at the domain
    * edges instead of wrapping (x > Long.MaxValue would otherwise admit
    * the whole domain and silently degrade to a full scan; the residual
    * filter keeps either way correct — this keeps it also pruned). */
  def bound(f: Filter, statsCol: String): Option[(Long, Long)] = f match {
    case EqualTo(c, v) if c == statsCol => long(v).map(x => (x, x))
    case GreaterThan(c, v) if c == statsCol => long(v).map(x =>
      (if (x == Long.MaxValue) Long.MaxValue else x + 1, Long.MaxValue))
    case GreaterThanOrEqual(c, v) if c == statsCol => long(v).map(x => (x, Long.MaxValue))
    case LessThan(c, v) if c == statsCol => long(v).map(x =>
      (Long.MinValue, if (x == Long.MinValue) Long.MinValue else x - 1))
    case LessThanOrEqual(c, v) if c == statsCol => long(v).map(x => (Long.MinValue, x))
    case In(c, vs) if c == statsCol && vs.nonEmpty =>
      val ls = vs.flatMap(long(_))
      if (ls.length == vs.length) Some((ls.min, ls.max)) else None
    case _ => None
  }
}

private[sources] class SnapshotScan(root: String, version: Int,
    pruned: StructType, pushed: Seq[Filter], statsCol: Option[String],
    prunableCols: Map[String, String],
    aggAnswer: Option[(StructType, Array[Any])],
    options: CaseInsensitiveStringMap,
    branchEntries: Option[Seq[SnapshotTable.FileEntry]] = None)
    extends Scan with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  private def aggOnly: Boolean = aggAnswer.isDefined

  /** Runtime (join-driven) file pruning — the DSv2 analog of dynamic
    * partition pruning: Spark evaluates the dim side of a join first,
    * hands the fact scan the resulting key set as an In/EqualTo filter
    * on [[filterAttributes]], and [[filter]] re-prunes the planned file
    * set against the manifest's [lo, hi] stats BEFORE partitions are
    * planned. At 100 TB a star join probing a handful of days opens
    * those days' files, not the table — without any static predicate in
    * the query text. Sound by the same argument as pushed filters:
    * stats exclude whole files only when NO row can match (the join
    * itself re-applies the condition row-wise). */
  /** Columns whose file-level stats can judge a filter (r20: the
    * statsCol plus every auto-harvested integral column), logical →
    * physical. The manifest's primary [lo, hi] answers the statsCol;
    * `extra` ranges answer the rest; a column absent from an entry's
    * extras serves the never-pruned sentinel — judgments are sound on
    * any manifest vintage. */
  private val judgeCols: Map[String, String] =
    prunableCols ++ statsCol.map(sc => sc -> prunableCols.getOrElse(sc, sc))
  /** The PHYSICAL statsCol name — what entry.statsFor treats as the
    * primary-range column. */
  private val primaryPhys: String =
    statsCol.map(sc => prunableCols.getOrElse(sc, sc)).getOrElse("")

  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // an aggregate-answered scan outputs the answer row, not table
    // columns — nothing to runtime-filter on (the answers are computed
    // from the FULL manifest at plan time, so advertising the stats
    // column here would invite filters the answer ignores)
    // only columns the scan actually OUTPUTS: Spark resolves these refs
    // against the projected schema, so advertising a pruned-away
    // column fails analysis (the projection dropped it — no join can
    // runtime-filter on it anyway)
    if (aggOnly || statsCol.isEmpty) Array.empty
    else judgeCols.keys.toArray.filter(pruned.fieldNames.contains).sorted
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  private var runtimeKeep: Option[SnapshotTable.FileEntry => Boolean] = None
  override def filter(filters: Array[Filter]): Unit = if (statsCol.isDefined) {
    val keeps = filters.flatMap { f =>
      judgeCols.iterator.flatMap { case (c, p) =>
        f match {
          case In(a, vs) if a == c =>
            val longs = vs.flatMap(SnapshotScanBuilder.longValue)
            // non-numeric key values: no sound file-level judgment — keep all
            if (longs.length != vs.length) None
            else Some((e: SnapshotTable.FileEntry) =>
              longs.exists(v => e.overlaps(p, primaryPhys, v, v)))
          case _ => SnapshotScanBuilder.bound(f, c).map { case (qlo, qhi) =>
            (e: SnapshotTable.FileEntry) => e.overlaps(p, primaryPhys, qlo, qhi)
          }
        }
      }.toSeq
    }
    if (keeps.nonEmpty)
      runtimeKeep = Some(e => keeps.forall(_(e))) // filters AND together
  }

  /** Manifest-derived size/row statistics for Catalyst's planner —
    * without these a DSv2 relation defaults to "huge"
    * (spark.sql.defaultSizeInBytes) and a small snapshot table can
    * NEVER be auto-broadcast: every join against it sort-merges. The
    * estimate is the POST-PRUNING file set (pushed filters narrow it),
    * pure driver-side metadata: commit-time footer row counts AND
    * byte sizes summed from the manifest (r19 — pre-r19 entries fall
    * back to one `Files.size` stat each) — no data IO, exactly how
    * Delta/Iceberg feed the same API. At 100 TB the manifest path
    * matters: a per-scan stat sweep over 10^6 planned files is 10^6
    * driver-side HEAD requests on object storage, per query. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val entries = plannedEntries
    private val bytes: java.util.OptionalLong =
      try java.util.OptionalLong.of(
        entries.map(e => e.bytes.getOrElse(
          java.nio.file.Files.size(Paths.get(root, e.rel)))).sum)
      catch { case _: java.io.IOException => java.util.OptionalLong.empty() }
    private val rows: java.util.OptionalLong =
      if (entries.forall(_.rows >= 0))
        java.util.OptionalLong.of(entries.map(_.rows).sum)
      else java.util.OptionalLong.empty() // a stat-less legacy entry: unknown
    override def sizeInBytes(): java.util.OptionalLong = bytes
    override def numRows(): java.util.OptionalLong = rows
  }

  override def readSchema(): StructType =
    aggAnswer.map(_._1).getOrElse(pruned)
  override def description(): String = aggAnswer match {
    case Some((sch, _)) =>
      s"graft-snapshot $root ${sch.fieldNames.mkString(",")} from manifest"
    case None =>
      s"graft-snapshot $root cols=[${pruned.fieldNames.mkString(",")}]" +
        (if (pushed.nonEmpty) s" pruneBy=[${pushed.mkString(",")}]" else "")
  }

  private val cdfMode = SnapshotSourceUtil.cdfEnabled(options)

  /** The scan serves the row-tracking id whenever the projection asks
    * for it — as `_row_id` via the path route's `rowIds` option or the
    * catalog route's metadata column, and/or under the table's
    * IDENTITY column name; all spellings funnel here (a projection may
    * carry both — same value twice). Requires tracking as of the
    * scanned version: the option route checked at schema inference,
    * the metadata route and identity by construction — this is the
    * belt-and-braces guard for externally-supplied schemas. */
  private val identCol: Option[String] =
    if (version > 0 && !cdfMode) SnapshotTable.identityCol(root, version) else None
  private val idOutNames: Set[String] = pruned.fieldNames.filter(n =>
    (!cdfMode && n == SnapshotSourceUtil.RowIdField) || identCol.contains(n)).toSet
  private val rowIdMode = idOutNames.nonEmpty
  require(!rowIdMode || (version > 0 &&
      SnapshotTable.manifestMeta(root, version).get("rowtracking").contains("on")),
    s"graft-snapshot rowIds: row tracking is not enabled on $root at version $version")
  require(!(cdfMode && SnapshotSourceUtil.rowIdsEnabled(options)),
    "graft-snapshot: rowIds and readChangeFeed are mutually exclusive — change " +
      "rows are commit diffs, not snapshot rows, and carry no id contract")

  /** The scan's one data-file reader — batch, row ids, batch CDF and
    * both streams. Its request is the projection's TABLE columns in
    * physical names (nested-mapped struct fields included), plus
    * `__row_id` for id reads — a positional file decodes it null and
    * the reader falls back to file base + row index, the
    * [[SnapshotTable.readWithRowIds]] rule. File row indexes ride
    * along whenever rows need their ordinal: deletion vectors, ids,
    * and the change feed's DV deltas. Lazy: a manifest-answered scan
    * never builds it. */
  private lazy val readerFactory: SnapshotFileReaderFactory = {
    import SnapshotFileReaderFactory.{IdSlot, TsSlot, TypeSlot, VersionSlot}
    val cdfSlots =
      if (!cdfMode) Map.empty[String, Int]
      else Map(SnapshotSourceUtil.CdfTypeCol -> TypeSlot,
        SnapshotSourceUtil.CdfVersionCol -> VersionSlot,
        SnapshotSourceUtil.CdfTimestampCol -> TsSlot)
    val data = StructType(pruned.fields.filterNot(f =>
      idOutNames.contains(f.name) || cdfSlots.contains(f.name)))
    val slots = pruned.fields.map(f =>
      if (idOutNames.contains(f.name)) IdSlot
      else cdfSlots.getOrElse(f.name, data.fieldIndex(f.name)))
    // a declared START WITH offsets the IDENTITY spelling only —
    // `_row_id` stays the raw 0-based engine id on every route
    val start = identCol.filter(idOutNames.contains)
      .fold(0L)(_ => SnapshotTable.identityStart(root, version))
    val starts = pruned.fields.map(f => if (identCol.contains(f.name)) start else 0L)
    val ordinals = rowIdMode || cdfMode ||
      (version > 0 && SnapshotTable.dvState(root, version).nonEmpty)
    SnapshotFileReaderFactory(
      SnapshotSourceUtil.physicalRequest(data, SnapshotTable.colMap(root, version)),
      slots, starts, ids = rowIdMode, ordinals = ordinals)
  }

  /** The version's entries that survive the pushed filters' combined
    * key range (intersection of bounds — filters AND together). */
  private def plannedEntries: Seq[SnapshotTable.FileEntry] = {
    // version 0 = a created-but-never-written table (catalog CREATE
    // TABLE before the first INSERT): a valid empty scan, no manifest
    if (version == 0) return Nil
    val all = branchEntries.getOrElse(SnapshotTable.manifestEntries(root, version))
    // per-column pruning (r20): every pushed filter that bounds a
    // stats-carrying column judges each entry's harvested range for
    // THAT column — filters AND together, so an entry survives only if
    // every bound intersects its stats. Pre-r20 manifests carry extras
    // only for the statsCol (and z-order pairs): other columns serve
    // the sentinel and never prune — sound on any vintage.
    val bounds: Seq[(String, (Long, Long))] =
      if (statsCol.isEmpty) Nil
      else pushed.flatMap(f =>
        judgeCols.keysIterator.flatMap(c =>
          SnapshotScanBuilder.bound(f, c).map(c -> _)).toSeq)
    val statically =
      if (bounds.isEmpty) all
      else all.filter(e => bounds.forall { case (c, (qlo, qhi)) =>
        e.overlaps(judgeCols(c), primaryPhys, qlo, qhi) })
    runtimeKeep.fold(statically)(statically.filter)
  }

  override def toBatch: Batch = {
    // batch CDF: all changes in the (startingVersion, endingVersion]
    // window in one scan, same file-grain rows and metadata columns as
    // the streaming feed. startingVersion is EXCLUSIVE — "changes
    // after this version", matching the streaming feed's initial
    // offset; Delta's table_changes startingVersion is inclusive, so a
    // migrating caller passes delta_start - 1 (documented in the
    // provider scaladoc). Defaults: startingVersion 0 (whole history
    // as inserts+deletes), endingVersion the current version. Stats pruning is
    // NOT applied (the planned set is the manifest DIFF, not a
    // snapshot); pushed filters still run residually above the scan.
    if (cdfMode) return new Batch {
      private val endV = Option(options.get("endingVersion")).map(_.toInt)
        .getOrElse(version)
      // the batch window option is `afterVersion` — named for its
      // EXCLUSIVE semantics. `startingVersion` is REFUSED here (ADVICE
      // r13): Delta's table_changes treats it as inclusive, so honoring
      // the same name with exclusive meaning silently dropped one
      // commit's changes from every ported pipeline. The streaming
      // path keeps `startingVersion` as its resume-token initial
      // offset (exclusive there matches the offset contract).
      require(options.get("startingVersion") == null,
        "graft-snapshot batch CDF: use afterVersion=<v> (EXCLUSIVE — changes " +
          "after that version; Delta's inclusive startingVersion maps to " +
          "afterVersion = startingVersion - 1). startingVersion is refused on " +
          "the batch path because the name implies Delta's inclusive semantics")
      private val startV = Option(options.get("afterVersion")).map(_.toInt).getOrElse(0)
      require(startV >= 0 && endV <= version && startV <= endV,
        s"graft-snapshot CDF: version window ($startV, $endV] out of range (table at $version)")
      override def planInputPartitions(): Array[InputPartition] =
        SnapshotCdf.partitions(root, startV, endV)
      override def createReaderFactory(): PartitionReaderFactory = readerFactory
    }
    new Batch {
    // version + file list pinned at PLAN time: later commits never
    // tear this scan. Each partition carries its file's deletion-
    // vector sidecar (if any) — the reader skips those ordinals.
    private val dv = if (version > 0) SnapshotTable.dvState(root, version)
      else Map.empty[String, String]
    // row-id reads ship each file's base id in its partition — pure
    // manifest arithmetic (the rowbase map), resolved once at plan time
    private val bases = if (rowIdMode) SnapshotTable.rowBases(root, version)
      else Map.empty[String, Long]
    private val files =
      if (aggOnly) Array.empty[SnapshotFilePartition]
      else plannedEntries.map(e => SnapshotFilePartition(
        Paths.get(root, e.rel).toString,
        dv.get(e.rel).map(d => Paths.get(root, d).toString),
        bases.get(e.rel))).toArray
    override def planInputPartitions(): Array[InputPartition] =
      aggAnswer match {
        case Some((_, values)) => Array(SnapshotAggPartition(values))
        case None => files.map(p => p: InputPartition)
      }
    override def createReaderFactory(): PartitionReaderFactory =
      if (aggOnly) SnapshotAggReaderFactory else readerFactory
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // `startingTimestamp` (Delta's option): resolve a wall-clock
    // instant to the FIRST commit at-or-after it — via the same commit
    // clock time travel uses (in-commit timestamps when present) — and
    // stream from that commit INCLUSIVE, i.e. initial offset = its
    // parent. Accepts epoch millis or a UTC `yyyy-MM-dd[ T]HH:mm:ss[.SSS]`
    // literal. A timestamp AFTER the latest commit starts at the
    // current version (only future commits stream — Delta's contract).
    // If the resolved commit's PARENT was vacuumed away, the feed
    // cannot prove no commit between the timestamp and the resolved
    // version was lost — refuse loudly instead of silently skipping
    // history (pass startingVersion to accept the retained window).
    val tsRaw = Option(options.get("startingTimestamp"))
    require(tsRaw.isEmpty || options.get("startingVersion") == null,
      "graft-snapshot: startingTimestamp and startingVersion are mutually exclusive")
    // `.option("rowIds")` stays a BATCH contract; an IDENTITY column,
    // being part of the table schema, DOES stream — each planned
    // commit's partitions carry their bases as of THAT version, so a
    // streamed row's identity matches what any batch read serves
    require(!SnapshotSourceUtil.rowIdsEnabled(options),
      "graft-snapshot: rowIds is a batch read option — stream the table " +
        "plainly and join ids via a batch rowIds read, or consume the change feed")
    // a branch's staged state has no commit-offset contract — streams
    // follow MAIN; audit the branch with a batch read, then publish
    require(SnapshotSourceUtil.branchName(options).isEmpty,
      s"graft-snapshot: branch is a batch read option on $root — streams " +
        "follow published (main) versions; FAST FORWARD the branch first")
    val startingVersion = tsRaw match {
      // "latest" (Delta's keyword): only commits AFTER stream start —
      // under the exclusive-offset convention that is simply the
      // current version; "earliest" is the 0 default, accepted for
      // symmetry
      case None => Option(options.get("startingVersion")).map {
        case s if s.equalsIgnoreCase("latest") => SnapshotTable.currentVersion(root)
        case s if s.equalsIgnoreCase("earliest") => 0
        case s => s.toInt
      }.getOrElse(0)
      case Some(raw) =>
        val tsMs = SnapshotTable.parseTsLiteral(raw)
        val cur = SnapshotTable.currentVersion(root)
        (1 to cur).find(v =>
          SnapshotTable.commitTimeIfPresent(root, v).exists(_ >= tsMs)) match {
          case Some(v) =>
            require(v == 1 ||
              Files.exists(SnapshotTable.manifestPath(root, v - 1)),
              s"graft-snapshot: startingTimestamp '$raw' resolves to version $v " +
                "but earlier history was vacuumed away — commits between the " +
                "timestamp and that version may be lost; pass startingVersion " +
                "explicitly to accept the retained window")
            v - 1
          case None => cur
        }
    }
    // `maxBytesPerTrigger` (Delta's option, same name): a catch-up
    // batch is bounded by DATA SIZE, not commit count — the right cap
    // when commit sizes vary by orders of magnitude (a backfill commit
    // beside trickle appends). When ONLY the byte cap is given the
    // version cap opens up (bytes govern); the bare default stays ONE
    // commit per trigger (batch boundaries are commit boundaries).
    val maxBytes = Option(options.get("maxBytesPerTrigger")).map(_.toLong)
    require(maxBytes.forall(_ > 0),
      s"graft-snapshot: maxBytesPerTrigger must be positive, got ${maxBytes.get}")
    val perTrigger = Option(options.get("maxVersionsPerTrigger")).map(_.toInt)
      .getOrElse(if (maxBytes.isDefined) Int.MaxValue else 1)
    val skipChanges = "true".equalsIgnoreCase(options.get("skipChangeCommits"))
    // the combination is contradictory: the change feed EXISTS to
    // deliver change commits — refuse rather than silently ignore
    // either option (Delta refuses the same pair)
    require(!(cdfMode && skipChanges),
      "graft-snapshot: readChangeFeed and skipChangeCommits are mutually " +
        "exclusive — the change feed delivers exactly the commits " +
        "skipChangeCommits would drop")
    if (cdfMode) new SnapshotCdfMicroBatchStream(root, startingVersion, perTrigger,
      readerFactory, maxBytes)
    else new SnapshotMicroBatchStream(root, startingVersion, perTrigger,
      readerFactory, skipChanges, attachBases = rowIdMode,
      maxBytesPerTrigger = maxBytes)
  }
}

/** Stream offset = committed table version. */
private[sources] case class VersionOffset(v: Int) extends Offset {
  override def json(): String = v.toString
}

/** `skipChangeCommits` (Delta's option, same name): a data-CHANGING
  * commit (rewrite, merge-on-read delete/update, restore) is skipped
  * WHOLE — none of its rows stream — while pure appends flow
  * normally. Without the option such a commit fails the stream
  * loudly (the append-only contract). Use the change feed when the
  * changes themselves are wanted. */
/** Trigger.AvailableNow (Spark's SupportsTriggerAvailableNow), shared
  * by the plain and CDF streams: the engine calls prepare ONCE at
  * stream start; every later admission is capped at the version
  * captured here, so the run drains exactly the backlog that existed
  * at start — still in admission-sized batches (maxVersions/maxBytes
  * both honored) — then terminates. Commits racing in after the
  * capture wait for the next checkpoint-resumed run (Delta's contract
  * too). At 100 TB this is the backfill verb: a scheduled job drains
  * a deep history in bounded batches and EXITS, instead of holding an
  * executor fleet on an idle long-lived stream. */
private[sources] trait AvailableNowCapped extends SupportsTriggerAvailableNow {
  protected def capRoot: String
  @volatile private var availableNowCap: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(SnapshotTable.currentVersion(capRoot))
  /** The admission ceiling: the live latest, capped at the
    * prepare-time capture when an AvailableNow run is active. */
  protected def cappedLatest(): Int = {
    val latest0 = SnapshotTable.currentVersion(capRoot)
    availableNowCap.fold(latest0)(math.min(latest0, _))
  }
}

private[sources] class SnapshotMicroBatchStream(root: String,
    startingVersion: Int, maxVersionsPerTrigger: Int,
    factory: PartitionReaderFactory, skipChangeCommits: Boolean = false,
    attachBases: Boolean = false, maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream with AvailableNowCapped {

  protected def capRoot: String = root
  override def initialOffset(): Offset = VersionOffset(startingVersion)
  override def deserializeOffset(json: String): Offset = VersionOffset(json.toInt)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called with admission control")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = start.asInstanceOf[VersionOffset].v
    // one commit per trigger by default: batch boundaries ARE commit
    // boundaries, so a downstream consumer processes atomic table
    // states, never a torn half-commit; maxBytesPerTrigger bounds a
    // catch-up window by its data size instead (manifest arithmetic)
    VersionOffset(SnapshotSourceUtil.admitUpTo(root, cur, cappedLatest(),
      maxVersionsPerTrigger, maxBytesPerTrigger, bothSides = false))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (v0, v1) = (start.asInstanceOf[VersionOffset].v, end.asInstanceOf[VersionOffset].v)
    // commit-by-commit: the append-only judgment (and skipChangeCommits'
    // whole-commit skip) is per COMMIT, not per window. The judgment is
    // STRUCTURAL — a commit changes data iff it removes files or
    // changes any deletion vector (merge-on-read DML touches no
    // files) — never audit-tag-based: an insert-only MERGE carries a
    // `merge` audit but removes nothing and must stream like the
    // append it is. Each iteration's (entries, dv) carries into the
    // next as its `before`, so a multi-commit window reads each
    // manifest once.
    var prevEntries = if (v0 == 0) Set.empty[String]
      else SnapshotTable.manifestEntries(root, v0).map(_.rel).toSet
    var prevDv = if (v0 == 0) Map.empty[String, String]
      else SnapshotTable.dvState(root, v0)
    (v0 + 1 to v1).flatMap { v =>
      val before = prevEntries
      val after = SnapshotTable.manifestEntries(root, v).map(_.rel).toSet
      val removed = before -- after
      val dvNow = SnapshotTable.dvState(root, v)
      val changeCommit = removed.nonEmpty || dvNow != prevDv
      prevEntries = after
      prevDv = dvNow
      if (changeCommit) {
        if (skipChangeCommits) Nil
        else throw new IllegalStateException(
          s"graft-snapshot: commit $v changes existing data" +
            (if (removed.nonEmpty) s" (removes files ${removed.take(3).mkString(",")})"
             else " (deletion-vector change)") +
            " — plain streaming reads require append-only commits; stream the " +
            "changes with .option(\"readChangeFeed\", \"true\"), or skip " +
            "change commits entirely with .option(\"skipChangeCommits\", \"true\")")
      }
      else {
        // identity streaming: each appended file's base comes from ITS
        // commit's manifest — pure metadata, resolved once per batch.
        // Commits that PREDATE the tracking/identity enable carry no
        // bases yet; the file's base was minted at the enable commit
        // and never changes, so the CURRENT version's map serves as
        // the fallback (a file that was rewritten away since would be
        // part of a change commit this plain stream refuses anyway)
        val bases =
          if (!attachBases) Map.empty[String, Long]
          else {
            val atV = SnapshotTable.rowBasesOf(SnapshotTable.manifestMeta(root, v))
            val cur = SnapshotTable.currentVersion(root)
            val fallback = if (cur == v) Map.empty[String, Long]
              else SnapshotTable.rowBases(root, cur)
            fallback ++ atV
          }
        (after -- before).toSeq.sorted
          .map(rel => SnapshotFilePartition(Paths.get(root, rel).toString,
            rowBase = bases.get(rel)): InputPartition)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = factory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class SnapshotFilePartition(path: String,
    dvPath: Option[String] = None,
    rowBase: Option[Long] = None) extends InputPartition

/** One changed file of one commit: its rows stream as CDF rows tagged
  * (`changeType`, `commitVersion`). */
/** One changed file of one commit. Two modes: the plain mode streams
  * the file's rows (minus `dvPath`'s ordinals) under the constant
  * `changeType`; the DELTA mode (`keepDvPath` set) streams ONLY the
  * rows whose ordinal is in keepDvPath's set and NOT in dvPath's —
  * the ordinal difference of two deletion-vector states, which is how
  * a commit that changed a file's DV *without touching the file*
  * (RESTORE across a DV delete) surfaces in the feed. */
private[sources] case class SnapshotCdfPartition(path: String, changeType: String,
    commitVersion: Int, dvPath: Option[String] = None,
    keepDvPath: Option[String] = None,
    commitTsMillis: Long = 0L) extends InputPartition

/** The one-row answer of a manifest-served aggregation — COUNT(*) row
  * sums and/or MIN/MAX stats-column bounds, in projection order. */
private[sources] case class SnapshotAggPartition(values: Array[Any]) extends InputPartition

/** Streaming CHANGE DATA FEED over the snapshot table —
  * `.option("readChangeFeed", "true")` on the streaming read. Offsets
  * are table versions exactly like the append stream, but rewrite
  * commits (MERGE / UPDATE / DELETE / OPTIMIZE) no longer fail an
  * append-only guard: each version's manifest DIFF streams as row-level
  * changes — added files as `insert` rows, removed files as `delete`
  * rows — so a DML commit upstream keeps the downstream pipeline alive
  * instead of killing it.
  *
  * The feed serves TWO grains, commit by commit. A DML commit on a
  * table opted into `cdf=row` registered ROW-GRAIN change files at
  * commit time (Delta's `_change_data` design, written by
  * merge/update/delete where both images are in hand): genuinely
  * updated rows stream as `update_preimage`/`update_postimage` pairs,
  * deletes/inserts as themselves, and a rewritten file's carried rows
  * don't appear at all — a consumer keying on row identity (index
  * refresh, audit trail) can tell a carried row from an updated one.
  * Every other commit (appends, OPTIMIZE, tables not opted in) serves
  * FILE-GRAIN CDF (what Delta serves for copy-on-write commits
  * without CDC files): a rewritten file's CARRIED rows appear as a
  * delete+insert pair. Both grains agree under any signed/associative
  * delta application (sign insert/update_postimage positive,
  * delete/update_preimage negative) — the consumption pattern (x23's
  * MV maintenance, index upserts keyed by id, signed aggregates) CDC
  * feeds exist for. Either way planning stays pure manifest
  * arithmetic: nothing ever diffs row CONTENT at plan time, which is
  * what keeps a 100 TB feed's planning cost proportional to the
  * commit, not the table. Consumers needing minimal deltas on a
  * file-grain table run `SnapshotTable.changesBetween` (batch), which
  * cancels carried rows with a distributed multiset difference.
  *
  * A metadata-only commit (ALTER, RESTORE to an identical file set)
  * diffs to zero files and streams an empty batch. Columns added by a
  * mid-stream ALTER surface only after a stream restart (the scan's
  * schema is resolved once at start — Delta's contract too). */
private[sources] class SnapshotCdfMicroBatchStream(root: String,
    startingVersion: Int, maxVersionsPerTrigger: Int,
    factory: PartitionReaderFactory, maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream with AvailableNowCapped {

  protected def capRoot: String = root
  override def initialOffset(): Offset = VersionOffset(startingVersion)
  override def deserializeOffset(json: String): Offset = VersionOffset(json.toInt)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called with admission control")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = start.asInstanceOf[VersionOffset].v
    // the feed reads REMOVED files too (their rows emit as deletes),
    // so the byte budget counts both sides of each commit's diff
    VersionOffset(SnapshotSourceUtil.admitUpTo(root, cur,
      cappedLatest(), maxVersionsPerTrigger,
      maxBytesPerTrigger, bothSides = true))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    SnapshotCdf.partitions(root,
      start.asInstanceOf[VersionOffset].v, end.asInstanceOf[VersionOffset].v)

  override def createReaderFactory(): PartitionReaderFactory = factory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] object SnapshotCdf {
  /** The change partitions of the version window (v0, v1] — one per
    * changed file per commit. Per-version diffs, not one end-to-end
    * diff: each row must carry the version that produced it, and a
    * file added in v0+1 then removed in v1 must emit BOTH events (the
    * end-to-end diff would cancel them and lose the intermediate state
    * transitions). A commit whose predecessor manifest was vacuumed is
    * not diffable — loud error, never a silently truncated feed. */
  def partitions(root: String, v0: Int, v1: Int): Array[InputPartition] =
    (v0 + 1 to v1).flatMap { v =>
      def rels(at: Int): Set[String] =
        try SnapshotTable.manifestEntries(root, at).map(_.rel).toSet
        catch {
          case e: java.nio.file.NoSuchFileException => throw new IllegalStateException(
            s"graft-snapshot CDF: version $at of $root was vacuumed away — " +
              s"the change feed cannot diff commit $v; start from a retained version", e)
        }
      // a DML commit on a `cdf=row` table registered its ROW-GRAIN
      // change files (`cdc` meta: `type=rel[,rel];...`) — plan those
      // instead of the manifest diff: genuinely updated rows surface as
      // update_preimage/update_postimage pairs and a rewritten file's
      // carried rows don't appear at all. Each CDC file is one
      // constant-changeType partition, same reader as the diff path.
      // Commits without the meta (appends, OPTIMIZE, tables not opted
      // in) keep the file-grain contract.
      val cdc = try SnapshotTable.manifestMeta(root, v).get("cdc")
        catch { case _: java.nio.file.NoSuchFileException => None }
      val parts: Seq[SnapshotCdfPartition] = cdc match {
        case Some(spec) => spec.split(';').toSeq.flatMap { grp =>
          val Array(ty, tyRels) = grp.split("=", 2)
          tyRels.split(',').toSeq.sorted.map { rel =>
            // a vacuum under the `cdcretain` window reclaims CDC files
            // while their manifest (and time travel) survives — the
            // feed must refuse a reclaimed window LOUDLY at planning,
            // never crash a task or silently truncate
            if (!java.nio.file.Files.exists(Paths.get(root, rel)))
              throw new IllegalStateException(
                s"graft-snapshot CDF: the row-grain change files of version $v " +
                  s"of $root were reclaimed (cdcRetention window / vacuum) — " +
                  "start the feed from a retained version, or widen the " +
                  "'cdcretain' table property before the next vacuum")
            SnapshotCdfPartition(Paths.get(root, rel).toString, ty, v)
          }
        }
        case None =>
          val before = if (v == 1) Set.empty[String] else rels(v - 1)
          val after = rels(v)
          // deletion vectors apply AS OF each side's version: a removed
          // file streams its then-live rows (its pre-removal DV), an
          // added file its post-commit DV (normally none)
          val dvBefore = if (v == 1) Map.empty[String, String]
            else SnapshotTable.dvState(root, v - 1)
          val dvAfter = SnapshotTable.dvState(root, v)
          val deletes = (before -- after).toSeq.sorted
            .map(rel => SnapshotCdfPartition(Paths.get(root, rel).toString, "delete", v,
              dvBefore.get(rel).map(d => Paths.get(root, d).toString)))
          val inserts = (after -- before).toSeq.sorted
            .map(rel => SnapshotCdfPartition(Paths.get(root, rel).toString, "insert", v,
              dvAfter.get(rel).map(d => Paths.get(root, d).toString)))
          // a commit can change a file's DELETION VECTOR without
          // touching the file (RESTORE across a DV delete; DV deletes
          // themselves register `cdc` meta and never reach this
          // branch): newly-deleted ordinals stream as deletes,
          // resurrected ordinals as inserts — otherwise the feed is
          // blind to the commit and every consumer diverges
          val dvDelta = (before intersect after).toSeq.sorted.flatMap { rel =>
            val b = dvBefore.get(rel)
            val a = dvAfter.get(rel)
            if (b == a) Nil
            else {
              val path = Paths.get(root, rel).toString
              def abs(o: Option[String]) = o.map(d => Paths.get(root, d).toString)
              // deleted at v: ordinals in after ∖ before
              val del = a.toSeq.map(_ => SnapshotCdfPartition(path, "delete", v,
                abs(b), keepDvPath = abs(a)))
              // resurrected at v: ordinals in before ∖ after
              val res = b.toSeq.map(_ => SnapshotCdfPartition(path, "insert", v,
                abs(a), keepDvPath = abs(b)))
              del ++ res
            }
          }
          deletes ++ inserts ++ dvDelta
      }
      // every row of commit v carries the commit's wall-clock
      // (Delta's _commit_timestamp): the in-commit stamp when the
      // manifest has one, mtime for pre-ICT commits — resolved ONCE
      // per version here, never per row or per partition
      val cts = SnapshotTable.commitTimeMillis(root, v)
      parts.map(_.copy(commitTsMillis = cts))
    }.toArray
}

/** The write side of the connector: `df.write.format("graft-snapshot")
  * .mode("append")` commits a batch append; `df.writeStream.format(
  * "graft-snapshot")` is an EXACTLY-ONCE streaming sink — each task
  * writes an immutable uniquely-named data file straight into the table
  * root (unreferenced until commit, so a failed write leaves garbage
  * for vacuum, never a torn table), and the driver-side commit appends
  * all task files as ONE manifest version through the CAS retry loop.
  * Streaming commits store `epoch:<queryId>` in the manifest metadata
  * atomically with the file list, so a replayed epoch (restart after a
  * commit-then-crash) is detected and becomes a no-op — st8's sink
  * semantics through the STANDARD API. */
private[sources] class SnapshotWriteBuilder(root: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsOverwrite {
  /** The table's CHECK constraints compiled to BOUND catalyst
    * predicates over the incoming (logical) schema — evaluated
    * per-row INSIDE each task's writer (Delta's invariant-checker
    * shape: enforcement rides the write, no second pass, no driver
    * round-trip). Compiled once at plan time; a violating row fails
    * its task loudly and the commit never lands. */
  /** GENERATED columns the incoming frame OMITS, derived in each
    * task's writer exactly as the sink's withGeneratedColumns does
    * (Delta computes omitted gen columns on EVERY write route — the
    * batch INSERT path must not diverge from the sink, r15 verdict):
    * each fill expression is analyzed against the incoming schema and
    * bound ONCE at plan time; the writer appends the computed values
    * and the widened row — conformed to the table's declared column
    * order so the file sits uniformly beside residents — is what the
    * checks see and the file carries. (outSchema, per-slot source
    * index: >=0 copies input slot i, -k-1 evaluates fill k, fills). */
  private lazy val genPlan: (StructType, Array[Int],
      Seq[org.apache.spark.sql.catalyst.expressions.Expression]) = {
    val v = SnapshotTable.currentVersion(root)
    val gens = if (v == 0) Map.empty[String, String]
      else SnapshotTable.genExprs(root, v)
    val missing = gens.toSeq.filterNot { case (c, _) =>
      info.schema().fieldNames.exists(_.equalsIgnoreCase(c)) }.sortBy(_._1)
    if (missing.isEmpty)
      (info.schema(), Array.tabulate(info.schema().length)(identity), Nil)
    else {
      val spark = org.apache.spark.sql.SparkSession.active
      val declared = SnapshotTable.readAt(spark, root, v).schema
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), info.schema())
      val bound = missing.map { case (c, e) =>
        // a frame omitting a generation INPUT as well fails analysis
        // here, loudly naming the unresolvable column — nothing to
        // derive from, same refusal the sink's helper hits
        val analyzed = empty.select(org.apache.spark.sql.functions.expr(e)
          .cast(declared(c).dataType).as("__gen")).queryExecution.analyzed
          .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
        val resolved = analyzed.projectList.head
          .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias].child
        (c, declared(c).dataType,
          org.apache.spark.sql.catalyst.expressions.BindReferences
            .bindReference(resolved, analyzed.child.output))
      }
      // a fill column's nullability is conformed to the resident files
      // with every other column's, in the factory
      val widened = info.schema().fields.toSeq ++ bound.map { case (c, dt, _) =>
        StructField(c, dt, nullable = true)
      }
      val order = declared.fieldNames.filter(c =>
          widened.exists(_.name.equalsIgnoreCase(c))) ++
        widened.map(_.name).filterNot(c =>
          declared.fieldNames.exists(_.equalsIgnoreCase(c)))
      val fields = order.map(c => widened.find(_.name.equalsIgnoreCase(c)).get)
      val srcIdx = fields.map { f =>
        val i = info.schema().fieldNames.indexWhere(_.equalsIgnoreCase(f.name))
        if (i >= 0) i else -(bound.indexWhere(_._1.equalsIgnoreCase(f.name)) + 1)
      }.toArray
      (StructType(fields), srcIdx, bound.map(_._3))
    }
  }

  private lazy val boundChecks: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = {
    val v = SnapshotTable.currentVersion(root)
    val checks = SnapshotTable.checkConstraints(root, v)
    if (checks.isEmpty) Nil
    else {
      val spark = org.apache.spark.sql.SparkSession.active
      // bound against the WIDENED schema (input + derived gen columns):
      // the gen:<col> invariants reference the derived column, which
      // the writer materializes before evaluating the checks
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), genPlan._1)
      checks.toSeq.sortBy(_._1).map { case (n, e) =>
        val analyzed = empty.select(
          org.apache.spark.sql.functions.expr(e).cast("boolean").as("__chk"))
          .queryExecution.analyzed
          .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
        val resolved = analyzed.projectList.head
          .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias].child
        (n, e, org.apache.spark.sql.catalyst.expressions.BindReferences
          .bindReference(resolved, analyzed.child.output))
      }
    }
  }

  private def factory = {
    // an IDENTITY column is engine-assigned: a write supplying it
    // would collide with the commit-time allocator (and Spark's
    // catalog INSERT INTO forces every schema column, so the honest
    // answer for identity tables is the path-route append / sink,
    // which omit it — the GENERATED ALWAYS contract)
    val cur = SnapshotTable.currentVersion(root)
    SnapshotTable.identityCol(root, cur)
      .orElse(SnapshotTable.pendingIdentity(root)).foreach(ic =>
      require(!info.schema().fieldNames.exists(_.equalsIgnoreCase(ic)),
        s"graft-snapshot write to $root: column $ic is GENERATED ALWAYS AS " +
          "IDENTITY — omit it (path-route append or the streaming sink); " +
          "the engine assigns dense ids at commit"))
    // `_row_id`/`__row_id` are reserved spellings (the row-id read keys
    // on the OUTPUT name — a committed data column would shadow engine
    // ids on tracked tables and brick plain DSv2 reads on untracked
    // ones); refuse them at the write seam, same rule as validateIdent
    info.schema().fieldNames.find(n =>
        n.equalsIgnoreCase(SnapshotSourceUtil.RowIdField) ||
        n.equalsIgnoreCase(SnapshotTable.RowIdCol)).foreach(n =>
      throw new IllegalArgumentException(
        s"graft-snapshot write to $root: $n is a reserved name (the row-id " +
          "read serves engine ids under it) — rename the column"))
    // __bytes is the manifest's file-size extra (r19): a data column
    // of that name could be named as a stats column and alias into
    // size-based planning — refuse at the write seam like the row-id
    // spellings (validateIdent guards the ALTER surface the same way)
    info.schema().fieldNames.find(_.equalsIgnoreCase(SnapshotTable.BytesCol))
      .foreach(n => throw new IllegalArgumentException(
        s"graft-snapshot write to $root: $n is a reserved name (manifest " +
          "entries carry file sizes under it) — rename the column"))
    // the incoming query's schema is LOGICAL (the table exposes the
    // mapping), conformed to the resident files; data files always
    // carry PHYSICAL names, at every depth. Rows are positional, so
    // renaming fields is free. The write schema is the gen-widened one
    // (omitted generated columns derive in-task — see genPlan).
    val map = SnapshotTable.colMap(root, cur)
    val logical = (if (cur == 0) None
      else scala.util.Try(SnapshotSourceUtil.physicalSchema(root, cur)).toOption)
      .fold(genPlan._1)(conformed(genPlan._1, _, map))
    val phys = SnapshotSourceUtil.physicalRequest(logical, map)
    // Spark's own parquet writer, the one the path API and the sink
    // write through: prepared once here, instantiated per task file
    val spark = org.apache.spark.sql.SparkSession.active
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      new Configuration(spark.sparkContext.hadoopConfiguration))
    val files = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, phys)
    SnapshotWriterFactory(root, files, new SerializableConfiguration(job.getConfiguration),
      logical, phys, boundChecks, genPlan._2, genPlan._3)
  }

  /** `incoming` (logical names) with each column's nullability, at
    * every depth, conformed to what the `resident` files (physical
    * names) declare — the conformNullability rule of the path API's
    * rewrites. Two INSERTs whose analyzer-derived nullability differs
    * (a column-list insert filling non-null DEFAULTs beside a
    * positional one, say) would otherwise write REQUIRED beside
    * OPTIONAL, and the NOT NULL the table exposes from its files'
    * REQUIRED declarations would hold for some files only; the
    * writer's [[NotNullGuard]] refuses a null into a REQUIRED slot.
    * Nested columns are checked against the residents here, at plan
    * time, never by a per-row error mid-task: names, REQUIRED
    * presence, shape (struct/list/map) and leaf types must match at
    * every depth. An incoming struct field the residents lack is
    * struct-field evolution (needs a rewrite); an omitted OPTIONAL
    * field, a dropped one included, null-fills on read; an omitted
    * REQUIRED field has no value to write. */
  private def conformed(incoming: StructType, resident: StructType,
      map: Option[Seq[(String, String)]]): StructType = {
    def refuse(msg: String): Nothing =
      throw new IllegalArgumentException(s"graft-snapshot write to $root: $msg")
    // a nested column mapping translates incoming LOGICAL field names
    // to the residents' physical ones; its tree descends with the walk
    def nested(path: String, dt: DataType, res: DataType,
        node: Option[SnapshotTable.ColNode]): DataType = (dt, res) match {
      case (st: StructType, rs: StructType) =>
        def pn(f: String): String = node.fold(f)(_.physicalOf(f))
        val extra = st.fieldNames.filterNot(f => rs.fieldNames.contains(pn(f)))
        if (extra.nonEmpty) refuse(s"struct $path carries field(s) " +
          s"${extra.mkString(",")} the resident files lack — struct-field " +
          "evolution needs a rewrite (Scala route)")
        val covered = st.fieldNames.map(pn).toSet
        val missingReq = rs.fields.filter(r => !r.nullable && !covered(r.name))
        if (missingReq.nonEmpty) refuse(s"struct $path omits REQUIRED field(s) " +
          missingReq.map(_.name).mkString(",") +
          (if (node.nonEmpty) " (a DROPPED field the residents declare " +
            "NOT NULL has no value to write — OPTIMIZE to materialize " +
            "the mapping first)" else ""))
        StructType(st.fields.map { f =>
          val r = rs(pn(f.name))
          f.copy(dataType = nested(s"$path.${f.name}", f.dataType, r.dataType,
            node.flatMap(_.children.get(f.name))), nullable = r.nullable)
        })
      case (ArrayType(et, _), ArrayType(ret, rcn)) =>
        ArrayType(nested(s"$path.element", et, ret, None), rcn)
      case (MapType(kt, vt, _), MapType(rkt, rvt, rvcn)) =>
        MapType(nested(s"$path.key", kt, rkt, None),
          nested(s"$path.value", vt, rvt, None), rvcn)
      case (_: StructType | _: ArrayType | _: MapType, _) =>
        val shape = dt match {
          case _: StructType => "a struct"
          case _: ArrayType => "an array"
          case _ => "a map"
        }
        refuse(s"$path is $shape but the resident files declare " +
          s"${res.simpleString} — needs a rewrite")
      case _ if dt == res => dt
      case _ => refuse(s"$path is ${dt.simpleString} but the resident files declare " +
        s"${res.simpleString} — type changes inside a nested column need a rewrite")
    }
    val tree = map.map(SnapshotTable.parseColTree)
    StructType(incoming.fields.map { f =>
      resident.find(_.name == tree.fold(f.name)(_.physicalOf(f.name))) match {
        case None => f
        case Some(r) => f.dataType match {
          case _: StructType | _: ArrayType | _: MapType => f.copy(nullable = r.nullable,
            dataType = nested(f.name, f.dataType, r.dataType,
              tree.flatMap(_.children.get(f.name))))
          case _ => f.copy(nullable = r.nullable)
        }
      }
    })
  }
  // `.option("statsCol", c)` on the writer declares the pruning column
  // for a table this write CREATES (an existing table's statsCol is
  // carried forward by the commit; the option must agree with it)
  private val statsColOpt = Option(info.options().get("statsCol"))

  /** CLUSTERED WRITES (r19, opt-in via `optimizewrite=on` — Delta's
    * optimized-write shape, driven through Spark's OWN channel): the
    * Write declares an ORDERED distribution + ordering on the stats
    * column, so Spark range-shuffles and sorts the incoming frame
    * before the tasks write — landed files carry DISJOINT key ranges
    * and stats/point-lookup pruning works from the FIRST commit, no
    * nightly OPTIMIZE catch-up rewrite needed. Off by default: a
    * trickle append must not pay a shuffle; and skipped when the
    * incoming frame omits the cluster column (a generated column the
    * writer computes in-task — there is nothing to shuffle on yet).
    * At 100 TB this moves the clustering cost from a second
    * read-rewrite pass (2× the bytes) into the ingest shuffle the
    * write was already distributing. */
  override def build(): Write = {
    val clusterOn: Option[String] = {
      val v = SnapshotTable.currentVersion(root)
      if (v == 0) None
      else {
        val meta = SnapshotTable.carriedMeta(root, v)
        if (!meta.get("optimizewrite").contains("on")) None
        else meta.get("statsCol")
          .map(c => SnapshotTable.logicalName(SnapshotTable.colMap(root, v), c))
          .filter(c => info.schema().fieldNames.exists(_.equalsIgnoreCase(c)))
      }
    }
    clusterOn match {
      case None => new Write {
        override def toBatch: BatchWrite = buildForBatch()
        override def toStreaming: StreamingWrite = buildForStreaming()
      }
      case Some(c) => new Write with RequiresDistributionAndOrdering {
        private val order =
          Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)
        override def toBatch: BatchWrite = buildForBatch()
        override def toStreaming: StreamingWrite = buildForStreaming()
        override def requiredDistribution(): Distribution =
          Distributions.ordered(Array(order))
        // 0 = Spark (and AQE) size the shuffle; pinning a count here
        // would fight the advisory-partition machinery
        override def requiredNumPartitions(): Int = 0
        override def requiredOrdering(): Array[SortOrder] = Array(order)
      }
    }
  }

  /** INSERT OVERWRITE / df.writeTo(...).replace(): the commit's file
    * list is JUST this write's files — the superseded version stays
    * readable via time travel until vacuumed, the same transition an
    * OPTIMIZE commit makes. Only full-table overwrite is supported
    * (Spark sends AlwaysTrue for unpartitioned INSERT OVERWRITE);
    * filter-scoped overwrite would need partition semantics the
    * snapshot table intentionally replaces with clustering. */
  private var replaceAll = false
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    require(filters.forall(_.isInstanceOf[AlwaysTrue]),
      s"graft-snapshot: only full-table INSERT OVERWRITE is supported, got ${filters.mkString(",")}")
    replaceAll = true
    this
  }

  override def buildForBatch(): BatchWrite = new BatchWrite {
    private val planned = boundChecks.map { case (n, e, _) => (n, e) }.toMap
    override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory = factory
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      SnapshotCommit.append(root, messages,
        statsColOpt.map("statsCol" -> _).toMap, replace = replaceAll,
        plannedChecks = planned)
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      SnapshotCommit.discard(root, messages)
  }

  override def buildForStreaming(): StreamingWrite = new StreamingWrite {
    private val qid = info.queryId()
    override def createStreamingWriterFactory(i: PhysicalWriteInfo): StreamingDataWriterFactory = factory
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
      val v = SnapshotTable.currentVersion(root)
      val last = if (v == 0) -1L
        else SnapshotTable.manifestMeta(root, v).get(s"epoch:$qid").map(_.toLong).getOrElse(-1L)
      if (epochId <= last) SnapshotCommit.discard(root, messages) // replay: no-op
      // complete-mode streams (Spark calls overwrite() on the builder
      // because the table declares TRUNCATE) REPLACE the table each
      // epoch; append-mode epochs accumulate. Ignoring replaceAll here
      // would silently duplicate every complete-mode batch.
      else SnapshotCommit.append(root, messages,
        statsColOpt.map("statsCol" -> _).toMap + (s"epoch:$qid" -> epochId.toString),
        replace = replaceAll,
        plannedChecks = boundChecks.map { case (n, e, _) => (n, e) }.toMap)
    }
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      SnapshotCommit.discard(root, messages)
  }
}

private[graft] case class SnapshotFileCommit(rel: String) extends WriterCommitMessage

private[graft] object SnapshotCommit {
  /** Append the task files as the next version (CAS retry loop —
    * optimistic concurrency against any other committer). Per-file
    * stats are footer-harvested for the table's `#statsCol` (carried
    * forward in metadata) so appended files keep pruning. */
  def append(root: String, messages: Array[WriterCommitMessage],
      extraMeta: Map[String, String], replace: Boolean = false,
      plannedChecks: Map[String, String] = Map.empty): Unit = {
    val rels = messages.collect { case SnapshotFileCommit(rel) if rel.nonEmpty => rel }
      .toSeq.sorted
    if (rels.isEmpty && extraMeta.isEmpty && !replace) return
    val harvested = scala.collection.mutable.Map.empty[String,
      Seq[SnapshotTable.FileEntry]]
    SnapshotTable.casCommit(root) { v =>
      // a CAS retry may land on a base whose CHECK constraints CHANGED
      // since the rows were written and per-row-checked (a racing ADD
      // CONSTRAINT validated only ITS base's resident data): the rows
      // are already on disk, so re-checking is impossible here — abort
      // loudly instead of committing unvalidated rows under the new
      // invariant (Delta's metadata-conflict abort)
      val checksNow = if (v == 0) Map.empty[String, String]
        else SnapshotTable.checkConstraints(root, v)
      if (checksNow != plannedChecks) throw new IllegalStateException(
        s"graft-snapshot: CHECK constraints of $root changed while this write " +
          s"was in flight (planned ${plannedChecks.keys.toSeq.sorted.mkString(",")}, " +
          s"now ${checksNow.keys.toSeq.sorted.mkString(",")}) — the written rows " +
          "were not validated against the new set; retry the statement")
      // carriedMeta, NOT raw manifestMeta: the base's per-commit audit
      // tags — above all `cdc`, which names ONE commit's change files —
      // must not ride into this append's version, or the CDF planner
      // would re-emit the previous DML's rows as this version's changes
      // and never surface the appended file (r14 review)
      val meta0 = if (v == 0) Map.empty[String, String] else SnapshotTable.carriedMeta(root, v)
      // overwrite: every surviving file is this write's, so the
      // mixed-width evolution marker and maintenance tags no longer
      // describe the version; watermarks and statsCol still carry
      val meta = if (replace) meta0 -- Seq("schema", "schemaJson", "widen", "optimize", "merge", "delete") else meta0
      val statsCol = extraMeta.get("statsCol").orElse(meta.get("statsCol"))
      val existing =
        if (v == 0 || replace) Nil else SnapshotTable.manifestEntries(root, v)
      // harvest ONCE per distinct statsCol (a CAS retry must not
      // re-read every footer — statsCol only changes between retries
      // if a racing OPTIMIZE CLUSTER BY re-keyed the table), and
      // distributed above the small-batch threshold: a wide INSERT's
      // file count scales with data, and the serial driver sweep at
      // object-store footer latency is the class of cost the
      // distributed convert harvest already eliminated
      val fresh = harvested.getOrElseUpdate(statsCol.getOrElse(""),
        SnapshotTable.harvestEntries(
          org.apache.spark.sql.SparkSession.active, root, rels,
          statsCol.getOrElse(""))) // no stats column: rows-only sentinel lo/hi
      // carry EVERY query's epoch watermark forward (a commit that
      // dropped another streaming writer's `epoch:` key would erase
      // that query's replay protection — the Delta txn map keeps one
      // version per appId for exactly this reason); our own key is
      // overwritten by extraMeta
      SnapshotTable.commitEntries(root, v, existing ++ fresh, shardSize = 16,
        meta ++ extraMeta)
    }
    // a CREATE-time identity declaration (pending marker) applies on
    // the table's first commit — one metadata-only follow-up, the same
    // declare-after-seed flow the Scala API runs manually
    SnapshotTable.applyPendingIdentity(
      org.apache.spark.sql.SparkSession.active, root)
  }

  /** Drop staged task files that will never be referenced. Empty-task
    * markers (rel == "", from [[PartitionFileWriter.commit]] on a
    * zero-row partition) are skipped exactly as [[append]] skips them —
    * `Paths.get(root, "")` IS the table root, and deleting it would
    * crash the replay-no-op and abort paths whenever any task partition
    * was empty. */
  def discard(root: String, messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case SnapshotFileCommit(rel) if rel.nonEmpty =>
      deleteDataFile(root, rel) }

  /** Delete a task's data file together with the `.<name>.crc` sidecar
    * Hadoop's checksummed local file system wrote beside it. */
  def deleteDataFile(root: String, rel: String): Unit = {
    val file = Paths.get(root, rel)
    java.nio.file.Files.deleteIfExists(file)
    java.nio.file.Files.deleteIfExists(
      file.resolveSibling(s".${file.getFileName}.crc"))
  }
}

/** Executor-side writer: each task streams its rows into one immutable
  * uniquely-named parquet file under the table root through Spark's
  * own parquet writer (`files`, prepared on the driver over the
  * physical `fileSchema`). `schema` is the same row layout under the
  * logical names, which CHECK failures and the [[NotNullGuard]] ahead
  * of the writer report. */
private[sources] case class SnapshotWriterFactory(root: String,
    files: OutputWriterFactory, conf: SerializableConfiguration,
    schema: StructType, fileSchema: StructType,
    checks: Seq[(String, String, org.apache.spark.sql.catalyst.expressions.Expression)],
    srcIdx: Array[Int], fills: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    writer(partitionId, -1L)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = writer(partitionId, epochId)

  private def writer(partitionId: Int, epochId: Long): DataWriter[InternalRow] = {
    val rel = s"data_w_e${epochId}_p${partitionId}_" +
      s"${SnapshotTable.uniqueTag()}.parquet"
    new PartitionFileWriter(this, rel,
      new TaskAttemptContextImpl(conf.value, new TaskAttemptID(
        new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId), 0)))
  }
}

private[sources] class PartitionFileWriter(f: SnapshotWriterFactory, rel: String,
    task: TaskAttemptContext) extends DataWriter[InternalRow] {
  import f.{checks, fills, root, schema, srcIdx}

  private val guard = new NotNullGuard(root, schema)
  // opened with the first row: an empty task writes no file
  private var out: OutputWriter = _

  // whether this write derives omitted GENERATED columns (or reorders
  // to the table's declared layout): srcIdx then rebuilds each row —
  // the common no-gens append keeps the zero-copy fast path
  private val rebuild = fills.nonEmpty ||
    (srcIdx.nonEmpty && !srcIdx.indices.forall(i => srcIdx(i) == i))

  override def write(row0: InternalRow): Unit = {
    // derive omitted generated columns (bound at plan time against the
    // incoming schema) and conform to the table's declared order — the
    // CHECKS below then see the widened row, so gen:<col> invariants
    // verify the very values this writer materialized
    val row: InternalRow = if (!rebuild) row0 else {
      val vals = new Array[Any](srcIdx.length)
      var i = 0
      while (i < srcIdx.length) {
        val s = srcIdx(i)
        vals(i) =
          if (s >= 0) { if (row0.isNullAt(s)) null else row0.get(s, schema.fields(i).dataType) }
          else fills(-s - 1).eval(row0)
        i += 1
      }
      new GenericInternalRow(vals)
    }
    // CHECK constraints, evaluated on the incoming (logical-order) row
    // before anything lands in the file: TRUE and NULL pass (SQL's
    // three-valued CHECK), FALSE refuses loudly — the task fails, the
    // batch aborts, the commit never mints a version
    var c = 0
    while (c < checks.length) {
      val (name, sql, ex) = checks(c)
      if (ex.eval(row) == false) {
        val rendered = Seq.tabulate(schema.length)(i =>
          s"${schema.fields(i).name}=${if (row.isNullAt(i)) "null" else row.get(i, schema.fields(i).dataType)}")
        throw new IllegalArgumentException(
          s"graft check constraint '$name' CHECK ($sql) violated on INSERT into " +
            s"$root by row: ${rendered.mkString(", ")}")
      }
      c += 1
    }
    guard(row)
    if (out == null)
      out = f.files.newInstance(Paths.get(root, rel).toUri.toString, f.fileSchema, task)
    out.write(row)
  }

  override def commit(): WriterCommitMessage =
    if (out == null) SnapshotFileCommit("")
    else { out.close(); SnapshotFileCommit(rel) }
  override def abort(): Unit =
    try if (out != null) out.close()
    finally SnapshotCommit.deleteDataFile(root, rel)
  override def close(): Unit = ()
}

/** The table's NOT NULL constraint, checked per row ahead of the
  * parquet writer: parquet REQUIRED slots of `schema` — top-level
  * columns, struct fields, list elements and map values — refuse a
  * NULL loudly, naming the slot, instead of letting the writer fail
  * obscurely or write a file the table's readers refuse. Only the
  * non-nullable paths are walked, so a schema with none costs
  * nothing. */
private[sources] final class NotNullGuard(root: String, schema: StructType)
    extends (InternalRow => Unit) {
  import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
  private type Check = (SpecializedGetters, Int) => Unit

  /** The checks inside one non-null value of type `dt` at `path`. */
  private def within(dt: DataType, path: String): Option[Check] = dt match {
    case st: StructType =>
      val fs = st.fields.zipWithIndex.flatMap { case (f, j) =>
        slot(f.dataType, f.nullable, s"$path.${f.name}").map(j -> _) }
      if (fs.isEmpty) None
      else Some { (src, i) =>
        val r = src.getStruct(i, st.length)
        fs.foreach { case (j, check) => check(r, j) }
      }
    case ArrayType(et, containsNull) =>
      slot(et, containsNull, s"$path.element").map(check => { (src, i) =>
        val a = src.getArray(i)
        var k = 0
        while (k < a.numElements()) { check(a, k); k += 1 }
      })
    case MapType(kt, vt, valueContainsNull) =>
      val keys = within(kt, s"$path.key")
      val values = slot(vt, valueContainsNull, s"$path.value")
      if (keys.isEmpty && values.isEmpty) None
      else Some { (src, i) =>
        val m = src.getMap(i)
        var k = 0
        while (k < m.numElements()) {
          keys.foreach(_(m.keyArray(), k))
          values.foreach(_(m.valueArray(), k))
          k += 1
        }
      }
    case _ => None
  }

  /** The checks of one slot: itself when REQUIRED, then its value. */
  private def slot(dt: DataType, nullable: Boolean, path: String): Option[Check] = {
    val inner = within(dt, path)
    if (nullable) inner.map(check => (src, i) => if (!src.isNullAt(i)) check(src, i))
    else Some { (src, i) =>
      if (src.isNullAt(i)) throw new IllegalArgumentException(
        s"graft-snapshot write to $root: NULL into $path, which the resident " +
          "files declare REQUIRED (NOT NULL)")
      inner.foreach(_(src, i))
    }
  }

  private val columns: Array[(Int, Check)] = schema.fields.zipWithIndex.flatMap {
    case (f, i) => slot(f.dataType, f.nullable, f.name).map(i -> _)
  }

  def apply(row: InternalRow): Unit = {
    var i = 0
    while (i < columns.length) { columns(i)._2(row, columns(i)._1); i += 1 }
  }
}

private[sources] object SnapshotAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val go = !emitted; emitted = true; go }
      override def get(): InternalRow =
        new GenericInternalRow(p.asInstanceOf[SnapshotAggPartition].values)
      override def close(): Unit = ()
    }
}


/** The one executor-side reader of table data files, on every route —
  * batch, row ids, batch CDF and both micro-batch streams. Each file
  * decodes through Spark's own parquet reader (`ParquetFileFormat`,
  * the one the path API scans with), built ONCE on the driver over the
  * physical `request`: columns are matched by name, a column a file
  * lacks null-fills (add-column evolution), narrower files upcast
  * (type widening), and only requested columns are decompressed. What
  * the format cannot know, this wrapper adds per partition:
  *   - deletion vectors: rows whose file row index is in the
  *     partition's sidecar set are skipped;
  *   - change-feed DV deltas: only row indexes in keep ∖ dv surface
  *     (see [[SnapshotCdfPartition]]);
  *   - row ids: `_row_id` = coalesce(__row_id, file base + row index)
  *     plus the identity START WITH offset;
  *   - the change-feed constant columns.
  * Output slot i serves request slot `slots(i)` when >= 0, else the
  * computed value its code names. Rows leave as UnsafeRows, the way
  * Spark's own file scan emits them: the vectorized reader's rows are
  * views over reused column vectors. */
private[sources] class SnapshotFileReaderFactory private (
    readData: PartitionedFile => Iterator[InternalRow],
    readDv: Option[PartitionedFile => Iterator[InternalRow]],
    request: StructType, slots: Array[Int], starts: Array[Long])
    extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Coalesce, JoinedRow, Literal, UnsafeProjection}
  import SnapshotFileReaderFactory._

  private val matSlot = request.fieldNames.indexOf(SnapshotTable.RowIdCol)
  private val idxSlot = request.fieldNames.indexOf(RowIndexCol)

  /** The output projection over (request row ++ the partition's
    * constants: row base, change type, commit version, commit
    * timestamp) — the same expressions for every partition, so one
    * generated class serves them all. */
  private def projection(): UnsafeProjection = {
    val n = request.length
    def in(i: Int, dt: DataType) = BoundReference(i, dt, nullable = true)
    UnsafeProjection.create(slots.indices.map { i =>
      slots(i) match {
        case IdSlot =>
          val id = Coalesce(Seq(in(matSlot, LongType),
            Add(in(n, LongType), in(idxSlot, LongType))))
          if (starts(i) == 0L) id else Add(id, Literal(starts(i)))
        case TypeSlot => in(n + 1, StringType)
        case VersionSlot => in(n + 2, LongType)
        case TsSlot => in(n + 3, TimestampType)
        case j => in(j, request(j).dataType)
      }
    })
  }

  /** A deletion-vector sidecar's ordinal set (tiny by the selectivity
    * cap), read by the same parquet reader as the data. */
  private def loadDvSet(path: String): java.util.HashSet[java.lang.Long] = {
    val set = new java.util.HashSet[java.lang.Long]()
    readDv.get(partitionedFile(path)).foreach(r => set.add(r.getLong(0)))
    set
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val (path, dvPath, keepPath, rowBase, change) = p match {
      case f: SnapshotFilePartition => (f.path, f.dvPath, None, f.rowBase, None)
      case c: SnapshotCdfPartition => (c.path, c.dvPath, c.keepDvPath, None, Some(c))
    }
    val dv = dvPath.map(loadDvSet)
    val live: InternalRow => Boolean = keepPath.map(loadDvSet) match {
      case Some(keep) =>
        dv.foreach(keep.removeAll)
        r => keep.contains(r.getLong(idxSlot))
      case None => dv.fold((_: InternalRow) => true)(d => r => !d.contains(r.getLong(idxSlot)))
    }
    // no base on record: the positional id is null, never a wrong one
    val consts = new GenericInternalRow(Array[Any](rowBase.map(Long.box).orNull,
      change.map(c => UTF8String.fromString(c.changeType)).orNull,
      change.fold(0L)(_.commitVersion.toLong),
      // TimestampType's internal representation is MICROS since epoch
      change.fold(0L)(_.commitTsMillis * 1000L)))
    val project = projection()
    val joined = new JoinedRow()
    val rows = try readData(partitionedFile(path))
      catch { case e: Exception => throw diverged(path, e) }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        try {
          var found = false
          while (!found && rows.hasNext) { cur = rows.next(); found = live(cur) }
          found
        } catch { case e: Exception => throw diverged(path, e) }
      override def get(): InternalRow = project(joined(cur, consts))
      override def close(): Unit = rows match {
        case c: java.io.Closeable => c.close()
        case _ => () // the reader closes itself at task completion
      }
    }
  }
}

private[sources] object SnapshotFileReaderFactory {
  val IdSlot = -1
  val TypeSlot = -2
  val VersionSlot = -3
  val TsSlot = -4
  private val RowIndexCol = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** Build the reader over the physical table columns `data`: `ids`
    * adds `__row_id`, `ordinals` the file row index (and the sidecar
    * reader deletion vectors need). */
  def apply(data: StructType, slots: Array[Int], starts: Array[Long],
      ids: Boolean, ordinals: Boolean): SnapshotFileReaderFactory = {
    // nullable at every depth: Spark's reader refuses a non-nullable
    // column it cannot find in a file, where a file committed before an
    // added column must null-fill it (and the row index is no file
    // column at all)
    val nullable = SnapshotSourceUtil.nullNormalized(data).asInstanceOf[StructType]
    val withId =
      if (!ids || data.fieldNames.contains(SnapshotTable.RowIdCol)) nullable
      else nullable.add(SnapshotTable.RowIdCol, LongType, nullable = true)
    val request = if (ordinals) withId.add(RowIndexCol, LongType, nullable = true) else withId
    new SnapshotFileReaderFactory(parquetReader(request),
      if (ordinals) Some(parquetReader(new StructType().add("idx", LongType))) else None,
      request, slots, starts)
  }

  private def parquetReader(schema: StructType): PartitionedFile => Iterator[InternalRow] = {
    val spark = org.apache.spark.sql.SparkSession.active
    new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema, new StructType(),
      schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      new Configuration(spark.sparkContext.hadoopConfiguration))
  }

  private def partitionedFile(path: String): PartitionedFile = {
    val size = Files.size(Paths.get(path))
    PartitionedFile(InternalRow.empty,
      SparkPath.fromPath(new HadoopPath(Paths.get(path).toUri)), 0L, size, fileSize = size)
  }

  /** A file whose column cannot convert to the requested type — a
    * hand-registered file whose nested field was retyped, which the
    * captured (zero-footer) planning never sweeps — refuses with the
    * file and column named. */
  private def diverged(path: String, e: Exception): Exception =
    Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).collectFirst {
      case c: SchemaColumnConvertNotSupportedException =>
        val column = c.getColumn.stripPrefix("[").stripSuffix("]").split(", ").mkString(".")
        new IllegalStateException(s"graft-snapshot: file $path column $column " +
          s"declares ${c.getPhysicalType} but the scan requests ${c.getLogicalType} — " +
          "nested columns cannot evolve (add-column evolution only); this file " +
          "diverges from the table's schema of record", e)
    }.getOrElse(e)
}
