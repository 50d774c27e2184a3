package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ParquetFooters, Tables}

/** A minimal manifest-committed snapshot table — the primitive set a
  * table format (Delta/Iceberg) is built from, answering what x6's
  * staged-rename alone cannot: MULTI-file snapshot isolation, readers
  * pinned to a version, optimistic writer concurrency, and time travel.
  *
  * Protocol (all under one table root, same filesystem):
  *   - data files are immutable once written and NEVER deleted by a
  *     commit (only a future vacuum may reclaim unreferenced ones), so
  *     any reader holding any manifest can always finish its scan;
  *   - `_manifests/v%05d.txt` lists the snapshot's data files (one
  *     relative path per line). `Files.createFile` on the next version
  *     number is the commit's compare-and-swap: two writers committing
  *     from the same base race on the same filename and the loser gets
  *     FileAlreadyExistsException — detect, re-read, re-resolve, retry;
  *   - `_latest` (one line: version number) is refreshed by atomic
  *     temp-file rename AFTER the manifest lands; it is a convenience
  *     pointer — the manifest files themselves are the source of truth
  *     (highest version wins if _latest lags a crashed committer);
  *   - readers resolve a version's manifest ONCE and plan every read as
  *     a file selection over one read core (see [[scan]]): (1) scan the
  *     chosen files with the version's reader (captured schema,
  *     mergeSchema or plain), (2) optionally expose each row's (full
  *     file path, ordinal) coordinate, (3) anti-join the deletion-vector
  *     sidecars on it, (4) optionally resolve row ids — then map to the
  *     logical view. The plan scans an explicit immutable file list, so
  *     a concurrent commit cannot tear it.
  *
  * At 100 TB the manifest grows (one line per file), so the format also
  * carries what real formats (Iceberg manifest lists, Delta checkpoints
  * with file stats) use to keep planning cheap:
  *   - a manifest line is either a data-file entry
  *     `relpath<TAB>minKey<TAB>maxKey<TAB>rows` (per-file column stats,
  *     harvested from the parquet FOOTER the write already produced —
  *     committing never runs a stats job), a bare `relpath` (no stats:
  *     never pruned), or `>shardfile` — a pointer to an immutable shard
  *     under `_manifests/` holding entry lines (one-level manifest
  *     list, so a 100 TB table's commit rewrites one shard + a small
  *     pointer file, not a million-line manifest);
  *   - `readPruned` resolves entries and scans ONLY the files whose
  *     [minKey, maxKey] intersects the query range (x15 proves the
  *     skip), with the residual predicate still applied after the scan;
  *   - a manifest may also carry `#key<TAB>value` METADATA lines —
  *     application facts committed atomically with the file list (the
  *     role of Delta's txn actions / Iceberg snapshot summary). The
  *     streaming sink (st8) stores the last-committed micro-batch id
  *     there, which upgrades foreachBatch's at-least-once replay to
  *     exactly-once: a replayed batch sees its id already committed and
  *     becomes a no-op. */
object SnapshotTable {

  /** One manifest entry: a data file + its key-column stats (lo/hi are
    * Long.MinValue/MaxValue when the entry carries no stats — such a
    * file is never pruned). `extra` carries SECONDARY per-column stats
    * (`col:lo:hi` fields after the row count) — the multi-column stats
    * a Z-ordered layout prunes on (x22); absent for single-key
    * tables, and unknown columns never prune. */
  case class FileEntry(rel: String, lo: Long, hi: Long, rows: Long,
      extra: Seq[(String, Long, Long)] = Nil) {
    def line: String =
      if (rows < 0) rel
      else (s"$rel\t$lo\t$hi\t$rows" +:
        extra.map { case (c, l, h) => s"$c:$l:$h" }).mkString("\t")
    /** This file's [lo, hi] for `col`: primary stats when `col` is the
      * cluster column is the caller's contract; extras by name; the
      * never-pruned sentinel otherwise. The reserved [[BytesCol]]
      * extra is NEVER served as column stats — a query naming
      * "__bytes" must get the sentinel (unknown columns never prune),
      * not the file size masquerading as a [size, 0] range that would
      * prune every file. */
    def statsFor(col: String, primaryCol: String): (Long, Long) =
      if (col == primaryCol) (lo, hi)
      else extra.find(e => e._1 == col && e._1 != BytesCol).map(e => (e._2, e._3))
        .getOrElse((Long.MinValue, Long.MaxValue))
    /** The file's on-disk size, harvested at commit time into the
      * reserved [[BytesCol]] extra (r19): size-based planning
      * (Catalyst's broadcast decision, DESCRIBE DETAIL) reads the
      * manifest instead of stat-ing every planned file — at 100 TB a
      * per-scan `Files.size` sweep is a million driver-side HEAD
      * requests on object storage. None on pre-r19 entries (callers
      * fall back to one stat each). */
    def bytes: Option[Long] = extra.collectFirst { case (BytesCol, b, _) => b }
    /** THE file-pruning test: whether this file's stats for `col`
      * (see [[statsFor]]) can hold a value in [qlo, qhi]. Sentinel
      * ranges always can, so pruning is never unsound. */
    def overlaps(col: String, primaryCol: String, qlo: Long, qhi: Long): Boolean = {
      val (l, h) = statsFor(col, primaryCol)
      l <= qhi && h >= qlo
    }
  }

  /** Reserved extra-stats field name carrying the file's byte size
    * ([[FileEntry.bytes]]). Old binaries ignore unknown extras (they
    * consult extras only by queried column name), so no feature stamp
    * is needed — but the name is RESERVED at the ALTER surface so a
    * user column can never alias it into the pruning path. */
  private[graft] val BytesCol = "__bytes"
  private def parseEntry(line: String): FileEntry = line.split('\t') match {
    case Array(rel) => FileEntry(rel, Long.MinValue, Long.MaxValue, -1L)
    case Array(rel, lo, hi, n) => FileEntry(rel, lo.toLong, hi.toLong, n.toLong)
    case arr if arr.length > 4 =>
      FileEntry(arr(0), arr(1).toLong, arr(2).toLong, arr(3).toLong,
        arr.drop(4).toSeq.map { f =>
          f.split(':') match {
            case Array(c, l, h) => (c, l.toLong, h.toLong)
            case _ => sys.error(s"malformed extra-stats field: $f")
          }
        })
    case _ => sys.error(s"malformed manifest line: $line")
  }

  private def manifestDir(root: String): Path = Paths.get(root, "_manifests")
  private[graft] def manifestPath(root: String, v: Int): Path =
    manifestDir(root).resolve(f"v$v%05d.txt")

  /** `size` of a path that may legitimately vanish mid-read (a
    * manifest under concurrent vacuum): 0 when absent. ONLY
    * NoSuchFileException reads as absence — any other I/O failure
    * propagates, or a transient storage error would silently truncate
    * version resolution and serve a stale snapshot (r19 review). */
  private def sizeOrZero(p: Path): Long =
    try Files.size(p)
    catch { case _: java.nio.file.NoSuchFileException => 0L }

  /** Version `v` is COMMITTED: its manifest exists with content. A
    * zero-byte manifest is a claimed-but-unfilled CAS slot (the window
    * between the claim's createFile and the content move) — not a
    * version; a file that vanishes between exists and size (a
    * concurrent vacuum reclaiming history) reads as absent. */
  private def committed(root: String, v: Int): Boolean =
    sizeOrZero(manifestPath(root, v)) > 0

  /** A manifest entry's data-file size: the [[BytesCol]] extra when
    * its commit harvested one (r19 manifests), ONE stat otherwise —
    * size-based planning stays manifest arithmetic on current tables
    * and degrades to per-file stats only for pre-r19 entries. */
  private[graft] def entryBytes(root: String, e: FileEntry): Long =
    e.bytes.getOrElse(sizeOrZero(Paths.get(root, e.rel)))

  /** Current committed version, POINTER-ANCHORED (r19): `_latest` is a
    * trusted LOWER bound — every committer refreshes it right after its
    * content move — so resolution PROBES forward from it with direct
    * per-version stats, O(1 + pointer lag) where the lag is only the
    * commits whose pointer refresh a crash swallowed. The previous
    * implementation listed `_manifests/` on EVERY resolution —
    * O(#commits); at one commit a minute for a year that is a
    * ~500k-key LIST per query planning on object storage, the exact
    * cost Delta's _last_checkpoint anchor exists to avoid. The probe
    * is sound because committed manifests are CONTIGUOUS: claiming
    * slot v+1 requires having observed v committed (the CAS re-reads
    * the current version each attempt), and a committed manifest is
    * never truncated — so the first missing-or-zero-byte slot above
    * the anchor ends the table. Falls back to the full listing when
    * the pointer is absent (fresh or pre-pointer table) or names a
    * manifest no longer on disk (a vacuum outran a stale pointer) —
    * the listing re-derives the truth the pointer lost. */
  def currentVersion(root: String): Int = {
    val latest = Paths.get(root, "_latest")
    val pointed =
      if (Files.exists(latest)) new String(Files.readAllBytes(latest)).trim.toInt
      else 0
    if (pointed > 0 && committed(root, pointed)) {
      var v = pointed
      while (committed(root, v + 1)) v += 1
      v
    } else {
      val onDisk = Engine.listDir(manifestDir(root))
        // name-filter BEFORE statting: the listing also surfaces other
        // committers' transient `.v*.tmp` files, which vanish between
        // list and stat when their atomic move lands (CommitRaceSpec
        // races this). Manifests themselves can ALSO vanish between
        // list and stat — a concurrent vacuum reclaiming history, and
        // this fallback runs precisely in vacuum-raced states (a stale
        // pointer the vacuum outran) — so the stat is vanish-tolerant
        // (r19 review; the old claim that manifests cannot race was
        // only true of commits, not of vacuum)
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith("v") && n.endsWith(".txt") &&
            // zero-byte = claimed-but-unfilled commit slot, not a version
            sizeOrZero(p) > 0
        }
        .map(_.getFileName.toString)
        .map(s => s.stripPrefix("v").stripSuffix(".txt").toInt)
        .maxOption.getOrElse(0)
      math.max(pointed, onDisk)
    }
  }

  // ---------------- PROTOCOL / FEATURE GATING -----------------------
  // Delta's protocol-action contract, re-expressed for this manifest:
  // a commit that first uses a capability an older binary would
  // MISREAD (column mapping — physical names would surface; deletion
  // vectors — deleted rows would resurrect; schema capture — evolved
  // columns would silently vanish from subset reads) stamps the
  // capability into `#readerFeatures`; capabilities an older binary
  // would miswrite-but-read-fine (cdf emission, dvmode, check
  // constraints) stamp `#writerFeatures`. EVERY manifest read passes
  // through [[rawManifestLines]], which refuses a manifest requiring
  // an unknown reader feature — batch, streaming, catalog and SQL
  // routes alike fail LOUDLY instead of silently returning wrong
  // rows; every commit passes through [[commitLines]], which refuses
  // to advance a table whose base requires an unknown reader OR
  // writer feature (a writer must fully understand what it carries
  // forward). Manifests from pre-gating binaries carry no features
  // line and read/commit exactly as before.

  private[graft] val SupportedReaderFeatures =
    Set("colmap", "dv", "evolution", "widen", "ncolmap", "dcolmap")
  private[graft] val SupportedWriterFeatures =
    SupportedReaderFeatures ++
      Set("cdf", "checks", "gencols", "rowtracking", "coldefaults", "tags",
        "branches")

  /** The (reader, writer) feature sets a manifest carrying `meta`
    * requires. Writer features always include the reader set: a
    * committer that cannot READ the table state cannot carry it. */
  private[graft] def requiredFeatures(
      meta: Map[String, String]): (Set[String], Set[String]) = {
    val r = scala.collection.mutable.Set.empty[String]
    val w = scala.collection.mutable.Set.empty[String]
    if (meta.contains("colmap")) {
      r += "colmap"
      // DOTTED entries map struct FIELDS (nested column mapping): a
      // nested-ignorant binary would serve the struct under raw
      // physical field names — and resurrect dropped fields — instead
      // of failing, so the capability is a READER feature of its own
      val logicals = meta("colmap").split(',').map(_.takeWhile(_ != '='))
      if (logicals.exists(_.contains('.'))) r += "ncolmap"
      // DEPTH >= 2 entries (a.b.c=..., r19) are a FURTHER reader
      // feature: one-level binaries (r16-r18) declare ncolmap but
      // decode only the first segment split — they would serve the
      // deeper struct under raw physical inner names and resurrect
      // deep-dropped fields, the same silent wrong-data mode ncolmap
      // exists to prevent, so they must refuse the manifest outright
      if (logicals.exists(_.count(_ == '.') >= 2)) r += "dcolmap"
    }
    if (meta.contains("dv")) r += "dv"
    if (meta.contains("schema") || meta.contains("schemaJson")) r += "evolution"
    // widened tables: a reader without upcast support would mis-decode
    // narrow files under the widened schema of record
    if (meta.contains("widen")) r += "widen"
    if (meta.get("dvmode").contains("on")) w += "dv"
    if (meta.contains("cdf")) w += "cdf"
    if (meta.keys.exists(_.startsWith("check."))) w += "checks"
    // generated columns: values are MATERIALIZED (any reader is fine),
    // but a generation-ignorant writer would append rows violating the
    // ALWAYS AS invariant — writer feature only
    if (meta.keys.exists(_.startsWith("gen."))) w += "gencols"
    // row tracking: plain reads are untouched (materialized __row_id
    // physicals hide behind the colmap like any dropped column), but a
    // tracking-ignorant writer would append files with no base row id
    // and rewrite files without preserving ids — writer feature only
    if (meta.get("rowtracking").contains("on")) w += "rowtracking"
    // column DEFAULTs: reads are untouched (values are materialized),
    // but a defaults-ignorant writer's catalog neither declares the
    // capability nor exposes the fill metadata — its column-list
    // INSERTs would land NULL where the table's declared contract
    // says the default (Delta's allowColumnDefaults writer feature)
    if (meta.keys.exists(_.startsWith("default."))) w += "coldefaults"
    // TAGS (named refs): reads are untouched (a tag-ignorant reader
    // serves every version correctly and commits carry unknown keys
    // forward), but tags promise VACUUM protection, and only a
    // tag-aware binary's vacuum honors it — stamp the writer feature
    // so maintenance binaries older than the promise stop committing
    // to the table (the accepted envelope: a pre-tags binary running
    // bare VACUUM could still reclaim a tagged snapshot; see README)
    if (meta.keys.exists(_.startsWith(TagKey))) w += "tags"
    // BRANCHES (writable refs): same reasoning as tags — a branch's
    // staged data files are referenced only by branch manifests, and
    // only a branch-aware binary's vacuum spares them
    if (meta.keys.exists(_.startsWith(BranchKey))) w += "branches"
    (r.toSet, r.toSet ++ w)
  }

  private def featureLine(lines: Seq[String], key: String): Set[String] =
    lines.collectFirst {
      case l if l.startsWith(s"#$key\t") =>
        l.split('\t')(1).split(',').filter(_.nonEmpty).toSet
    }.getOrElse(Set.empty)

  /** Raw manifest lines (entry, stats-entry, or `>shard` pointer).
    * THE reader-side protocol gate: every load route (batch readAt,
    * DSv2 scan, streaming planInputPartitions, catalog/SQL, vacuum,
    * restore) resolves manifests through here, so a manifest
    * requiring an unknown reader feature refuses on all of them. */
  /** Diagnostics: manifest reads since JVM start — CheckpointSpec pins
    * DESCRIBE HISTORY's O(commits-since-checkpoint) read bound on it. */
  private[graft] val manifestReads = new java.util.concurrent.atomic.AtomicLong

  private[graft] def rawManifestLines(root: String, v: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    manifestReads.incrementAndGet()
    val lines = Files.readAllLines(manifestPath(root, v)).asScala.toSeq.filter(_.nonEmpty)
    val unknown = featureLine(lines, "readerFeatures") -- SupportedReaderFeatures
    if (unknown.nonEmpty) throw new IllegalStateException(
      s"graft-snapshot: $root version $v requires reader feature(s) " +
        s"${unknown.toSeq.sorted.mkString(",")} this binary does not support " +
        s"(supported: ${SupportedReaderFeatures.toSeq.sorted.mkString(",")}) — " +
        "reading would return wrong rows; upgrade the reader")
    lines
  }

  /** Fully resolved entries of a committed version: `>shard` pointer
    * lines are expanded from their (immutable) shard files; `#` metadata
    * lines are not file entries. */
  def manifestEntries(root: String, v: Int): Seq[FileEntry] = {
    import scala.jdk.CollectionConverters._
    rawManifestLines(root, v).flatMap {
      case l if l.startsWith("#") => Nil
      case l if l.startsWith(">") =>
        Files.readAllLines(manifestDir(root).resolve(l.drop(1))).asScala
          .filter(_.nonEmpty).map(parseEntry)
      case l => Seq(parseEntry(l))
    }
  }

  /** Commit wall-clock (ms), preferring the IN-COMMIT TIMESTAMP the
    * committer wrote into the manifest metadata (`cts`, Delta's ICT
    * design) and falling back to the manifest file's mtime for
    * pre-ICT manifests. The stamp survives what mtimes do not: a
    * directory copy/rsync of the table, a restore from backup, or a
    * filesystem that rewrites mtimes — on any of those, mtime-based
    * TIMESTAMP AS OF / VACUUM RETAIN would silently resolve against
    * the COPY time. [[commitEntries]] stamps every commit
    * `max(now, parent cts + 1)`, so the clock is strictly
    * version-monotone even across NTP steps. */
  def commitTimeMillis(root: String, v: Int): Long =
    manifestMeta(root, v).get("cts").map(_.toLong)
      .getOrElse(Files.getLastModifiedTime(manifestPath(root, v)).toMillis)

  /** [[commitTimeMillis]] of a STILL-PRESENT version: None when the
    * manifest was vacuumed away. Deliberately NOT a broad Try: any
    * other failure — above all the reader-feature gate's refusal —
    * must propagate, or time-travel/retention resolution would
    * silently skip a gated version and serve stale rows (r14 review). */
  def commitTimeIfPresent(root: String, v: Int): Option[Long] =
    try Some(commitTimeMillis(root, v))
    catch { case _: java.nio.file.NoSuchFileException => None }

  /** The NEWEST still-present version whose commit clock is at or
    * before `tsMillis` (Delta's timestamp-resolution rule) — THE
    * shared resolver behind `TIMESTAMP AS OF`, `RESTORE ... TO
    * TIMESTAMP AS OF` and DESCRIBE-side consumers, so the same
    * instant can never resolve to different versions on different
    * routes. Vacuumed versions are skipped; gated versions refuse
    * loudly through the clock read. */
  /** Epoch millis of a timestamp literal: all-digits = millis, a
    * date-only `yyyy-MM-dd` = midnight UTC (Delta's TIMESTAMP AS OF
    * accepts the date spelling), else a UTC
    * `yyyy-MM-dd[ T]HH:mm:ss[.SSS]` literal — THE one parser both the
    * streaming source's `startingTimestamp` and the SQL timestamp
    * verbs share. An unparseable literal refuses NAMING the accepted
    * formats instead of surfacing a raw DateTimeParseException. */
  def parseTsLiteral(raw: String): Long =
    if (raw.nonEmpty && raw.forall(_.isDigit)) raw.toLong
    else {
      val t = raw.trim.replace(' ', 'T')
      try {
        if (!t.contains('T'))
          java.time.LocalDate.parse(t).atStartOfDay
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        else java.time.LocalDateTime.parse(t)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      } catch {
        case e: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"graft-snapshot: cannot parse timestamp literal '$raw' — accepted: " +
              "epoch millis (all digits), 'yyyy-MM-dd' (midnight UTC), or " +
              "'yyyy-MM-dd[ T]HH:mm:ss[.SSS]' (UTC)", e)
      }
    }

  def versionAtOrBefore(root: String, tsMillis: Long): Option[Int] = {
    val cur = currentVersion(root)
    // the always-correct resolver: newest still-present version whose
    // clock is at or before the instant — O(cur − answer) manifest
    // reads, and the only sound order when any probed commit lacks an
    // in-commit timestamp (the mtime fallback clock is NOT guaranteed
    // monotone: backups and scrambled mtimes reorder it, and the
    // newest-matching rule must then inspect every candidate). Gated
    // versions refuse loudly through commitTimeIfPresent on this path
    // (the pre-r19 contract, unchanged).
    def linear: Option[Int] = (1 to cur).reverseIterator.find(i =>
      commitTimeIfPresent(root, i).exists(_ <= tsMillis))
    // in-commit timestamp of a probed version, read RAW — deliberately
    // NOT through the reader-feature gate: resolution only compares
    // clocks, never interprets entries, and under a monotone clock a
    // version below the answer can never be the newest match, so
    // probing it must not refuse a resolution whose ANSWER an old
    // binary can serve (pre-r19, the newest-first scan never opened
    // below-answer manifests either; the answer's own gate still
    // enforces at entries read — readAt/restore/CDF all refuse there).
    // A manifest vacuumed away mid-probe reads as None, which bails to
    // the linear scan — commitTimeIfPresent tolerates the same race.
    def ict(v: Int): Option[Long] =
      try {
        import scala.jdk.CollectionConverters._
        Files.readAllLines(manifestPath(root, v)).asScala
          .collectFirst { case l if l.startsWith("#cts\t") =>
            l.split('\t')(1).toLong }
      } catch { case _: java.nio.file.NoSuchFileException => None }
    if (cur == 0) None
    else if (!committed(root, cur)) linear
    else ict(cur) match {
      // BINARY-SEARCHED resolution (r19): `cts` is strictly
      // version-monotone by construction (commitEntries stamps
      // max(now, parent + 1)), so the newest version at-or-before the
      // instant is a boundary — O(log #versions) manifest reads
      // instead of a reverse scan that walks every commit between the
      // head and the answer (TIMESTAMP AS OF three years back on a
      // commit-a-minute table read ~1.5M manifests; now ~21).
      // ENVELOPE: a history whose head and oldest retained commits
      // both carry cts is trusted fully ICT-stamped — every commit
      // path of this engine has stamped since ICT landed, so a
      // cts-less manifest BETWEEN stamped ones is foreign tampering;
      // a probed one still bails to the linear scan defensively, but
      // an unprobed one with a scrambled mtime is outside the
      // envelope (Delta's ICT resolution draws the same line).
      case None => linear // pre-ICT head: mtime order only
      case Some(cCur) if cCur <= tsMillis =>
        Some(cur) // the common case — a recent instant, ONE read
      case Some(_) =>
        // vacuum drops a strict version PREFIX, so presence is
        // monotone too: binary-search the oldest retained version
        var lo = 1
        var hi = cur
        while (lo < hi) {
          val mid = lo + (hi - lo) / 2
          if (committed(root, mid)) hi = mid else lo = mid + 1
        }
        val minKept = lo
        ict(minKept) match {
          case None => linear // pre-ICT tail (or vacuumed mid-probe)
          case Some(cMin) if cMin > tsMillis => None // predates retention
          case Some(_) =>
            // invariant: ict(loV) <= ts < ict(hiV); a probed pre-ICT
            // manifest (no cts) voids the monotone premise — bail to
            // the linear scan rather than trust a scrambleable clock
            var loV = minKept
            var hiV = cur
            var monotone = true
            while (monotone && hiV - loV > 1) {
              val mid = loV + (hiV - loV) / 2
              ict(mid) match {
                case None => monotone = false
                case Some(c) => if (c <= tsMillis) loV = mid else hiV = mid
              }
            }
            if (monotone) Some(loV) else linear
        }
    }
  }

  /** The `#key<TAB>value` metadata committed atomically with version
    * `v`'s file list (empty for a plain commit). */

  def manifestMeta(root: String, v: Int): Map[String, String] =
    rawManifestLines(root, v).collect {
      case l if l.startsWith("#") => l.drop(1).split('\t') match {
        case Array(k, value) => k -> value
        case _ => sys.error(s"malformed manifest metadata line: $l")
      }
    }.toMap

  /** Data files of a committed version (absolute paths). */
  def manifest(root: String, v: Int): Seq[String] =
    manifestEntries(root, v).map(e => Paths.get(root, e.rel).toString)

  /** Commit `files` (paths relative to root) as the snapshot AFTER
    * `baseVersion`. Returns the new version. Throws
    * FileAlreadyExistsException if someone else committed v+1 first —
    * the caller re-reads the new state and retries (optimistic
    * concurrency, exactly a table format's commit loop). */
  def commit(root: String, baseVersion: Int, files: Seq[String]): Int =
    commitLines(root, baseVersion, files)

  /** Commit stats-carrying entries; above `shardSize` entries the
    * manifest is sharded — entries land in immutable
    * `_manifests/shard_*` files (uuid-named per attempt, so a CAS loser
    * can't clobber a winner's shard) and the manifest itself holds only
    * `>shard` pointers. This is the manifest-list shape that keeps a
    * 100 TB commit O(changed shard), not O(table). */
  def commitEntries(root: String, baseVersion: Int, entries: Seq[FileEntry],
      shardSize: Int, meta0: Map[String, String] = Map.empty): Int = {
    Files.createDirectories(manifestDir(root))
    // ROW TRACKING base maintenance — the ONE seam every commit passes
    // through: files already known to the carried `rowbase` keep their
    // base (carried entries, restore's re-listing, a clone's seeded
    // map); NEW files claim [hw, hw+rows) and advance the high-water
    // mark. The map is rebuilt from THIS commit's entries, so bases of
    // rewritten-away files never accumulate. Rewritten files carry
    // their preserved ids in a materialized __row_id column and ALSO
    // get a fresh base — readers resolve coalesce(__row_id, base +
    // row_index), and because every fresh base starts at or above the
    // high-water mark, preserved ids (always below it) can never
    // collide with base-derived ones.
    val meta = if (!meta0.get("rowtracking").contains("on")) meta0 else {
      val prev = rowBasesOf(meta0)
      var hw = meta0.get("rowhw").map(_.toLong).getOrElse(0L)
      val assigned = entries.map { e =>
        prev.get(e.rel) match {
          case Some(b) => e.rel -> b
          case None =>
            require(e.rows >= 0,
              s"row tracking on $root: entry ${e.rel} carries no footer row " +
                "count — row ids need exact per-file cardinalities")
            val b = hw; hw += e.rows; e.rel -> b
        }
      }
      // the materialization bits: carried rels keep theirs, the
      // committer's rowmat_new hint tags this commit's rewritten files
      val matNow = (rowMatOf(meta0) ++
        meta0.get("rowmat_new").map(_.split(';').filter(_.nonEmpty).toSet)
          .getOrElse(Set.empty))
        .intersect(entries.map(_.rel).toSet)
      meta0 - "rowmat_new" - "rowmat" ++
        fmtRowMat(matNow).map("rowmat" -> _) ++
        fmtRowBases(assigned.toMap).map("rowbase" -> _) +
        ("rowhw" -> hw.toString)
    }
    val entryLines =
      if (entries.size <= shardSize) entries.map(_.line)
      else entries.grouped(shardSize).zipWithIndex.map { case (g, i) =>
        val rel = s"shard_${uniqueTag()}_$i.txt"
        Files.write(manifestDir(root).resolve(rel), g.map(_.line).mkString("\n").getBytes)
        ">" + rel
      }.toSeq
    // metadata rides in the manifest itself (never sharded): it must be
    // exactly as atomic as the file list it annotates. Feature stamps
    // are RECOMPUTED from this commit's final meta, never carried
    // stale: a commit that drops the last colmap (OPTIMIZE
    // materializes it) un-requires the feature, one that first writes
    // `dv` requires it from that version on.
    val (rf, wf) = requiredFeatures(meta)
    // IN-COMMIT TIMESTAMP (Delta's ICT): the commit's wall-clock lands
    // IN the manifest, strictly after the parent's — the source
    // TIMESTAMP AS OF / VACUUM RETAIN resolve against, immune to the
    // mtime churn of table copies/restores. Always freshly stamped
    // (never carried; carriedMeta strips it).
    val cts = math.max(System.currentTimeMillis,
      (if (baseVersion > 0)
        scala.util.Try(commitTimeMillis(root, baseVersion)).getOrElse(0L)
      else 0L) + 1)
    val metaAll = meta -- Seq("readerFeatures", "writerFeatures") +
      ("cts" -> cts.toString) ++
      (if (rf.nonEmpty) Map("readerFeatures" -> rf.toSeq.sorted.mkString(",")) else Nil) ++
      (if (wf.nonEmpty) Map("writerFeatures" -> wf.toSeq.sorted.mkString(",")) else Nil)
    val lines = entryLines ++ metaAll.toSeq.sortBy(_._1).map { case (k, v) => s"#$k\t$v" }
    try {
      val v = commitLines(root, baseVersion, lines)
      maybeWriteHistoryCheckpoint(root, v)
      v
    }
    catch {
      // CAS loser: its uuid-named staged shards are referenced by no
      // manifest and never will be — reclaim them here instead of
      // leaving orphans for vacuum's unreferenced-shard sweep
      case e: java.nio.file.FileAlreadyExistsException =>
        lines.collect { case l if l.startsWith(">") =>
          Files.deleteIfExists(manifestDir(root).resolve(l.drop(1))) }
        throw e
    }
  }

  /** Per-file key-column stats harvested from the parquet FOOTER of a
    * file the write just produced — one metadata read, never a stats
    * job. Row-group statistics min/max over an INT64 column; a file
    * whose footer carries no usable stats degrades to the never-pruned
    * sentinel entry rather than failing the commit. */
  private[graft] def footerEntry(root: String, rel: String, keyCol: String): FileEntry =
    footerEntryMulti(root, rel, keyCol, Nil)

  /** One footer read harvesting stats for the primary key column AND
    * any secondary columns (x22's Z-order manifests carry both), plus
    * the file's byte size into the reserved [[BytesCol]] extra — the
    * length comes from the SAME open (zero extra metadata calls). */
  private[graft] def footerEntryMulti(root: String, rel: String, keyCol: String,
      extraCols: Seq[String]): FileEntry = {
    // __bytes is the size slot: harvesting a USER column of that name
    // as secondary stats would make the two indistinguishable
    require(!extraCols.exists(_.equalsIgnoreCase(BytesCol)),
      s"stats harvest on $root: $BytesCol is a reserved extra-stats name " +
        "(manifest entries carry file sizes under it)")
    withFooterLen(root, rel)((r, len) =>
      withBytes(len, statsEntry(r, rel, keyCol, extraCols)))
  }

  private def withBytes(len: Long, e: FileEntry): FileEntry =
    e.copy(extra = e.extra :+ ((BytesCol, len, 0L)))

  /** Footer-harvest entries for freshly WRITTEN files — DISTRIBUTED
    * as a Spark job above a small threshold: rewrite/append file
    * counts scale with data (a 100 TB OPTIMIZE or wide INSERT lands
    * 10^4–10^5 files), and a serial driver sweep at object-store
    * footer latency (50–100 ms each) is minutes-to-hours of IO the
    * executors absorb in one wave — the same reasoning as convert's
    * distributed harvest (r17). Tasks ship back only the tiny
    * FileEntry structs; below the threshold a driver loop beats the
    * job-launch overhead. Entry ORDER follows `rels` on both paths
    * (parallelize/collect preserves partition order). */
  private[graft] def harvestEntries(s: SparkSession, root: String,
      rels: Seq[String], keyCol: String,
      extraCols: Seq[String] = Nil): Seq[FileEntry] =
    if (rels.size < 64) rels.map(footerEntryMulti(root, _, keyCol, extraCols))
    else {
      // absolute root: the closure runs executor-side, where a
      // driver-relative path would resolve against the wrong cwd
      val rootAbs = Paths.get(root).toAbsolutePath.toString
      val slices = math.min(rels.size,
        math.max(1, s.sparkContext.defaultParallelism))
      s.sparkContext.parallelize(rels, slices)
        .map(rel => footerEntryMulti(rootAbs, rel, keyCol, extraCols))
        .collect().toSeq
    }

  /** Footer read + stats harvest with the file's SCHEMA fingerprint —
    * one open for both (convert's uniformity validation, run inside
    * Spark tasks: everything here must stay driver-state-free). The
    * fingerprint is a SHA-256 over the FIELD list rendering: the root
    * message NAME is writer trivia (spark_schema vs duckdb_schema) and
    * must not refuse a column-identical directory, and shipping a
    * fixed-size hash instead of the schema text keeps the collect
    * payload flat at 10^6-file scale (r17 review). */
  private[graft] def footerEntryWithSchema(root: String, rel: String,
      keyCol: String): (FileEntry, String) =
    withFooterLen(root, rel)((r, len) =>
      (withBytes(len, statsEntry(r, rel, keyCol, Nil)),
        schemaFingerprint(r.getFooter.getFileMetaData.getSchema)))

  private[graft] def schemaFingerprint(
      m: org.apache.parquet.schema.MessageType): String = {
    import scala.jdk.CollectionConverters._
    val txt = m.getFields.asScala.map(_.toString).mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(txt.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Total DV ordinals of `dv`'s sidecars excluding the given rels —
    * priced from the manifest's `dvn` counts (pure driver arithmetic);
    * only rels the counts don't cover (legacy commits, re-rel'd
    * clones) pay a footer read each. Shared by the MoR budget's
    * version-v check and the CAS loop's vNow re-check (r17 review). */
  private def dvOrdinalsExcluding(root: String, dv: Map[String, String],
      counts: Map[String, Long], exclude: Set[String]): Long = {
    import scala.jdk.CollectionConverters._
    dv.filterNot { case (r, _) => exclude.contains(r) }
      .toSeq.sortBy(_._1).map { case (r, d) =>
        counts.getOrElse(r, ParquetFooters.withReader(ParquetFooters.inputFile(root, d))(
          _.getFooter.getBlocks.asScala.map(_.getRowCount).sum))
      }.sum
  }

  /** The field-list rendering behind [[schemaFingerprint]] — read
    * driver-side only to render a refusal message. */
  private[graft] def footerFieldList(root: String, rel: String): String =
    withFooter(root, rel) { r =>
      import scala.jdk.CollectionConverters._
      r.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(_.toString).mkString("; ")
    }

  private def withFooter[T](root: String, rel: String)(
      f: org.apache.parquet.hadoop.ParquetFileReader => T): T =
    withFooterLen(root, rel)((r, _) => f(r))

  /** [[withFooter]] plus the file's byte LENGTH — already known to the
    * open (HadoopInputFile wraps the FileStatus the footer locate
    * needs), so harvesting it costs ZERO extra metadata calls. A
    * separate Files.size here would be a second HEAD request per
    * committed file on object storage — doubling exactly the request
    * class the manifest-carried sizes exist to eliminate. */
  private def withFooterLen[T](root: String, rel: String)(
      f: (org.apache.parquet.hadoop.ParquetFileReader, Long) => T): T = {
    val in = ParquetFooters.inputFile(root, rel)
    ParquetFooters.withReader(in)(f(_, in.getLength))
  }

  /** Per-file stats harvest from an OPEN footer. Beyond the declared
    * primary `keyCol` and any explicit `extraCols`, min/max is
    * harvested for EVERY eligible column — top-level signed INT32/
    * INT64, capped at [[MaxAutoStatsCols]] in schema order (Delta
    * collects stats on the first 32 columns by the same reasoning) —
    * so a predicate on ANY integral column can prune files, not just
    * one declared cluster column (r20). The harvest is pure footer
    * arithmetic on metadata already in memory: zero extra IO per file.
    * Columns whose footer statistics aren't plain signed ints (DATE,
    * DECIMAL, UINT annotations, binary) yield no entry — unknown
    * columns never prune, so skipping them is always sound. Internal
    * `__`-prefixed columns (materialized __row_id) are excluded: their
    * stats would be manifest noise no query can name. */
  private def statsEntry(reader: org.apache.parquet.hadoop.ParquetFileReader,
      rel: String, keyCol: String, extraCols: Seq[String]): FileEntry = {
    import scala.jdk.CollectionConverters._
    val blocks = reader.getFooter.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    // genericGetMin/Max of non-int columns (Binary, Double, Boolean)
    // surface as their own types: None, never a MatchError — a
    // harvest must degrade to "no stats", not fail the commit
    def asLong(v: Any): Option[Long] = v match {
      case l: java.lang.Long => Some(l.longValue)
      case i: java.lang.Integer => Some(i.longValue)
      case _ => None
    }
    def colStats(c: String): Option[(Long, Long)] = {
      val stats = blocks.flatMap(_.getColumns.asScala
          .filter(_.getPath.toDotString == c).map(_.getStatistics))
        .filter(s => s != null && s.hasNonNullValue)
      val los = stats.flatMap(s => asLong(s.genericGetMin))
      val his = stats.flatMap(s => asLong(s.genericGetMax))
      if (los.isEmpty || los.size != stats.size || his.size != stats.size) None
      else Some((los.min, his.max))
    }
    // auto-harvest candidates: top-level signed integral primitives, in
    // schema order, minus the primary, reserved and internal names
    val auto = {
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
      import org.apache.parquet.schema.LogicalTypeAnnotation
      reader.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq
        .filter(_.isPrimitive)
        .filter { f =>
          val p = f.asPrimitiveType()
          val tn = p.getPrimitiveTypeName
          (tn == PrimitiveTypeName.INT64 || tn == PrimitiveTypeName.INT32) &&
            (p.getLogicalTypeAnnotation match {
              case null => true
              case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
              case _ => false // DATE/DECIMAL/TIME: footer ints ≠ query literals
            })
        }
        .map(_.getName)
        .filterNot(n => n == keyCol || n.startsWith("__"))
        .take(MaxAutoStatsCols)
    }
    val (lo, hi) = colStats(keyCol).getOrElse((Long.MinValue, Long.MaxValue))
    FileEntry(rel, lo, hi, rows,
      (extraCols ++ auto).distinct
        .flatMap(c => colStats(c).map { case (l, h) => (c, l, h) }))
  }

  /** Cap on auto-harvested secondary stats columns per file (schema
    * order) — bounds manifest growth on very wide tables, mirroring
    * Delta's default of stats on the first 32 columns. */
  private[graft] val MaxAutoStatsCols = 32

  private def commitLines(root: String, baseVersion: Int, lines: Seq[String]): Int = {
    Files.createDirectories(manifestDir(root))
    // writer-side protocol gate: refuse to advance a table whose BASE
    // version requires a writer feature this binary lacks — an
    // uncomprehending commit would drop or mishandle the state behind
    // the feature (e.g. carry dv entries of files it rewrote). The
    // reader gate already ran when the base manifest was resolved;
    // this re-checks writerFeatures, the superset.
    if (baseVersion > 0) {
      val base = rawManifestLines(root, baseVersion)
      val unknown = featureLine(base, "writerFeatures") -- SupportedWriterFeatures
      if (unknown.nonEmpty) throw new IllegalStateException(
        s"graft-snapshot: $root version $baseVersion requires writer feature(s) " +
          s"${unknown.toSeq.sorted.mkString(",")} this binary does not support " +
          s"(supported: ${SupportedWriterFeatures.toSeq.sorted.mkString(",")}) — " +
          "committing would corrupt the table state behind the feature; " +
          "upgrade the writer")
    }
    val v = baseVersion + 1
    // per-attempt UNIQUE temp name: two committers racing on the same
    // version each stage their own content — with a shared `.vN.tmp`
    // the CAS loser's cleanup would delete (or its write overwrite) the
    // winner's staged manifest between the winner's claim and its move
    val tmp = manifestDir(root).resolve(
      f".v$v%05d.${uniqueTag()}.tmp")
    Files.write(tmp, lines.mkString("\n").getBytes)
    try
      // the CAS: createFile claims version v exclusively (fails if any
      // other committer beat us to it); the claimed file is zero-byte
      // until the rename below fills it, and version resolution ignores
      // zero-byte claims, so no reader can observe a half commit
      Files.createFile(manifestPath(root, v))
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp); throw e
    }
    Files.move(tmp, manifestPath(root, v), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    // unique like the manifest's: committers of consecutive versions
    // refresh the pointer at once, and with one shared name the second
    // move finds the file already moved and fails a landed commit
    val ptmp = Paths.get(root, s"._latest.${uniqueTag()}.tmp")
    Files.write(ptmp, v.toString.getBytes)
    Files.move(ptmp, Paths.get(root, "_latest"), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    v
  }

  // ---------------- THE READ CORE ------------------------------------
  // Every read of table data — the public verbs, DML and maintenance
  // inputs, the change feed — is a FILE SELECTION over one table state
  // plus a residual filter, planned by [[scan]] in four steps:
  //   1. scan the chosen entries with the state's reader: the captured
  //      union (`schemaJson`), parquet mergeSchema for an evolved table
  //      without a capture (`schema`), a plain one-footer read
  //      otherwise; with row ids, the explicit schema of record plus
  //      __row_id;
  //   2. optionally expose each row's (file, ordinal) coordinate — the
  //      file as its FULL normalized path ([[fileKey]]), never a base
  //      name: converted and cloned tables reuse base names across
  //      directories;
  //   3. anti-join the deletion-vector sidecars on that coordinate —
  //      only DV'd files pay the join, a DV-free selection is a plain
  //      scan;
  //   4. optionally resolve __row_id = coalesce(materialized id, file
  //      base + ordinal).
  // [[logicalScan]] then resolves the logical view (column mapping, the
  // identity column). An empty selection plans an empty frame with the
  // same columns instead of failing schema inference.

  /** One readable table state: a committed version's entries and
    * metadata, or a branch head (its staged entries over the base's
    * carried state). */
  private final case class TableState(root: String, v: Int,
      meta: Map[String, String], entries: Seq[FileEntry]) {
    def colMap: Option[Seq[(String, String)]] = meta.get("colmap").map(parseColMap)
    lazy val dv: Map[String, String] = dvOf(meta)
  }

  private def stateAt(root: String, v: Int): TableState =
    TableState(root, v, manifestMeta(root, v), manifestEntries(root, v))

  /** Coordinate columns of a [[scan]]: the row's data file (its
    * [[fileKey]]) and its ordinal within that file. */
  private val FileCol = "__file"
  private val IdxCol = "__idx"

  /** A table file's coordinate key: its absolute, normalized path
    * (a shallow clone's `../` rels resolve into the source table). */
  private def fileKey(root: String, rel: String): String =
    Paths.get(root, rel).toAbsolutePath.normalize.toString

  /** The same key computed in-plan from a scan's file URI
    * (`_metadata.file_path` or `input_file_name()`): scheme and
    * authority stripped and percent-escapes decoded — the path
    * `java.net.URI.getPath` yields — with a literal '+' escaped first
    * so url_decode's form decoding cannot turn it into a space. */
  private def fileKey(uri: Column): Column =
    url_decode(regexp_replace(
      regexp_replace(uri, "^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?", ""), "\\+", "%2B"))

  /** The state's physical schema of record: the captured union when
    * one exists, else the files' own — one footer read on the driver
    * for a uniform table (no job), every footer through parquet
    * mergeSchema (metadata only, one job) for an evolved one. */
  private def recordSchema(s: SparkSession, st: TableState)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{DataType, StructType}
    st.meta.get("schemaJson") match {
      case Some(js) => DataType.fromJson(js).asInstanceOf[StructType]
      case None =>
        // a ZERO-ENTRY version (a delete that matched every row) is a
        // valid table state: its deleting commit captured the schema
        if (st.entries.isEmpty) throw new IllegalStateException(
          s"snapshot read on ${st.root}: version ${st.v} has no file entries " +
            "and no schema capture — unreadable empty state")
        val paths = st.entries.map(e => Paths.get(st.root, e.rel).toString)
        if (st.meta.contains("schema"))
          s.read.option("mergeSchema", "true").parquet(paths: _*).schema
        else graft.sources.ParquetFooters.schema(s, paths.head)
    }
  }

  /** Steps 1-4 of the core over `files` of `st`, in PHYSICAL names.
    * `coords` keeps the [[FileCol]]/[[IdxCol]] coordinate columns;
    * `rowIds` resolves [[RowIdCol]] (last column). */
  private def scan(s: SparkSession, st: TableState, files: Seq[FileEntry],
      coords: Boolean = false, rowIds: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // an explicit read schema: the schema of record plus __row_id for
    // an id read (null-filled in positional files), else the schema of
    // record itself; None — mergeSchema inference over the selection —
    // only for an evolved table without a capture
    val schema: Option[StructType] =
      if (rowIds) Some(StructType(recordSchema(s, st).fields
        .filterNot(_.name == RowIdCol).map(_.copy(nullable = true)) :+
        StructField(RowIdCol, LongType, nullable = true)))
      else if (st.meta.contains("schemaJson") || !st.meta.contains("schema"))
        Some(recordSchema(s, st))
      else None
    if (files.isEmpty) {
      val cols = schema.getOrElse(recordSchema(s, st))
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        if (coords) cols.add(FileCol, StringType).add(IdxCol, LongType) else cols)
    }
    val reader = schema.fold(s.read.option("mergeSchema", "true"))(s.read.schema)
    val withCoords = coords || rowIds
    def read(fs: Seq[FileEntry], located: Boolean): DataFrame = {
      val df = reader.parquet(fs.map(e => Paths.get(st.root, e.rel).toString): _*)
      if (!located) df
      else df.withColumn(FileCol, fileKey(col("_metadata.file_path")))
        .withColumn(IdxCol, col("_metadata.row_index"))
    }
    val (dvd, clean) = files.partition(e => st.dv.contains(e.rel))
    val live = (if (clean.isEmpty) Nil else Seq(read(clean, withCoords))) ++
      (if (dvd.isEmpty) Nil else {
        val kept = read(dvd, located = true)
          .join(broadcast(dvOrdinals(s, st, dvd)), Seq(FileCol, IdxCol), "left_anti")
        Seq(if (withCoords) kept else kept.drop(FileCol, IdxCol))
      })
    val df = live.reduce(_.unionByName(_, allowMissingColumns = true))
    if (!rowIds) df
    else {
      import s.implicits._
      val bases = rowBasesOf(st.meta).toSeq
        .map { case (r, b) => (fileKey(st.root, r), b) }.toDF(FileCol, "__rt_base")
      val keep = df.columns.filterNot(c => c == RowIdCol ||
        (!coords && (c == FileCol || c == IdxCol)))
      df.join(broadcast(bases), Seq(FileCol), "left")
        .select((keep.map(col) :+
          coalesce(col(RowIdCol), col("__rt_base") + col(IdxCol)).as(RowIdCol)).toIndexedSeq: _*)
    }
  }

  /** The deleted (file, ordinal) coordinates of `files` (each carrying
    * a deletion vector in `st`): ONE parquet relation over their
    * sidecars, each row tagged with its data file's key through a tiny
    * broadcast join on the sidecar's own path. */
  private def dvOrdinals(s: SparkSession, st: TableState,
      files: Seq[FileEntry]): DataFrame = {
    import s.implicits._
    val pairs = files.map(_.rel).distinct.sorted.map(r => (st.dv(r), r))
    graft.sources.ParquetFooters.read(s,
        pairs.map(p => Paths.get(st.root, p._1).toString).distinct)
      .withColumn("__dv_side", fileKey(col("_metadata.file_path")))
      .join(broadcast(pairs.map { case (d, r) => (fileKey(st.root, d), fileKey(st.root, r)) }
        .toDF("__dv_side", FileCol)), "__dv_side")
      .select(col("idx").as(IdxCol), col(FileCol))
  }

  /** The core's LOGICAL view of a file selection: column mapping
    * resolved and, on an identity table, the identity column appended
    * after the data columns (the row id under the declared name, plus
    * any START WITH offset). `ids` serves the raw `_row_id` instead. */
  private def logicalScan(s: SparkSession, st: TableState, files: Seq[FileEntry],
      ids: Boolean = false): DataFrame = {
    val identity = if (ids) None else st.meta.get("identity")
    if (!ids && identity.isEmpty) toLogical(scan(s, st, files), st.colMap)
    else {
      val df = toLogical(scan(s, st, files, rowIds = true),
        Some(st.colMap.toSeq.flatten :+ ("_row_id" -> RowIdCol)))
      identity.fold(df) { ic =>
        require(!df.columns.exists(c => c.equalsIgnoreCase(ic) && c != "_row_id"),
          s"snapshot read on ${st.root}: version ${st.v} resurfaces a data column " +
            s"named $ic, colliding with the identity column — rename one")
        val start = st.meta.get("idstart").map(_.toLong).getOrElse(0L)
        if (start == 0L) df.withColumnRenamed("_row_id", ic)
        // declared START WITH: a read-side offset over the 0-based
        // engine ids (position preserved — the id column sits last)
        else df.withColumn(ic, col("_row_id") + lit(start)).drop("_row_id")
      }
    }
  }

  /** Read a pinned version — time travel, and the isolation guarantee:
    * the file list is resolved ONCE; later commits add files and new
    * manifests but never touch these. Renamed columns surface under
    * their logical names AS OF the snapshot, dropped physicals
    * disappear, and an IDENTITY column appends after the data
    * columns. */
  def readAt(s: SparkSession, root: String, v: Int): DataFrame = {
    val st = stateAt(root, v)
    logicalScan(s, st, st.entries)
  }

  def read(s: SparkSession, root: String): DataFrame =
    readAt(s, root, currentVersion(root))

  /** [[readAt]] WITHOUT the logical view — the frame under the files'
    * own (physical) names. Internal rewrite plumbing (DML, optimize,
    * CDC emission) works physically and converts at its user-facing
    * seams. */
  private[graft] def readAtPhysical(s: SparkSession, root: String, v: Int): DataFrame = {
    val st = stateAt(root, v)
    scan(s, st, st.entries)
  }

  /** The surviving rows of `files` at version `v` in PHYSICAL names,
    * deletion vectors applied — the rewrite input of DML and
    * maintenance. With `rowIds` each row carries its resolved
    * [[RowIdCol]], so a rewrite that writes the frame through
    * materializes every id it carries forward. */
  private[graft] def readFiles(s: SparkSession, root: String, v: Int,
      files: Seq[FileEntry], rowIds: Boolean = false): DataFrame =
    scan(s, stateAt(root, v), files, rowIds = rowIds)

  /** COLUMN MAPPING (Delta's rename/drop evolution): the manifest's
    * `colmap` meta (`logical=physical,...`, ordered — it IS the
    * table's logical schema) indirects user-facing column names from
    * the names data files were written under. RENAME rewrites one
    * mapping entry, DROP removes it — both METADATA-ONLY commits; the
    * physical column stays in the files, unread. Absent meta =
    * identity (the overwhelmingly common case pays nothing). Parsed
    * per (root, version) so time travel resolves the mapping AS OF
    * its snapshot — historical reads keep historical names. */
  private[graft] def colMap(root: String, v: Int): Option[Seq[(String, String)]] =
    if (v == 0) None
    else manifestMeta(root, v).get("colmap").map(parseColMap)

  private[graft] def parseColMap(spec: String): Seq[(String, String)] =
    spec.split(',').toSeq.map { e =>
      val Array(l, p) = e.split("=", 2)
      (l, p)
    }

  private[graft] def fmtColMap(m: Seq[(String, String)]): String =
    m.map { case (l, p) => s"$l=$p" }.mkString(",")

  /** NESTED column mapping (r15, Delta's struct-field mapping; r19:
    * ARBITRARY depth): a colmap entry whose names are DOTTED paths
    * maps one struct FIELD — `a.b=pa.pb` reads "logical field `b` of
    * struct column `a` is stored as field `pb` of physical column
    * `pa`", and `a.b.c=pa.pb.pc` recurses the same rule one struct
    * deeper. Every mapped node keeps its own shallower entry (`a=pa`,
    * `a.b=pa.pb`), and a node's direct entries are, in order, that
    * struct's COMPLETE logical field list — the same once-mapped-the-
    * map-IS-the-schema convention the top level uses, so an unmapped
    * physical field is a dropped field: resident in every file,
    * served to no reader, carried through rewrites. The ALTER surface
    * synthesizes identity lists down the touched path, so the
    * complete-list invariant holds at every mapped node. Dotted
    * entries stamp the `ncolmap` READER feature: a nested-ignorant
    * binary would serve the struct under raw physical field names
    * instead of failing, so it must refuse the manifest.
    * This split is the ONE decode primitive: (direct entries, deeper
    * entries grouped by first LOGICAL segment, both sides stripped of
    * that segment) — applied recursively by [[parseColTree]]. */
  private[graft] def splitColMap(m: Seq[(String, String)])
      : (Seq[(String, String)], Map[String, Seq[(String, String)]]) = {
    val (nested, top) = m.partition(_._1.contains("."))
    val byParent = nested.map { case (l, p) =>
      val li = l.indexOf('.')
      (l.substring(0, li), (l.substring(li + 1), p.substring(p.indexOf('.') + 1)))
    }.groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2)) }
    (top, byParent)
  }

  /** In-memory tree of a (possibly nested) column mapping: one node
    * per mapped struct LEVEL. `fields` is the node's complete direct
    * (logical, physical) list in mapping order; `children` holds the
    * deeper node of any struct-typed field that is itself mapped,
    * keyed by that field's LOGICAL name. */
  private[graft] final case class ColNode(fields: Seq[(String, String)],
      children: Map[String, ColNode]) {
    /** The physical name behind one of this node's LOGICAL direct
      * fields (identity when unmapped) — the single lookup the
      * reader/writer plan builders and the write-compat check all
      * translate through. */
    def physicalOf(logical: String): String =
      fields.collectFirst { case (l, p) if l == logical => p }.getOrElse(logical)
  }

  private[graft] def parseColTree(entries: Seq[(String, String)]): ColNode = {
    val (top, nested) = splitColMap(entries)
    ColNode(top, nested.map { case (l, es) => (l, parseColTree(es)) })
  }

  /** Inverse of [[parseColTree]] — canonical serialization: each
    * field's deeper entries follow its own entry, prefix-expanded, so
    * the map round-trips deterministically through every carry/clone/
    * restore path that treats `colmap` as an opaque string. */
  private[graft] def flattenColTree(n: ColNode): Seq[(String, String)] =
    n.fields.flatMap { case (l, p) =>
      (l, p) +: n.children.get(l).toSeq.flatMap(flattenColTree).map {
        case (cl, cp) => (s"$l.$cl", s"$p.$cp") }
    }

  /** Physical-named frame → the logical view: rename through the
    * mapping, DROP unmapped physicals (dropped columns), order by the
    * mapping. Identity (no mapping) passes through untouched. */
  private[graft] def toLogical(df: DataFrame,
      map: Option[Seq[(String, String)]]): DataFrame = map match {
    case None => df
    case Some(m0) =>
      val t = parseColTree(m0)
      df.select(t.fields.collect {
        // a mapped column ABSENT from this frame (e.g. a pre-widening
        // subset) is skipped rather than invented — callers that need
        // the full width read through the union schema first
        case (l, p) if df.columns.contains(p) => (t.children.get(l) match {
          case Some(child) => structLogical(col(p), child)
          case None => col(p)
        }).as(l)
      }: _*)
  }

  /** Recursive mapped-struct rebuild for the logical READ view: mapped
    * fields rename (recursing into deeper-mapped struct fields),
    * unmapped physical fields drop. A NULL struct must STAY null at
    * every level — struct() of its fields would fabricate
    * Row(null, ..) — so when() without otherwise serves the null
    * branch. */
  private def structLogical(parent: Column, node: ColNode): Column =
    when(parent.isNotNull, struct(node.fields.map { case (fl, fp) =>
      (node.children.get(fl) match {
        case Some(child) => structLogical(parent.getField(fp), child)
        case None => parent.getField(fp)
      }).as(fl)
    }: _*))

  /** The logical view for REWRITE plumbing: mapped physicals rename to
    * their logical names, but DROPPED physicals (unmapped columns
    * still present in the files) RIDE ALONG under their physical
    * names — a copy-on-write UPDATE/DELETE must not strip them from
    * rewritten files, or the table's physical widths would silently
    * diverge without the evolution marker. Safe because
    * [[renameColumn]] refuses a logical name colliding with any
    * resident physical. [[toPhysical]] inverts the mapped part and
    * passes dropped physicals through. */
  /** Reserved alias for a dropped physical whose name collides with a
    * LIVE logical name (drop `x`, then ADD COLUMN `x` → the new
    * column's fresh physical maps to logical `x` while old files still
    * carry a physical `x`): the ride-along is renamed under this
    * prefix through the transform and [[toPhysical]] renames it back,
    * so the rewrite frame never holds two columns named `x`. */
  private val DroppedAlias = "__graft_dropped_"

  private[graft] def toLogicalFull(df: DataFrame,
      map: Option[Seq[(String, String)]]): DataFrame = map match {
    case None => df
    case Some(m0) =>
      import org.apache.spark.sql.types.StructType
      val t = parseColTree(m0)
      // a nested-mapped struct's rewrite view at EVERY depth: mapped
      // fields rename (recursing into deeper-mapped struct fields),
      // dropped PHYSICAL fields ride along inside the struct under
      // their storage names (DroppedAlias on collision with a live
      // logical field) — the same contract the top level keeps,
      // inverted field-for-field by [[toPhysical]]
      def structFull(parent: Column, st: StructType, node: ColNode): Column = {
        val mappedF = node.fields.collect {
          case (fl, fp) if st.fieldNames.contains(fp) =>
            (node.children.get(fl) match {
              case Some(child) if st(fp).dataType.isInstanceOf[StructType] =>
                structFull(parent.getField(fp),
                  st(fp).dataType.asInstanceOf[StructType], child)
              case _ => parent.getField(fp)
            }).as(fl)
        }
        val droppedF = st.fieldNames.toSeq
          .filterNot(fp => node.fields.exists(_._2 == fp)).map { fp =>
            if (node.fields.exists(_._1 == fp))
              parent.getField(fp).as(s"$DroppedAlias$fp")
            else parent.getField(fp).as(fp)
          }
        when(parent.isNotNull, struct(mappedF ++ droppedF: _*))
      }
      val mapped = t.fields.collect {
        case (l, p) if df.columns.contains(p) => (t.children.get(l) match {
          case Some(child) =>
            structFull(col(p), df.schema(p).dataType.asInstanceOf[StructType], child)
          case None => col(p)
        }).as(l)
      }
      val dropped = df.columns.filterNot(c => t.fields.exists(_._2 == c)).map { c =>
        if (t.fields.exists(_._1 == c)) col(c).as(s"$DroppedAlias$c") else col(c)
      }
      df.select(mapped ++ dropped: _*)
  }

  /** Logical-named frame → physical names for writing data files
    * (inverts [[toLogicalFull]]'s collision alias too). */
  private[graft] def toPhysical(df: DataFrame,
      map: Option[Seq[(String, String)]]): DataFrame = map match {
    case None => df
    case Some(m0) =>
      import org.apache.spark.sql.types.StructType
      val t = parseColTree(m0)
      // rebuild a mapped struct under physical FIELD names at every
      // depth: mapped logical fields invert through the node (recursing
      // into deeper-mapped struct fields), ride-along dropped fields
      // strip the collision alias or pass (they already carry their
      // storage names)
      def structPhys(parent: Column, st: StructType, node: ColNode): Column = {
        val rebuilt = struct(st.fieldNames.toSeq.map { fl =>
          if (fl.startsWith(DroppedAlias))
            parent.getField(fl).as(fl.stripPrefix(DroppedAlias))
          else {
            val fp = node.fields.collectFirst {
              case (l2, p2) if l2 == fl => p2 }.getOrElse(fl)
            (node.children.get(fl) match {
              case Some(child) if st(fl).dataType.isInstanceOf[StructType] =>
                structPhys(parent.getField(fl),
                  st(fl).dataType.asInstanceOf[StructType], child)
              case _ => parent.getField(fl)
            }).as(fp)
          }
        }: _*)
        when(parent.isNotNull, rebuilt)
      }
      val byLogical = t.fields.toMap
      df.select(df.columns.map { c =>
        if (c.startsWith(DroppedAlias)) col(c).as(c.stripPrefix(DroppedAlias))
        else (t.children.get(c) match {
          case Some(child) =>
            structPhys(col(c), df.schema(c).dataType.asInstanceOf[StructType], child)
          case None => col(c)
        }).as(byLogical.getOrElse(c, c))
      }.toIndexedSeq: _*)
  }

  /** The logical name the mapping gives a physical column (identity
    * when unmapped). */
  private[graft] def logicalName(map: Option[Seq[(String, String)]],
      physical: String): String =
    map.flatMap(_.collectFirst { case (l, p) if p == physical => l }).getOrElse(physical)

  /** The physical name behind a logical column (identity when
    * unmapped). */
  private[graft] def physicalName(map: Option[Seq[(String, String)]],
      logical: String): String =
    map.flatMap(_.collectFirst { case (l, p) if l == logical => p }).getOrElse(logical)

  /** Identifier guard for names that land in manifest METADATA (the
    * colmap's `l=p,l=p` encoding, statsCol, the extra-stats `c:lo:hi`
    * fields): a name containing one of those formats' own delimiters
    * would COMMIT fine and then fail parsing on every subsequent read
    * of the version — the ALTER succeeds, the table bricks (ADVICE
    * r13). A DOTTED name is refused here: only RENAME/DROP COLUMN
    * accept `a.b` FIELD paths (routed through [[nestedParts]] before
    * this guard), so a dot in any other position — an added column, a
    * constraint name, a rename TARGET — is a mistake, not a path. */
  private[graft] def validateIdent(root: String, op: String, name: String): Unit = {
    require(name.nonEmpty, s"$op on $root: empty column name")
    require(!name.contains("."),
      s"$op on $root: '$name' names a nested field — only RENAME COLUMN " +
        "a.b TO c and DROP COLUMN a.b accept field paths (any depth); " +
        "here use a plain top-level name")
    require(!name.equalsIgnoreCase("__row_id"),
      s"$op on $root: __row_id is a reserved name (row tracking materializes " +
        "preserved ids under it)")
    require(!name.equalsIgnoreCase("_row_id"),
      s"$op on $root: _row_id is a reserved name (the row-id read surfaces " +
        "engine ids under it — a data column would shadow or be shadowed)")
    require(!name.equalsIgnoreCase(BytesCol),
      s"$op on $root: $BytesCol is a reserved name (manifest entries carry " +
        "file sizes under it — a data column would alias into size-based " +
        "planning)")
    // the IDENTITY column's name is engine-owned once declared: no
    // rename/add/generation/evolution may (re)claim it (declaring it
    // is exempt — setIdentityColumn validates BEFORE the meta exists)
    if (op != "identity column") {
      val curV = currentVersion(root)
      if (curV > 0) manifestMeta(root, curV).get("identity").foreach(ic =>
        require(!name.equalsIgnoreCase(ic),
          s"$op on $root: $ic is the table's GENERATED ALWAYS AS IDENTITY " +
            "column — the name is engine-owned"))
    }
    val bad = name.filter(ManifestDelims.contains(_))
    require(bad.isEmpty,
      s"$op on $root: column name '$name' contains manifest-delimiter " +
        s"character(s) ${showDelims(bad)} — " +
        "names may not contain = , ; : # > tab or newline")
  }

  /** THE manifest/colmap delimiter set — validateIdent (DDL input) and
    * requireColmapSafe (resident-name synthesis) must always agree, or
    * a name one guard admits bricks the parse the other protects. */
  private val ManifestDelims = "=,;:#>\t\n\r"

  private def showDelims(bad: String): String =
    bad.distinct.map(c => if (c == '\t') "\\t" else if (c == '\n') "\\n"
      else if (c == '\r') "\\r" else c.toString).mkString("'", "','", "'")

  /** The column names a CHECK constraint expression references —
    * parsed, not string-matched (a constraint on `value2` must not
    * block renaming `value`). Used by RENAME/DROP COLUMN: evolving a
    * column out from under a stored constraint would make every later
    * WRITE fail analysis (the expression references a name that no
    * longer resolves) — refuse at the ALTER instead, naming the
    * constraint (Delta's rule). */
  private[graft] def checkReferencedCols(s: SparkSession, exprSql: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    s.sessionState.sqlParser.parseExpression(exprSql).collect {
      case a: UnresolvedAttribute => a.name
    }
  }

  /** How to remove constraint `cn` — gen: entries are generated-column
    * invariants with their own removal verb. */
  private[graft] def constraintDropHint(cn: String): String =
    if (cn.startsWith("gen:"))
      s"drop the generation expression first (dropGeneratedExpr / " +
        s"UNSET TBLPROPERTIES ('gen.${cn.stripPrefix("gen:")}'))"
    else s"DROP CONSTRAINT $cn first"

  private def requireNoConstraintRef(s: SparkSession, root: String, v: Int,
      op: String, name: String): Unit =
    checkConstraints(root, v).foreach { case (cn, e) =>
      // `name` may be a whole column or a dotted field path; either
      // way a reference to it OR to anything beneath it (a field of
      // the struct being renamed/dropped away) breaks later writes
      require(!checkReferencedCols(s, e).exists(r =>
          r.equalsIgnoreCase(name) ||
            r.toLowerCase.startsWith(name.toLowerCase + ".")),
        s"$op on $root: column $name is referenced by CHECK constraint $cn " +
          s"($e) — ${constraintDropHint(cn)} (evolving the column out from " +
          "under it would break every later write)")
    }

  /** ALTER TABLE ... RENAME COLUMN — one CAS metadata commit rewriting
    * the mapping entry; zero files move (Delta's column-mapping
    * design). A table without a mapping first synthesizes the identity
    * map from its current physical schema, so pre-mapping tables
    * rename without any migration step. */
  def renameColumn(s: SparkSession, root: String, from: String, to: String): Int = {
    if (from.contains(".")) return renameField(s, root, from, to)
    validateIdent(root, "rename", to)
    casCommit(root) { v =>
      require(v > 0, s"rename on $root: table has no committed version")
      val cur = currentColMap(s, root, v, "rename")
      require(cur.exists(_._1 == from),
        s"rename on $root: no column $from (have ${cur.map(_._1).mkString(",")})")
      requireNoConstraintRef(s, root, v, "rename", from)
      require(!cur.exists(_._1.equalsIgnoreCase(to)),
        s"rename on $root: column $to already exists")
      // the new logical name must not shadow any RESIDENT physical
      // either (e.g. a previously dropped column's storage name):
      // rewrite plumbing carries dropped physicals through under their
      // own names, and a collision would cross the wires
      val residentPhys = readAtPhysical(s, root, v).columns
      require(!residentPhys.exists(p => p.equalsIgnoreCase(to) &&
          !cur.exists { case (l, p2) => p2 == p && l == from }),
        s"rename on $root: $to collides with a resident physical column " +
          "(possibly a dropped column's storage name) — OPTIMIZE to materialize " +
          "the mapping first, or pick another name")
      // a renamed STRUCT column's nested entries move with it: their
      // dotted logical names are keyed by the parent's logical name
      // (splitColMap groups on it), so leaving them under the old
      // prefix would orphan the whole field mapping
      val next = cur.map { case (l, p) =>
        if (l == from) (to, p)
        else if (l.startsWith(from + ".")) (to + l.substring(from.length), p)
        else (l, p)
      }
      // a column DEFAULT travels with its column: the `default.<col>`
      // key re-homes under the new name (withDefaults matches by the
      // LOGICAL field name, so a stale key would silently detach the
      // declared fill — r16 review)
      val carried0 = carriedMeta(root, v)
      val carried = carried0.keys.find(_.equalsIgnoreCase(s"default.$from")) match {
        case Some(dk) => carried0 - dk + (s"default.$to" -> carried0(dk))
        case None => carried0
      }
      commitEntries(root, v, manifestEntries(root, v), shardSize = 16,
        carried + ("colmap" -> fmtColMap(next)) +
          ("alter" -> s"rename:$from>$to"))
    }
  }

  /** Parse + guard a dotted struct-field path at the ALTER surface:
    * ARBITRARY depth (`a.b`, `a.b.c`, ... — Delta's envelope), every
    * segment non-empty and the struct-path segments delimiter-clean.
    * Returns (parent path segments, final field name). */
  private def nestedParts(root: String, op: String, path: String): (Seq[String], String) = {
    // -1 limit: String.split drops TRAILING empty segments, so
    // "a.b." would silently execute as "a.b" instead of refusing
    val segs = path.split("\\.", -1).toIndexedSeq
    require(segs.length >= 2 && segs.forall(_.nonEmpty),
      s"$op on $root: '$path' is not a struct-field path — every " +
        "dot-separated segment must be non-empty (parent[.parent...].field)")
    segs.init.foreach(validateIdent(root, op, _))
    (segs.init, segs.last)
  }

  /** Walk the mapping tree down `parentPath` (LOGICAL segments),
    * synthesizing each untouched level's identity field list from the
    * resident physical struct (the nested twin of [[currentColMap]]'s
    * synthesis — this is what keeps the complete-list invariant at
    * every mapped node), apply `edit` to the FINAL node's direct field
    * list (handed that node's physical struct for collision checks),
    * and return the rejoined flat colmap. Refuses loudly on a missing
    * column / non-struct step at any depth. */
  private def editNestedNode(s: SparkSession, root: String, v: Int, op: String,
      cur: Seq[(String, String)], parentPath: Seq[String])(
      edit: (ColNode, org.apache.spark.sql.types.StructType)
        => ColNode): Seq[(String, String)] = {
    import org.apache.spark.sql.types.StructType
    def descend(node: ColNode, st: StructType, path: Seq[String],
        at: String): ColNode = {
      val seg = path.head
      val pe = node.fields.find(_._1 == seg).getOrElse(
        throw new IllegalArgumentException(
          s"$op on $root: no column $at$seg (have ${node.fields.map(_._1).mkString(",")})"))
      require(st.fieldNames.contains(pe._2) &&
          st(pe._2).dataType.isInstanceOf[StructType],
        s"$op on $root: $at$seg is not a struct column — field paths map " +
          "struct fields only")
      val cst = st(pe._2).dataType.asInstanceOf[StructType]
      val child = node.children.getOrElse(seg,
        ColNode(cst.fieldNames.toIndexedSeq.map { f =>
          requireColmapSafe(root, op, f); (f, f) }, Map.empty))
      val next =
        if (path.tail.isEmpty) edit(child, cst)
        else descend(child, cst, path.tail, s"$at$seg.")
      node.copy(children = node.children.updated(seg, next))
    }
    flattenColTree(descend(parseColTree(cur),
      readAtPhysical(s, root, v).schema, parentPath, ""))
  }

  /** ALTER TABLE ... RENAME COLUMN a.b[.c...] TO z — NESTED column
    * mapping (Delta's struct-field mapping) at ARBITRARY depth: one
    * CAS metadata commit rewriting the path's dotted entry; zero files
    * move, and the commit stamps the `ncolmap` READER feature (see
    * [[requiredFeatures]]) so a nested-ignorant binary refuses instead
    * of serving raw physical field names. First touch synthesizes
    * identity field lists down the touched path, exactly like
    * [[currentColMap]] at the top level — so the complete-list
    * invariant holds at every mapped node. */
  private def renameField(s: SparkSession, root: String, from: String,
      to: String): Int = {
    val (parentPath, field) = nestedParts(root, "rename", from)
    val parent = parentPath.mkString(".")
    validateIdent(root, "rename", to)
    casCommit(root) { v =>
      require(v > 0, s"rename on $root: table has no committed version")
      val cur = currentColMap(s, root, v, "rename")
      requireNoConstraintRef(s, root, v, "rename", from)
      val next = editNestedNode(s, root, v, "rename", cur, parentPath) { (node, st) =>
        val nf = node.fields
        require(nf.exists(_._1 == field),
          s"rename on $root: no field $from (struct $parent has " +
            s"${nf.map(_._1).mkString(",")})")
        require(!nf.exists(_._1.equalsIgnoreCase(to)),
          s"rename on $root: field $parent.$to already exists")
        // same resident-physical shadow rule as the top level, N levels
        // down: a previously dropped FIELD's storage name stays in
        // every file and rides rewrites under its own name
        require(!st.fieldNames.exists(pf => pf.equalsIgnoreCase(to) &&
            !nf.exists { case (l2, p2) => p2 == pf && l2 == field }),
          s"rename on $root: $parent.$to collides with a resident physical " +
            "field (possibly a dropped field's storage name) — OPTIMIZE to " +
            "materialize the mapping first, or pick another name")
        // a renamed field that is itself a mapped struct keeps its
        // deeper entries: the child node re-keys under the new name
        // (children are keyed by LOGICAL field name)
        ColNode(nf.map { case (l2, p2) => (if (l2 == field) to else l2, p2) },
          node.children.get(field) match {
            case Some(c) => node.children - field + (to -> c)
            case None => node.children
          })
      }
      commitEntries(root, v, manifestEntries(root, v), shardSize = 16,
        carriedMeta(root, v) + ("colmap" -> fmtColMap(next)) +
          ("alter" -> s"rename:$from>$parent.$to"))
    }
  }

  /** ALTER TABLE ... DROP COLUMN — removes the mapping entry; the
    * physical column stays in every file, unread (re-adding the same
    * logical name later gets a FRESH physical name, so old values can
    * never resurrect). Dropping the stats/cluster column is refused —
    * the manifest's per-file [lo,hi] describe it and pruning would go
    * blind; re-cluster (OPTIMIZE) first. */
  def dropColumn(s: SparkSession, root: String, name: String): Int = {
    if (name.contains(".")) return dropField(s, root, name)
    validateIdent(root, "drop column", name)
    casCommit(root) { v =>
      require(v > 0, s"drop column on $root: table has no committed version")
      val cur = currentColMap(s, root, v, "drop column")
      require(cur.exists(_._1 == name),
        s"drop column on $root: no column $name (have ${cur.map(_._1).mkString(",")})")
      require(cur.exists(c => c._1 != name && !c._1.startsWith(name + ".")),
        s"drop column on $root: cannot drop the only column")
      requireNoConstraintRef(s, root, v, "drop column", name)
      val statsPhys = manifestMeta(root, v).get("statsCol")
      require(!statsPhys.contains(physicalName(Some(cur), name)),
        s"drop column on $root: $name is the table's stats/cluster column — " +
          "file pruning reads its per-file bounds; OPTIMIZE CLUSTER BY another " +
          "column first")
      // a dropped STRUCT column takes its nested field entries with it
      val next = cur.filterNot(e => e._1 == name || e._1.startsWith(name + "."))
      // ...and its DEFAULT: an orphaned `default.<col>` key would lie
      // in wait for a later re-ADD of the same logical name and
      // resurrect a years-old fill (r16 review)
      val carried0 = carriedMeta(root, v)
      val carried = carried0.keys.find(_.equalsIgnoreCase(s"default.$name"))
        .fold(carried0)(carried0 - _)
      commitEntries(root, v, manifestEntries(root, v), shardSize = 16,
        carried + ("colmap" -> fmtColMap(next)) +
          ("alter" -> s"dropcol:$name"))
    }
  }

  /** ALTER TABLE ... DROP COLUMN a.b[.c...] — NESTED field drop at
    * ARBITRARY depth: removes the dotted entry (synthesizing identity
    * field lists down the touched path on first touch); the physical
    * field stays in every file, unread, and rides rewrites under its
    * storage name (the ride-along contract [[toLogicalFull]] keeps at
    * every level). A dropped field that is itself a mapped struct
    * takes its deeper entries with it — same rule as a dropped struct
    * COLUMN at the top level. */
  private def dropField(s: SparkSession, root: String, name: String): Int = {
    val (parentPath, field) = nestedParts(root, "drop column", name)
    val parent = parentPath.mkString(".")
    casCommit(root) { v =>
      require(v > 0, s"drop column on $root: table has no committed version")
      val cur = currentColMap(s, root, v, "drop column")
      requireNoConstraintRef(s, root, v, "drop column", name)
      val next = editNestedNode(s, root, v, "drop column", cur, parentPath) { (node, _) =>
        val nf = node.fields
        require(nf.exists(_._1 == field),
          s"drop column on $root: no field $name (struct $parent has " +
            s"${nf.map(_._1).mkString(",")})")
        require(nf.size > 1,
          s"drop column on $root: $field is the only field of struct $parent — " +
            "drop the whole column instead")
        ColNode(nf.filterNot(_._1 == field), node.children - field)
      }
      commitEntries(root, v, manifestEntries(root, v), shardSize = 16,
        carriedMeta(root, v) + ("colmap" -> fmtColMap(next)) +
          ("alter" -> s"dropcol:$name"))
    }
  }

  /** `ALTER TABLE ... ALTER COLUMN <c> TYPE <wider>` — TYPE WIDENING
    * as a METADATA-ONLY commit (Delta 3.x's type-widening feature):
    * int→long, int→double and float→double rewrite the schema capture
    * (`schemaJson`), not one data file — existing files keep their
    * narrow physical type and every read upcasts (Spark 4's parquet
    * readers promote int32→int64/double and float→double natively;
    * the DSv2 connector's record reader does the same per slot). The
    * `widen` marker makes file-subset planning evolution-aware, like
    * add-column's `schema` marker. Narrowing and any other retype are
    * refused — those genuinely need a rewrite. Idempotent: widening
    * to the current type mints no version. */
  def widenColumn(s: SparkSession, root: String, name: String,
      to: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    val allowed: Map[DataType, Set[DataType]] = Map(
      IntegerType -> Set[DataType](LongType, DoubleType),
      FloatType -> Set[DataType](DoubleType))
    casCommit(root) { v =>
      require(v > 0, s"widen on $root: table has no committed version")
      val map = colMap(root, v)
      val physName = physicalName(map, name)
      // the capture (physical names) is the schema of record; synthesize
      // all-nullable from the resident files when none is stored yet
      val carried = carriedMeta(root, v)
      val base = carried.get("schemaJson")
        .map(js => org.apache.spark.sql.types.DataType.fromJson(js)
          .asInstanceOf[StructType])
        .getOrElse(StructType(readAtPhysical(s, root, v).schema.fields
          .map(_.copy(nullable = true))))
      require(base.fieldNames.contains(physName),
        s"widen on $root: no column $name (have " +
          s"${base.fieldNames.map(p => logicalName(map, p)).mkString(",")})")
      val from = base(physName).dataType
      if (from == to) v // already wide enough: no-op
      else {
        require(allowed.get(from).exists(_.contains(to)),
          s"widen on $root: $name is $from and $to is not a supported metadata-only " +
            "widening (int->long, int->double, float->double); narrowing or other " +
            "retypes need a table rewrite")
        // a widen can change how an active CHECK/generation expression
        // ANALYZES (e.g. `div` refuses non-integral operands; integer
        // remainder semantics shift under double) — re-validate every
        // expression that references the widened column against the
        // post-widen view (the upcast is value-preserving, so casting
        // the current read simulates it exactly). A widen that breaks
        // or re-defines an invariant refuses instead of silently
        // shifting what later writes enforce.
        val touched = checkConstraints(root, v).filter { case (_, e) =>
          checkReferencedCols(s, e).exists(_.equalsIgnoreCase(name)) }
        if (touched.nonEmpty) {
          val simulated = readAt(s, root, v)
            .withColumn(name, col(name).cast(to))
          touched.foreach { case (cn, e) =>
            val bad = try checkViolations(simulated, e).limit(1).collect()
            catch { case ex: Exception => throw new IllegalArgumentException(
              s"widen on $root: constraint $cn CHECK ($e) no longer analyzes " +
                s"with $name as ${to.simpleString} (${ex.getMessage}) — drop " +
                "the constraint/generation expression first", ex) }
            require(bad.isEmpty,
              s"widen on $root: widening $name to ${to.simpleString} changes " +
                s"the semantics of $cn CHECK ($e): resident row " +
                s"${bad.headOption.getOrElse("")} would violate it — drop the " +
                "constraint/generation expression first")
          }
        }
        val widened = StructType(base.fields.map(f =>
          if (f.name == physName) f.copy(dataType = to, nullable = true)
          else f.copy(nullable = true)))
        val widenList = (carried.get("widen").map(_ + ",").getOrElse("") +
          s"$physName:${from.simpleString}>${to.simpleString}")
        commitEntries(root, v, manifestEntries(root, v), 16,
          carried + ("schemaJson" -> widened.json) + ("widen" -> widenList) +
            ("alter" -> s"widen:$name:${from.simpleString}>${to.simpleString}"))
      }
    }
  }

  /** Guard for names SYNTHESIZED into the colmap from RESIDENT file
    * schemas (identity entries): unlike ALTER input (validateIdent),
    * these arrive via data files, and a name carrying a colmap
    * delimiter — or a dot, which splitColMap would misread as a path
    * segment — would COMMIT fine and then fail parseColMap on every
    * later read of the version (the ADVICE-r13 bricking class, entered
    * through data instead of DDL). */
  private def requireColmapSafe(root: String, op: String, name: String): Unit = {
    // the shared delimiter set PLUS the dot, which splitColMap would
    // misread as a path segment inside a synthesized entry
    val bad = name.filter(c => ManifestDelims.contains(c) || c == '.')
    require(bad.isEmpty,
      s"$op on $root: resident column/field name '$name' contains " +
        s"colmap-delimiter character(s) ${showDelims(bad)} — " +
        "column mapping cannot represent it; rewrite the table with a " +
        s"clean name before $op")
  }

  /** The table's current mapping, synthesizing the identity map from
    * the version's resolved physical schema when none is stored yet.
    * `op` names the refused command when synthesis hits a resident
    * name the colmap encoding cannot represent. */
  private[graft] def currentColMap(s: SparkSession, root: String,
      v: Int, op: String = "column mapping"): Seq[(String, String)] =
    colMap(root, v).getOrElse {
      val phys = readAtPhysical(s, root, v).columns.toIndexedSeq
      phys.map { c => requireColmapSafe(root, op, c); (c, c) }
    }

  // ---------------- DELETION VECTORS (merge-on-read deletes) --------

  /** Max fraction of a touched file's rows a DELETE may hit and still
    * take the merge-on-read path: above this, rewriting is cheaper
    * than dragging a large skip set through every future scan. */
  private[graft] val DvMaxSelectivity = 0.10

  /** Global budget on the ordinals ONE MoR statement may leave in the
    * table's sidecars (new hits + superseding carries): the per-file
    * selectivity cap bounds each file, not the aggregate, and the read
    * path broadcasts the union of the touched files' sidecars — 4M
    * ordinals ≈ 32 MB of longs stays comfortably under executor
    * broadcast budgets at any file count. A statement over this
    * budget is table-proportional, not point-shaped, and falls back
    * to copy-on-write (ADVICE r13). */
  private[graft] val DvMaxTotalOrdinals = 4000000L

  /** The table's deletion-vector state at version `v`: data-file rel →
    * dv-sidecar rel. A dv sidecar is a tiny one-column parquet
    * (`idx BIGINT`) listing the ORDINALS (0-based position within the
    * data file, Spark's `_metadata.row_index`) of deleted rows. The
    * `dv` meta key carries forward commit to commit (it is table
    * STATE, unlike the per-commit `cdc` key); rewrite commits drop the
    * entries of files they replace, OPTIMIZE compacts all of them
    * away, vacuum keeps a sidecar alive exactly as long as a retained
    * manifest references it. */
  private[graft] def dvState(root: String, v: Int): Map[String, String] =
    if (v == 0) Map.empty else dvOf(manifestMeta(root, v))

  private def dvOf(meta: Map[String, String]): Map[String, String] =
    meta.get("dv").map(_.split(';').map { e =>
      val Array(rel, dvRel) = e.split("=", 2); (rel, dvRel)
    }.toMap).getOrElse(Map.empty)

  private[graft] def fmtDv(m: Map[String, String]): Option[String] =
    if (m.isEmpty) None else Some(m.toSeq.sorted.map { case (r, d) => s"$r=$d" }.mkString(";"))

  /** Per-sidecar ordinal COUNTS (`dvn` meta: data-rel=count;...) kept
    * beside `dv`, so the table-wide MoR ordinal budget is pure
    * manifest arithmetic instead of a footer sweep per statement (r16
    * review). Best-effort state: a rel absent here (legacy commits,
    * re-rel'd clones of pre-dvn sources) prices by one footer read. */
  private[graft] def dvCountsOf(meta: Map[String, String]): Map[String, Long] =
    meta.get("dvn").map(_.split(';').map { e =>
      val Array(rel, n) = e.split("=", 2); (rel, n.toLong)
    }.toMap).getOrElse(Map.empty)

  private[graft] def fmtDvn(m: Map[String, Long]): Option[String] =
    if (m.isEmpty) None
    else Some(m.toSeq.sorted.map { case (r, n) => s"$r=$n" }.mkString(";"))

  /** Set/unset table FLAGS (`cdf`, `dvmode`) as ONE CAS metadata
    * commit — the engine behind both the Scala helpers and the SQL
    * `ALTER TABLE ... SET/UNSET TBLPROPERTIES` route. IDEMPOTENT: when
    * every set is already in place and every unset already absent, no
    * version mints (re-running the statement is a no-op, like
    * zero-match DML). */
  def setTableFlags(root: String, sets: Map[String, String],
      unsets: Seq[String] = Nil): Int = {
    casCommit(root) { v =>
      require(v > 0, s"setTableFlags on $root: table has no committed version — " +
        "commit data first, then set the flags")
      val cur = carriedMeta(root, v)
      val already = sets.forall { case (k, w) => cur.get(k).contains(w) } &&
        unsets.forall(k => !cur.contains(k))
      if (already) v
      else commitEntries(root, v, manifestEntries(root, v), 16,
        cur ++ sets -- unsets +
          ("alter" -> ("props:" + (sets.toSeq.sorted.map { case (k, w) => s"$k=$w" } ++
            unsets.sorted.map(k => s"-$k")).mkString(","))))
    }
  }

  // ---------------- MANIFEST-LOG CHECKPOINT (r20) --------------------
  // Delta's _last_checkpoint idea applied to the HISTORY summary:
  // every K-th commit folds the whole log so far into one
  // `_manifests/ckpt_v%05d.txt` file (one summary row per version —
  // version, in-commit timestamp, entry count, row sum, rendered
  // meta), built INCREMENTALLY on top of the previous checkpoint, so
  // the amortized write cost is O(1) manifest reads per commit.
  // DESCRIBE HISTORY then reads ONE checkpoint + the ≤K fresh
  // manifests above it instead of walking every version — on a
  // commit-a-minute table three years deep that is 1 file + ≤32
  // manifests instead of ~1.5M manifest reads. Timestamp resolution
  // needs no checkpoint: it already binary-searches the ICT clock.
  // Checkpoints are derived state: best-effort written (a crash just
  // delays the next one), vanish-tolerated by readers (fallback =
  // the full walk), ignored by old binaries (unknown file name), and
  // superseded ones retire on the next write.

  private[graft] val CheckpointEvery = 32

  private[graft] def ckptPath(root: String, v: Int): Path =
    manifestDir(root).resolve(f"ckpt_v$v%05d.txt")

  /** One history summary row of a still-present version:
    * (version, cts millis, entry count, row sum, rendered meta) —
    * exactly DESCRIBE HISTORY's shape. */
  private[graft] def historyRow(root: String, v: Int): (Int, Long, Long, Long, String) = {
    val es = manifestEntries(root, v)
    val meta = manifestMeta(root, v).toSeq.sorted
      .map { case (k, x) => s"$k=$x" }.mkString(",")
    (v, commitTimeMillis(root, v), es.size.toLong, es.map(_.rows).sum, meta)
  }

  private def fmtCkptRow(r: (Int, Long, Long, Long, String)): String =
    s"${r._1}\t${r._2}\t${r._3}\t${r._4}\t${r._5}"

  private def parseCkptRow(l: String): (Int, Long, Long, Long, String) = {
    val a = l.split("\t", 5)
    (a(0).toInt, a(1).toLong, a(2).toLong, a(3).toLong,
      if (a.length > 4) a(4) else "")
  }

  /** Committed checkpoints, version-ascending. */
  private[graft] def listCheckpoints(root: String): Seq[(Int, Path)] =
    Engine.listDir(manifestDir(root)).flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("ckpt_v") && n.endsWith(".txt"))
        scala.util.Try(
          n.stripPrefix("ckpt_v").stripSuffix(".txt").toInt -> p).toOption
      else None
    }.sortBy(_._1)

  private def maybeWriteHistoryCheckpoint(root: String, v: Int): Unit =
    if (v % CheckpointEvery == 0) try {
      import scala.jdk.CollectionConverters._
      val prev = listCheckpoints(root).filter(_._1 < v).lastOption
      val prevRows: Seq[String] = prev.map { case (_, p) =>
        Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
      }.getOrElse(Nil)
      val from = prev.map(_._1 + 1).getOrElse(1)
      val fresh = (from to v).flatMap { i =>
        // vacuumed versions leave no row; gated versions refuse loudly
        // through historyRow exactly like the live walk would
        try Some(fmtCkptRow(historyRow(root, i)))
        catch { case _: java.nio.file.NoSuchFileException => None }
      }
      val tmp = manifestDir(root).resolve(
        s".ckpt_${uniqueTag()}.tmp")
      Files.write(tmp, (prevRows ++ fresh).mkString("\n").getBytes)
      Files.move(tmp, ckptPath(root, v), StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      listCheckpoints(root).filter(_._1 < v)
        .foreach { case (_, p) => Files.deleteIfExists(p) }
    } catch {
      // best-effort derived state: never fail the commit that
      // triggered it — the next K-th commit rebuilds from scratch
      case _: Exception => ()
    }

  /** The checkpoint-accelerated history walk: checkpoint rows (each
    * re-validated as still-present with one size stat — vacuum may
    * have retired versions after the checkpoint froze them) + a live
    * read of the ≤K versions above the checkpoint. Falls back to the
    * full walk when no checkpoint exists or it vanished mid-read. */
  private[graft] def historyRows(root: String): Seq[(Int, Long, Long, Long, String)] = {
    import scala.jdk.CollectionConverters._
    val cur = currentVersion(root)
    val ckpt = listCheckpoints(root).filter(_._1 <= cur).lastOption
    val (baseRows, from) = ckpt match {
      case Some((cv, p)) =>
        try (Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
          .map(parseCkptRow).filter(r => committed(root, r._1)), cv + 1)
        catch { case _: java.nio.file.NoSuchFileException => (Nil, 1) }
      case None => (Nil, 1)
    }
    val fresh = (from to cur).flatMap { v =>
      try Some(historyRow(root, v))
      catch { case _: java.nio.file.NoSuchFileException => None }
    }
    baseRows ++ fresh
  }

  // ---------------- TAGS (named refs, Iceberg's design) -------------

  /** Manifest-state prefix of a named ref: `tag.<name>` → version.
    * Tags are TABLE state (carried by every commit, CAS-serialized,
    * restore-surviving); they deliberately do NOT carry into clones —
    * a clone renumbers its history from v1, so a carried ref would
    * point at a version that means something else there (the clone
    * meta whitelist enforces this). */
  private[graft] val TagKey = "tag."

  private[graft] def tagsOf(meta: Map[String, String]): Map[String, Int] =
    meta.collect { case (k, v) if k.startsWith(TagKey) =>
      k.stripPrefix(TagKey) -> v.toInt }

  /** CREATE TAG (Iceberg's named refs, the retention half of
    * branching): pin `name` to a committed version so VACUUM can never
    * reclaim it — an audit/repro/rollback anchor addressable by name
    * from every read route (`.option("version", "<name>")`, catalog
    * `VERSION AS OF '<name>'`, [[readTag]]). One metadata commit
    * (zero files move); re-tagging the SAME version is an idempotent
    * no-op, re-POINTING an existing tag refuses (drop it first — a
    * silent re-point would invalidate whatever pinned the name).
    * At 100 TB a tag is one manifest line; the cost of keeping the
    * snapshot is the retention it prevents, which is the point. */
  def createTag(root: String, name: String, version: Option[Int] = None): Int = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_\\-]*"),
      s"graft-snapshot: tag name '$name' — use [A-Za-z_][A-Za-z0-9_-]*")
    val cur = currentVersion(root)
    require(cur > 0, s"createTag on $root: table has no committed version")
    val target = version.getOrElse(cur)
    require(target >= 1 && target <= cur,
      s"createTag on $root: version $target is not a committed version (1..$cur)")
    // force the reader gate + existence check: tagging a vacuumed or
    // feature-gated manifest must refuse now, not at first read
    manifestEntries(root, target)
    // OWN CAS loop (not setTableFlags): the re-point refusal must
    // re-verify INSIDE the retry — two racing CREATE TAGs of the same
    // name would otherwise both pass a pre-loop check and the loser's
    // retry would silently re-point the winner's live ref (the same
    // re-verification discipline commitRewrite applies to DV state)
    val result = casCommit(root) { v =>
      val curMeta = carriedMeta(root, v)
      require(!branchesOf(curMeta).contains(name),
        s"createTag on $root: '$name' is a live BRANCH — refs share one namespace")
      val existing = tagsOf(curMeta).get(name)
      require(existing.forall(_ == target),
        s"createTag on $root: tag '$name' already points at version " +
          s"${existing.get} — DROP TAG it first; re-pointing a live ref " +
          "would invalidate whatever pinned the name")
      if (existing.contains(target)) v
      else commitEntries(root, v, manifestEntries(root, v), 16,
        curMeta + (TagKey + name -> target.toString) +
          ("alter" -> s"tag:$name=v$target"))
    }
    // a VACUUM planned before this tag committed may still reclaim the
    // target (vacuum never commits, so CAS cannot order the two) —
    // verify the pin landed on a still-resident snapshot and convert
    // the silent-dangling-ref outcome into a loud failure
    if (!Files.exists(manifestPath(root, target))) {
      dropTag(root, name)
      throw new IllegalStateException(
        s"createTag on $root: version $target was vacuumed away while the " +
          "tag committed — the ref was rolled back; re-create it against a " +
          "retained version")
    }
    result
  }

  /** DROP TAG — the ref's retention protection ends at the next
    * VACUUM; the version itself stays until retention reclaims it. */
  def dropTag(root: String, name: String): Int = {
    val cur = currentVersion(root)
    require(cur > 0 && tagsOf(manifestMeta(root, cur)).contains(name),
      s"dropTag on $root: no tag '$name' — known: " +
        (if (cur == 0) "" else tagsOf(manifestMeta(root, cur)).keys.toSeq.sorted.mkString(",")))
    setTableFlags(root, Map.empty, Seq(TagKey + name))
  }

  /** Resolve a version REF — a numeric string or a tag name — against
    * the CURRENT version's refs. The shared decode point of every
    * named-version surface (DSv2 `version` option, catalog
    * `VERSION AS OF`). */
  def resolveVersionRef(root: String, ref: String): Int =
    if (ref.nonEmpty && ref.forall(_.isDigit))
      try ref.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft-snapshot: version '$ref' is out of INT range on $root")
      }
    else {
      val cur = currentVersion(root)
      val tags = if (cur == 0) Map.empty[String, Int]
        else tagsOf(manifestMeta(root, cur))
      tags.getOrElse(ref, throw new IllegalArgumentException(
        s"graft-snapshot: unknown version or tag '$ref' on $root — known tags: " +
          (if (tags.isEmpty) "(none)" else tags.keys.toSeq.sorted.mkString(","))))
    }

  /** Read the snapshot a tag pins — time travel by name. */
  def readTag(s: SparkSession, root: String, name: String): DataFrame =
    readAt(s, root, resolveVersionRef(root, name))

  // ---------------- BRANCHES (writable refs + WAP) ------------------
  // The writable half of Iceberg's ref model (x52's tags are the
  // read-only half): a branch STAGES commits without moving `_latest`,
  // so a risky backfill lands invisible to main, gets audited, and
  // publishes atomically (write-audit-publish). Mechanism: the branch
  // ref (`branch.<name>` → base main version, CAS-committed table
  // state like a tag) anchors a SEPARATE manifest namespace
  // `_manifests/branch_<name>_v%05d.txt` with its own CAS slots —
  // main's contiguous-version resolution never sees them (the name
  // filter), and the branch's data files land in the table directory
  // like any others, protected from vacuum by the branch-liveness
  // rules in vacuumPlan. PUBLISH is Iceberg's fast_forward: if main
  // still equals the branch base, the branch head's entry list commits
  // as the next MAIN version (one metadata commit — zero files move)
  // and the branch retires; if main advanced, publish refuses loudly
  // (the WAP conflict — rebase by re-staging). At 100 TB a branch is
  // manifest arithmetic: staging N files costs N entry lines, publish
  // costs one commit.

  /** Manifest-state prefix of a branch ref: `branch.<name>` → the MAIN
    * version the branch is based on. Like tags: carried by every
    * commit, writer-feature-stamped, never into clones. */
  private[graft] val BranchKey = "branch."

  private[graft] def branchesOf(meta: Map[String, String]): Map[String, Int] =
    meta.collect { case (k, v) if k.startsWith(BranchKey) =>
      k.stripPrefix(BranchKey) -> v.toInt }

  private[graft] def branchManifestPath(root: String, name: String, i: Int): Path =
    manifestDir(root).resolve(f"branch_${name}_v$i%05d.txt")

  /** Committed branch-manifest count (0 = freshly created branch —
    * its state is the base version's). Zero-byte slots are claimed-
    * but-unfilled CAS attempts, exactly as in main resolution. */
  private[graft] def branchHead(root: String, name: String): Int = {
    var i = 0
    while (sizeOrZero(branchManifestPath(root, name, i + 1)) > 0) i += 1
    i
  }

  private def branchLines(root: String, name: String, i: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val lines = Files.readAllLines(branchManifestPath(root, name, i))
      .asScala.toSeq.filter(_.nonEmpty)
    // same reader gate as main manifests: branch meta carries the
    // base's state (colmap, dv, ...) and must refuse the same way
    val unknown = featureLine(lines, "readerFeatures") -- SupportedReaderFeatures
    if (unknown.nonEmpty) throw new IllegalStateException(
      s"graft-snapshot: $root branch $name requires reader feature(s) " +
        s"${unknown.toSeq.sorted.mkString(",")} this binary does not support")
    lines
  }

  /** The branch's current (entries, carried meta, base main version).
    * Head 0 serves the base version's state verbatim. */
  private[graft] def branchState(root: String, name: String):
      (Seq[FileEntry], Map[String, String], Int) = {
    val cur = currentVersion(root)
    require(cur > 0, s"branch $name on $root: table has no committed version")
    val base = branchesOf(manifestMeta(root, cur)).getOrElse(name,
      throw new IllegalArgumentException(
        s"graft-snapshot: unknown branch '$name' on $root — known: " +
          branchesOf(manifestMeta(root, cur)).keys.toSeq.sorted.mkString(",")))
    val head = branchHead(root, name)
    if (head == 0) (manifestEntries(root, base), carriedMeta(root, base), base)
    else {
      val lines = branchLines(root, name, head)
      val meta = lines.collect { case l if l.startsWith("#") =>
        val Array(k, v) = l.drop(1).split('\t'); k -> v }.toMap
      (lines.filterNot(_.startsWith("#")).map(parseEntry),
        meta -- Seq("cts", "readerFeatures", "writerFeatures", "branchbase"),
        base)
    }
  }

  /** `ALTER TABLE .. CREATE BRANCH <name>` — open a writable ref at
    * the current (or a pinned) version. One metadata commit; the base
    * version becomes retention-exempt (like a tagged one) while the
    * branch lives. Name space is shared with tags: a collision
    * refuses both ways, so `VERSION AS OF '<name>'` can never be
    * ambiguous if branches later join that resolver. */
  def createBranch(root: String, name: String, version: Option[Int] = None): Int = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_\\-]*"),
      s"graft-snapshot: branch name '$name' — use [A-Za-z_][A-Za-z0-9_-]*")
    val cur = currentVersion(root)
    require(cur > 0, s"createBranch on $root: table has no committed version")
    val target = version.getOrElse(cur)
    require(target >= 1 && target <= cur,
      s"createBranch on $root: version $target is not a committed version (1..$cur)")
    manifestEntries(root, target) // force the reader gate + existence
    val result = casCommit(root) { v =>
      val curMeta = carriedMeta(root, v)
      require(!tagsOf(curMeta).contains(name),
        s"createBranch on $root: '$name' is a live TAG — refs share one namespace")
      val existing = branchesOf(curMeta).get(name)
      require(existing.forall(_ == target),
        s"createBranch on $root: branch '$name' already exists at base " +
          s"${existing.get} — DROP BRANCH it first")
      if (existing.contains(target)) v
      else commitEntries(root, v, manifestEntries(root, v), 16,
        curMeta + (BranchKey + name -> target.toString) +
          ("alter" -> s"branch:$name=v$target"))
    }
    // same residual-race discipline as createTag: verify the base is
    // still resident after the ref committed, roll back loudly if not
    if (!Files.exists(manifestPath(root, target))) {
      dropBranch(root, name)
      throw new IllegalStateException(
        s"createBranch on $root: version $target was vacuumed away while " +
          "the ref committed — the branch was rolled back")
    }
    result
  }

  /** Stage an append ON the branch: data files land in the table
    * directory, the branch manifest advances, `_latest` does not move
    * — main readers cannot observe the rows until publish. CHECK
    * constraints enforce exactly as on main appends; the frame speaks
    * LOGICAL names (converted through the base's column mapping).
    * Returns the new branch head index. */
  def appendToBranch(s: SparkSession, root: String, name: String,
      df: DataFrame): Int = {
    var committed = -1
    var losses = 0
    var lastHead = -1
    while (committed < 0) {
      val (entries, meta, base) = branchState(root, name)
      require(!meta.keys.exists(_.startsWith("gen.")),
        s"branch append on $root: the table declares GENERATED columns — " +
          "branch staging enforces CHECK constraints only (r20 envelope); " +
          "drop the generation or stage through main's verified routes")
      // width guard (r20 review): a frame narrower or wider than the
      // base's logical schema would stage mixed-width files the
      // uniform-table branch read (and the publish-time readers)
      // refuse — fail at STAGING, with the column diff, not at audit
      val want = readAt(s, root, base).columns.map(_.toLowerCase).toSet
      val got = df.columns.map(_.toLowerCase).toSet
      require(want == got,
        s"branch append on $root: frame columns ${got.toSeq.sorted.mkString(",")} " +
          s"must equal the table's ${want.toSeq.sorted.mkString(",")} " +
          "(branch staging is append-only, no evolution)")
      val map = meta.get("colmap").map(parseColMap)
      val checked = enforceChecks(df, checksOf(meta), s"branch $name append")
      val phys = toPhysical(checked, map)
      val tag = uniqueTag()
      val rels = writeDataFiles(phys, root, s"br_${name}_$tag")
      // a stats-less table harvests under a name no footer carries —
      // primary stats read the sentinel; the per-column extras (r20)
      // still collect, so the staged files prune after publish
      val newEntries =
        harvestEntries(s, root, rels, meta.getOrElse("statsCol", "__none__"))
      val head = branchHead(root, name)
      if (head != lastHead) { lastHead = head; losses = 0 }
      val lines =
        (meta + ("branchbase" -> base.toString) +
          ("cts" -> System.currentTimeMillis.toString))
          .toSeq.sorted.map { case (k, v) => s"#$k\t$v" } ++
          (entries ++ newEntries).map(_.line)
      val slot = branchManifestPath(root, name, head + 1)
      val tmp = manifestDir(root).resolve(
        s".branch_${name}_${uniqueTag()}.tmp")
      Files.write(tmp, lines.mkString("\n").getBytes)
      try {
        Files.createFile(slot)
        Files.move(tmp, slot, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
        committed = head + 1
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          // a racing branch committer won the slot: clean our staging
          // and retry against the new branch head (optimistic CAS, the
          // same loop shape as main commits). Our data files stay —
          // unreferenced, the next vacuum sweeps them. A ZERO-BYTE
          // claim with no head progress is a DEAD committer's corpse:
          // without the same age-based reclaim the main CAS applies,
          // this loop would spin forever (r20 review)
          Files.deleteIfExists(tmp)
          losses += 1
          if (sizeOrZero(slot) == 0) {
            if (losses >= StaleClaimAfterLosses) {
              try {
                if (Files.exists(slot) && Files.size(slot) == 0 &&
                    System.currentTimeMillis -
                      Files.getLastModifiedTime(slot).toMillis > StaleClaimMinAgeMs)
                  Files.deleteIfExists(slot)
              } catch { case _: java.nio.file.NoSuchFileException => () }
            }
            Thread.sleep(math.min(50L * losses, 1000L))
          }
          require(losses < MaxCommitAttempts,
            s"branch append on $root/$name: lost the branch-slot CAS " +
              s"$losses times without head progress — wedged claim at " +
              s"${slot.getFileName}")
      }
    }
    committed
  }

  /** Read the branch's CURRENT state (base snapshot + staged appends)
    * — the audit read of write-audit-publish. Deletion vectors of the
    * base apply; staged files are plain appends. */
  def readBranch(s: SparkSession, root: String, name: String): DataFrame = {
    val (entries, meta, base) = branchState(root, name)
    logicalScan(s, TableState(root, base, meta, entries), entries)
  }

  /** PUBLISH (Iceberg's fast_forward): commit the branch head's entry
    * list as the next MAIN version — requires main to still equal the
    * branch base (a racing main commit refuses loudly: that is the
    * WAP conflict, resolved by re-staging on a fresh branch). The
    * branch retires on publish. Zero data files move — the staged
    * files are already in place; main's commit is pure metadata.
    * Returns the new main version (the base itself when nothing was
    * staged). */
  def fastForwardBranch(root: String, name: String): Int = {
    val (entries, _, base) = branchState(root, name)
    val head = branchHead(root, name)
    val cur = currentVersion(root)
    if (head == 0) { dropBranch(root, name); return cur }
    // the publish precondition: main's CONTENT AND STATE must still be
    // the branch base's — refs (tags, other branches) may have
    // advanced freely (a ref commit re-lists the same entries), but a
    // data commit, DML, or a state change (new CHECK, ALTER, dv…)
    // since branching means the staged rows were validated against a
    // stale contract: refuse loudly, the caller re-stages. Version
    // NUMBERS are deliberately not compared — the CREATE BRANCH
    // commit itself minted one.
    def stateOf(v: Int): (Seq[String], Map[String, String]) =
      (manifestEntries(root, v).map(_.line).sorted,
        carriedMeta(root, v).filterNot { case (k, _) =>
          k.startsWith(TagKey) || k.startsWith(BranchKey) })
    require(stateOf(cur) == stateOf(base),
      s"fastForward on $root: main advanced past branch '$name''s base " +
        s"v$base (content or table state changed) — publish would drop " +
        "main's commits or bypass its new contract; re-stage against the " +
        "current version")
    val published =
      try commitEntries(root, cur, entries, 16,
        // CURRENT main meta (keeps refs minted since branching), minus
        // this branch's ref — the publish retires it atomically
        carriedMeta(root, cur) - (BranchKey + name) +
          ("publish" -> s"branch:$name:+$head"))
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new IllegalStateException(
            s"fastForward on $root: a main commit raced the publish — " +
              s"branch '$name' is unpublished; re-check main and retry")
      }
    dropBranchFiles(root, name)
    published
  }

  /** DROP BRANCH — abandon the staged work: the ref clears, branch
    * manifests delete, and the staged data files (now referenced by
    * nothing) fall to the next vacuum's orphan sweep. */
  def dropBranch(root: String, name: String): Int = {
    val cur = currentVersion(root)
    require(cur > 0 && branchesOf(manifestMeta(root, cur)).contains(name),
      s"dropBranch on $root: no branch '$name' — known: " +
        (if (cur == 0) "" else branchesOf(manifestMeta(root, cur))
          .keys.toSeq.sorted.mkString(",")))
    val v = setTableFlags(root, Map.empty, Seq(BranchKey + name))
    dropBranchFiles(root, name)
    v
  }

  private def dropBranchFiles(root: String, name: String): Unit = {
    var i = branchHead(root, name)
    while (i > 0) {
      Files.deleteIfExists(branchManifestPath(root, name, i))
      i -= 1
    }
  }

  // ---------------- ROW TRACKING (stable row identity) --------------

  /** The physical column a REWRITE materializes preserved row ids
    * into. Never part of the column mapping, so every logical read
    * hides it exactly like a dropped column; [[readWithRowIds]]
    * surfaces it as `_row_id`. */
  private[graft] val RowIdCol = "__row_id"

  /** Per-file base row ids at version `v` (rel → base): a file's rows
    * occupy ids [base, base+rows) unless a materialized __row_id says
    * otherwise — the reader rule is coalesce(__row_id, base +
    * row_index). Maintained by [[commitEntries]]; the `rowhw` high-water
    * mark only ever grows, so fresh ranges never collide with any id
    * that ever existed. */
  private[graft] def rowBases(root: String, v: Int): Map[String, Long] =
    if (v == 0) Map.empty else rowBasesOf(manifestMeta(root, v))

  private[graft] def rowBasesOf(meta: Map[String, String]): Map[String, Long] =
    meta.get("rowbase").map(_.split(';').filter(_.nonEmpty).map { e =>
      val i = e.lastIndexOf('=')
      (e.substring(0, i), e.substring(i + 1).toLong)
    }.toMap).getOrElse(Map.empty)

  private[graft] def fmtRowBases(m: Map[String, Long]): Option[String] =
    if (m.isEmpty) None
    else Some(m.toSeq.sorted.map { case (r, b) => s"$r=$b" }.mkString(";"))

  /** The rels whose files carry a MATERIALIZED __row_id column, as
    * recorded in the manifest (`rowmat`) — pure manifest arithmetic,
    * never a footer sweep (r14 review: probing every footer per
    * statement is O(files) driver IO at exactly the scale the feature
    * targets). Maintained by [[commitEntries]]: carried rels keep
    * their bit, the committing writer declares its new materialized
    * rels via the one-commit `rowmat_new` hint. */
  private[graft] def rowMatOf(meta: Map[String, String]): Set[String] =
    meta.get("rowmat").map(_.split(';').filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  private[graft] def fmtRowMat(m: Set[String]): Option[String] =
    if (m.isEmpty) None else Some(m.toSeq.sorted.mkString(";"))

  /** Opt a table into ROW TRACKING (Delta 3.x's row IDs): every row
    * gets a STABLE numeric identity that survives appends, deletes,
    * deletion-vector DML and copy-on-write rewrites — the join key
    * incremental MV maintenance, CDC consumers and debugging need at
    * 100 TB, where "the same row" must mean something across an
    * OPTIMIZE. One metadata commit: fresh files derive ids from a
    * per-file base recorded at commit time (zero per-row write cost —
    * the id is base + position); rewrites materialize the ids they
    * carry forward into a hidden __row_id column. Requires exact
    * footer row counts on every entry and mints an identity column
    * mapping when none exists (the mapping is what hides materialized
    * id columns from plain reads). */
  def enableRowTracking(s: SparkSession, root: String): Int = {
    casCommit(root) { v =>
      require(v > 0, s"row tracking on $root: table has no committed version")
      val carried = carriedMeta(root, v)
      if (carried.get("rowtracking").contains("on")) v // idempotent
      else {
        val entries = manifestEntries(root, v)
        require(entries.forall(_.rows >= 0),
          s"row tracking on $root: legacy entries carry no footer row counts — " +
            "OPTIMIZE the table first")
        require(!readAtPhysical(s, root, v).columns.exists(_.equalsIgnoreCase(RowIdCol)),
          s"row tracking on $root: the table already has a $RowIdCol column")
        val mapMeta = carried.get("colmap") match {
          case Some(_) => Map.empty[String, String]
          case None => Map("colmap" -> fmtColMap(currentColMap(s, root, v, "row tracking")))
        }
        commitEntries(root, v, entries, 16,
          carried ++ mapMeta + ("rowtracking" -> "on") +
            ("alter" -> "rowtracking:on"))
      }
    }
  }

  /** IDENTITY COLUMN (Delta's `GENERATED ALWAYS AS IDENTITY`, r15):
    * expose the row-tracking identity as a named LOGICAL column — the
    * values ARE the x41 row ids, so assignment rides the high-water
    * allocator's per-commit contiguous claims (a fresh file's rows get
    * [hw, hw+rows): dense, unique, CAS-serialized against concurrent
    * writers — the same collision-free discipline, with ZERO per-row
    * write cost), DML stability/materialization/restore/clone all
    * inherit from the row-tracking machinery, and the engine owns the
    * values absolutely (every write surface refuses explicit values —
    * the ALWAYS contract). One identity column per table; enables row
    * tracking if not already on. At 100 TB: appends stay zero-cost
    * (identity is positional until a rewrite materializes it), and
    * reads pay one broadcast base join — metadata, never a shuffle. */
  def setIdentityColumn(s: SparkSession, root: String, name: String,
      start: Long = 0L): Int = {
    validateIdent(root, "identity column", name)
    enableRowTracking(s, root)
    casCommit(root) { v =>
      val carried = carriedMeta(root, v)
      carried.get("identity") match {
        case Some(cur) if cur == name =>
          require(identityStart(root, v) == start,
            s"identity column on $root: $name is already declared with " +
              s"START WITH ${identityStart(root, v)} — the start cannot change")
          v // idempotent
        case Some(cur) => throw new IllegalArgumentException(
          s"identity column on $root: the table already has identity column " +
            s"$cur — one per table")
        case None =>
          val resident = readAtPhysical(s, root, v).columns ++
            colMap(root, v).toSeq.flatten.map(_._1)
          require(!resident.exists(_.equalsIgnoreCase(name)),
            s"identity column on $root: $name collides with an existing column")
          // START WITH (r17): the declared start is a READ-SIDE offset
          // over the engine's dense 0-based row ids — stored once in
          // the manifest, added at every identity decode (the Scala
          // read, the DSv2 scan, streaming). The underlying _row_id
          // stays 0-based: row tracking is engine-internal identity,
          // START WITH is user-facing surface.
          val startMeta = if (start == 0L) Map.empty[String, String]
            else Map("idstart" -> start.toString)
          commitEntries(root, v, manifestEntries(root, v), 16,
            carried ++ startMeta + ("identity" -> name) +
              ("alter" -> s"identity:$name"))
      }
    }
  }

  /** The table's identity column at version `v`, if declared. */
  private[graft] def identityCol(root: String, v: Int): Option[String] =
    if (v == 0) None else manifestMeta(root, v).get("identity")

  /** The declared `START WITH` offset of the identity column (0 when
    * undeclared or absent) — added to the 0-based engine row id at
    * every read-side identity decode. */
  private[graft] def identityStart(root: String, v: Int): Long =
    if (v == 0) 0L else manifestMeta(root, v).get("idstart").map(_.toLong).getOrElse(0L)

  /** `CREATE TABLE (... GENERATED ALWAYS AS IDENTITY)` support (r16):
    * the identity declaration lives in manifest metadata, which a
    * never-committed table does not have — so the catalog records the
    * CREATE-time declaration as a PENDING marker file and the FIRST
    * commit applies it (setIdentityColumn right after the seed commit
    * — the same declare-after-seed flow the Scala API runs, automated;
    * the seed rows claim ids [0, rows) exactly as a manual declare
    * would assign them). */
  private[graft] def pendingIdentityFile(root: String): Path =
    Paths.get(root, "_identity_pending")
  /** Pending marker format: `name` or `name\tstart` (the CREATE-time
    * START WITH; bare legacy markers read as start 0). */
  private[graft] def pendingIdentityDecl(root: String): Option[(String, Long)] =
    if (Files.exists(pendingIdentityFile(root))) {
      val raw = new String(Files.readAllBytes(pendingIdentityFile(root)), "UTF-8").trim
      raw.split('\t') match {
        case Array(n, st) => Some((n, st.toLong))
        case _ => Some((raw, 0L))
      }
    } else None
  private[graft] def pendingIdentity(root: String): Option[String] =
    pendingIdentityDecl(root).map(_._1)
  /** Both pending applies run AFTER a commit that already landed: a
    * failure here must never fail that commit back to the caller (the
    * data is durable; a streaming batch would report failure, then
    * skip its retry as a replay and the declaration would be lost
    * forever — r16 review). On failure the marker STAYS for the next
    * commit to retry, and the cause prints loudly. */
  private[graft] def applyPendingIdentity(s: SparkSession, root: String): Unit = {
    pendingIdentityDecl(root).foreach { case (name, start) =>
      try {
        setIdentityColumn(s, root, name, start)
        Files.deleteIfExists(pendingIdentityFile(root))
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"graft-snapshot: CREATE-time identity '$name' on " +
          s"$root could not apply after this commit (${e.getMessage}) — the " +
          "declaration stays pending and the next commit retries")
      }
    }
    applyPendingDefaults(s, root)
  }

  // ---------------- COLUMN DEFAULTS (SQL DEFAULT values, r16) --------

  /** `default.<col>` manifest keys — the SQL literal Spark's analyzer
    * fills when an INSERT omits the column or spells `DEFAULT`
    * (Delta's column defaults). The FILL happens ANALYZER-side: the
    * catalog declares SUPPORT_COLUMN_DEFAULT_VALUE and the table
    * exposes each expression through StructField metadata
    * (CURRENT_DEFAULT/EXISTS_DEFAULT); the engine stores, validates,
    * carries (clone/restore like check./gen.) and re-exposes it —
    * no write-path cost at all. Table state, one key per column. */
  private[graft] def defaultsOf(meta: Map[String, String]): Map[String, String] =
    meta.collect { case (k, v) if k.startsWith("default.") =>
      k.stripPrefix("default.") -> v }
  private[graft] def columnDefaults(root: String, v: Int): Map[String, String] =
    if (v == 0) Map.empty else defaultsOf(manifestMeta(root, v))

  /** Attach/replace a column's DEFAULT. The expression must be
    * FOLDABLE (a constant — Delta and the SQL standard both scope
    * defaults to constant expressions; a per-row expression is a
    * GENERATED column, a different contract) and cast to the column's
    * type. Metadata-only; existing rows are untouched (the default
    * serves future INSERTs — SQL semantics, not backfill). */
  def setColumnDefault(s: SparkSession, root: String, name: String,
      sqlExpr: String): Int = {
    validateIdent(root, "set default", name)
    casCommit(root) { v =>
      require(v > 0, s"set default on $root: table has no committed version")
      val schema = readAt(s, root, v).schema
      require(schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"set default on $root: no column $name " +
          s"(have ${schema.fieldNames.mkString(",")})")
      val canon = schema.fieldNames.find(_.equalsIgnoreCase(name)).get
      require(!gensOf(carriedMeta(root, v)).keys.exists(_.equalsIgnoreCase(canon)),
        s"set default on $root: $canon is GENERATED ALWAYS AS — the table " +
          "owns its derivation; a DEFAULT would conflict")
      // foldability + type check in one analysis: a non-constant
      // expression (col refs, rand()) refuses — that is a GENERATED
      // column's contract, not a DEFAULT's
      val empty = s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Nil))
      val analyzed = try empty.select(expr(sqlExpr).cast(schema(canon).dataType))
        .queryExecution.analyzed
      catch { case e: Exception => throw new IllegalArgumentException(
        s"set default on $root: cannot analyze DEFAULT ($sqlExpr) for $canon as a " +
          s"constant of ${schema(canon).dataType.simpleString} — defaults are " +
          "constant expressions (for a per-row derivation use a GENERATED column)", e) }
      require(analyzed.asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
          .projectList.head.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias]
          .child.foldable,
        s"set default on $root: DEFAULT ($sqlExpr) for $canon is not a constant " +
          "expression — for a per-row derivation use a GENERATED column")
      commitEntries(root, v, manifestEntries(root, v), 16,
        carriedMeta(root, v) + (s"default.$canon" -> sqlExpr) +
          ("alter" -> s"default:$canon"))
    }
  }

  def dropColumnDefault(root: String, name: String): Int = {
    casCommit(root) { v =>
      require(v > 0, s"drop default on $root: table has no committed version")
      val canon = columnDefaults(root, v).keys.find(_.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"drop default on $root: column $name has no DEFAULT"))
      commitEntries(root, v, manifestEntries(root, v), 16,
        carriedMeta(root, v) - s"default.$canon" + ("alter" -> s"dropdefault:$canon"))
    }
  }

  /** CREATE-time defaults park like the identity declaration (the
    * metadata lives in the manifest an empty table lacks) — one
    * `col<TAB>sql` line per column, applied by the first commit. */
  private[graft] def pendingDefaultsFile(root: String): Path =
    Paths.get(root, "_defaults_pending")
  private[graft] def pendingDefaults(root: String): Map[String, String] =
    if (!Files.exists(pendingDefaultsFile(root))) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(pendingDefaultsFile(root)).asScala
        .filter(_.nonEmpty).map { l =>
          val Array(c, e) = l.split("\t", 2); (c, e)
        }.toMap
    }
  private[graft] def applyPendingDefaults(s: SparkSession, root: String): Unit = {
    val pend = pendingDefaults(root)
    if (pend.nonEmpty) try {
      // a seed committed through a NARROWER frame (the declared column
      // not yet resident) keeps the whole marker pending — a later
      // widening commit applies it; setColumnDefault would refuse the
      // missing column and the failure must not fail the landed commit
      val v = currentVersion(root)
      val have = readAt(s, root, v).schema.fieldNames
      if (pend.keys.forall(c => have.exists(_.equalsIgnoreCase(c)))) {
        pend.toSeq.sortBy(_._1).foreach { case (c, e) =>
          setColumnDefault(s, root, c, e) }
        Files.deleteIfExists(pendingDefaultsFile(root))
      } else System.err.println(s"graft-snapshot: CREATE-time DEFAULTs on $root " +
        s"name columns not yet resident (${pend.keys.mkString(",")}) — the " +
        "declaration stays pending until a commit carries them")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"graft-snapshot: CREATE-time DEFAULTs on $root could " +
        s"not apply after this commit (${e.getMessage}) — the declaration " +
        "stays pending and the next commit retries")
    }
  }

  /** Does the parquet footer of `rel` declare a `name` column? One
    * driver-side metadata read — used to split a row-tracked scan into
    * files with materialized ids and files on the base+position rule. */
  private[graft] def footerHasColumn(root: String, rel: String, name: String): Boolean = {
    import scala.jdk.CollectionConverters._
    ParquetFooters.withReader(ParquetFooters.inputFile(root, rel))(
      _.getFileMetaData.getSchema.getFields.asScala.exists(_.getName == name))
  }

  /** The row-tracked read: every logical column plus `_row_id` =
    * coalesce(materialized __row_id, file base + row position).
    * Deletion vectors anti-filter BEFORE the id computation reads the
    * position, and a DV'd row's survivors keep their ordinals — so DV
    * deletes preserve ids with no materialization at all. */
  def readWithRowIds(s: SparkSession, root: String): DataFrame =
    readWithRowIdsAt(s, root, currentVersion(root))

  private[graft] def readWithRowIdsAt(s: SparkSession, root: String, v: Int): DataFrame = {
    val st = stateAt(root, v)
    require(st.meta.get("rowtracking").contains("on"),
      s"readWithRowIds on $root: row tracking is not enabled (enableRowTracking)")
    logicalScan(s, st, st.entries, ids = true)
  }

  /** The ONE SET/UNSET TBLPROPERTIES policy, shared by the catalog
    * route (`ALTER TABLE cat.tbl SET TBLPROPERTIES`) and the path-SQL
    * route (`ALTER TABLE '<path>' SET TBLPROPERTIES`): `check.<name>`
    * and `gen.<col>` keys dispatch to the resident-validating verbs —
    * ONE per statement, because each validates and commits
    * independently and a multi-key statement could half-apply — and
    * everything else must be a known flag (cdf, dvmode) handled by the
    * idempotent [[setTableFlags]] engine. */
  def applyTableProperties(s: SparkSession, root: String,
      sets: Seq[(String, String)], unsets: Seq[String]): Unit = {
    val allowed = Map("cdf" -> Set("row"), "dvmode" -> Set("on"),
      "optimizewrite" -> Set("on"))
    def isValidating(k: String) = k.startsWith("check.") || k.startsWith("gen.") ||
      k.startsWith("default.")
    if ((sets.map(_._1) ++ unsets).exists(isValidating)) {
      require((sets.map(_._1) ++ unsets).forall(isValidating),
        "graft tblproperties: constraint/generation/default properties " +
          "(check.<name>, gen.<col>, default.<col>) cannot mix with other " +
          "properties in one ALTER")
      require(sets.size + unsets.size == 1,
        "graft tblproperties: one check.<name>/gen.<col>/default.<col> property " +
          "per ALTER — each validates and commits independently, so a " +
          "multi-property statement could half-apply")
      sets.foreach { case (k, e) =>
        if (k.startsWith("check.")) addCheckConstraint(s, root, k.stripPrefix("check."), e)
        else if (k.startsWith("default.")) setColumnDefault(s, root, k.stripPrefix("default."), e)
        else setGeneratedColumn(s, root, k.stripPrefix("gen."), e) }
      unsets.foreach(k =>
        if (k.startsWith("check.")) dropCheckConstraint(root, k.stripPrefix("check."))
        else if (k.startsWith("default.")) dropColumnDefault(root, k.stripPrefix("default."))
        else dropGeneratedExpr(root, k.stripPrefix("gen.")))
    } else {
      (sets.map(_._1) ++ unsets).foreach(k =>
        require(allowed.contains(k) || k == "cdcretain",
          s"graft tblproperties: unsupported table property '$k' — supported: " +
            allowed.keys.toSeq.sorted.mkString(", ") +
            ", cdcretain, check.<name>, gen.<col>"))
      sets.foreach {
        // CDC retention (hours): row-grain change files older than the
        // window reclaim on the NEXT vacuum even while their manifests
        // (and time travel) hold — the delta.logRetentionDuration-style
        // knob that decouples CDC history cost from snapshot retention
        case ("cdcretain", v) =>
          require(scala.util.Try(v.toDouble).toOption.exists(_ >= 0),
            s"graft tblproperties: cdcretain takes retention HOURS " +
              s"(non-negative number), got '$v'")
        // clustered writes shuffle on the stats column — a table that
        // never declared one has nothing to cluster on, and a silent
        // no-op flag would read as a layout guarantee it isn't
        case ("optimizewrite", v) =>
          require(allowed("optimizewrite").contains(v),
            s"graft tblproperties: property optimizewrite takes on, got '$v'")
          val cur = currentVersion(root)
          require(cur > 0 && carriedMeta(root, cur).contains("statsCol"),
            s"graft tblproperties: optimizewrite clusters writes on the stats " +
              "column, and this table carries none — OPTIMIZE ... CLUSTER BY " +
              "(<col>) first to declare it")
        case (k, v) => require(allowed(k).contains(v),
          s"graft tblproperties: property $k takes ${allowed(k).mkString("/")}, got '$v'")
      }
      setTableFlags(root, sets.toMap, unsets)
    }
  }

  /** Opt a table into merge-on-read deletes (Delta's
    * `delta.enableDeletionVectors`): one metadata commit setting the
    * `dvmode` flag; without it every DELETE stays copy-on-write. */
  def enableDeletionVectors(root: String): Int =
    setTableFlags(root, Map("dvmode" -> "on"))

  // ---------------- CHECK CONSTRAINTS (write-time invariants) -------

  /** The table's CHECK constraints at version `v`: name → SQL boolean
    * expression over LOGICAL column names. Stored as `check.<name>`
    * metadata keys — one key per constraint, so names and expressions
    * never fight the colmap/dv value encodings; carried forward by
    * every commit like statsCol (table STATE). SQL semantics: a row
    * passes when the expression is TRUE or NULL (the standard's
    * three-valued CHECK), fails only on FALSE. */
  private[graft] def checkConstraints(root: String, v: Int): Map[String, String] =
    if (v == 0) Map.empty
    else checksOf(manifestMeta(root, v))

  /** The constraint map embedded in an already-read meta map — the ONE
    * place the `check.` key encoding is decoded. Generated columns
    * (`gen.<col>` keys) compile into this map as IMPLICIT invariants
    * `gen:<col>` → `` `col` <=> (expr) `` (null-safe equality is never
    * NULL, so three-valued CHECK can't weaken it): every enforcement
    * seam — the DSv2 task writer, MERGE/UPDATE projections, the
    * streaming sink, ADD-time resident validation, RESTORE's active
    * re-validation, the in-flight constraint-change race aborts —
    * covers generation expressions with zero extra code. User
    * constraints can never collide with the namespace: ':' is a
    * refused identifier character. */
  private[graft] def checksOf(meta: Map[String, String]): Map[String, String] =
    meta.collect {
      case (k, e) if k.startsWith("check.") => (k.stripPrefix("check."), e)
    } ++ gensOf(meta).map { case (c, e) => (s"gen:$c", s"`$c` <=> ($e)") }

  // ---------------- GENERATED COLUMNS (Delta's GENERATED ALWAYS AS) --

  /** The table's generation expressions at version `v`: column →
    * deterministic SQL expression over the table's OTHER logical
    * columns. Stored as `gen.<col>` metadata (one key per column,
    * table STATE like `check.<name>`); stamps the `gencols` WRITER
    * feature so a generation-ignorant binary refuses to write instead
    * of silently landing rows that violate the invariant. */
  private[graft] def genExprs(root: String, v: Int): Map[String, String] =
    if (v == 0) Map.empty else gensOf(manifestMeta(root, v))

  private[graft] def gensOf(meta: Map[String, String]): Map[String, String] =
    meta.collect {
      case (k, e) if k.startsWith("gen.") => (k.stripPrefix("gen."), e)
    }

  /** Attach a generation expression to an EXISTING column — Delta
    * pins `GENERATED ALWAYS AS` at CREATE TABLE; attach-with-resident-
    * validation is the strictly more flexible contract (the expensive
    * proof that history already satisfies the invariant is exactly
    * ADD CONSTRAINT's one filter-pushed scan). From the commit on:
    * every write route enforces `col <=> (expr)` per row (see
    * [[checksOf]]), UPDATE recomputes the column when a SET touches
    * its inputs, and the streaming sink / [[withGeneratedColumns]]
    * compute it when the incoming frame omits it. The 100 TB story:
    * a derived clustering column (day-of-timestamp) whose correctness
    * the TABLE owns — ingest jobs can neither drift the derivation
    * nor skip it, so stats/partition pruning on the derived column
    * stays sound forever. */
  def setGeneratedColumn(s: SparkSession, root: String, name: String,
      exprSql: String): Int = {
    validateIdent(root, "set generated", name)
    require(!exprSql.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"set generated on $root: the expression may not contain tabs/newlines " +
        "(manifest metadata is line-oriented)")
    val refs = checkReferencedCols(s, exprSql)
    require(!refs.exists(_.equalsIgnoreCase(name)),
      s"set generated on $root: expression for $name references the column " +
        "itself — generation expressions derive from OTHER columns")
    casCommit(root) { v =>
      require(v > 0, s"set generated on $root: table has no committed version")
      val cur = genExprs(root, v)
      cur.keys.find(_.equalsIgnoreCase(name)).foreach(g =>
        throw new IllegalArgumentException(
          s"set generated on $root: column $g is already generated " +
            s"AS (${cur(g)}) — drop the expression first"))
      // no derivation CHAINS: a generated column may neither derive
      // from another generated column nor become an input of one —
      // UPDATE's recompute overlay would be evaluation-order-dependent
      cur.keys.find(g => refs.exists(_.equalsIgnoreCase(g))).foreach(g =>
        throw new IllegalArgumentException(
          s"set generated on $root: expression for $name references generated " +
            s"column $g — generation expressions derive from plain columns only"))
      cur.find { case (_, e) =>
        checkReferencedCols(s, e).exists(_.equalsIgnoreCase(name)) }
        .foreach { case (g, e) => throw new IllegalArgumentException(
          s"set generated on $root: column $name is an input of generated " +
            s"column $g AS ($e) — a generated column cannot derive from " +
            "another generated column") }
      val frame = readAt(s, root, v)
      val cols = frame.columns
      // canonicalize to the TABLE's spelling before storing: the
      // recompute overlay and withGeneratedColumns resolve the stored
      // key with exact-case StructType lookups, so a case-mismatched
      // attach would brick every later UPDATE / sink batch (r14 review)
      val canon = cols.find(_.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"set generated on $root: no column $name (have ${cols.mkString(",")})"))
      // the expression must be deterministic: enforcement re-evaluates
      // it per write (and UPDATE recomputes) — checked on the ANALYZED
      // expression (an unresolved function reports nothing)
      val analyzedGen = frame.select(expr(exprSql).as("__g"))
        .queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
        .projectList.head
        .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias].child
      require(analyzedGen.deterministic,
        s"set generated on $root: expression ($exprSql) is non-deterministic — " +
          "generated columns must re-derive to the same value on every write")
      // validate the RESIDENT data: every existing row must already
      // satisfy col <=> expr, or the invariant would be a lie from
      // birth (NULL <=> NULL passes — a null-filled evolution gap
      // whose inputs are also null is consistent)
      val inv = s"`$canon` <=> ($exprSql)"
      val bad = checkViolations(frame, inv).limit(1).collect()
      require(bad.isEmpty,
        s"set generated on $root: existing row violates $canon AS ($exprSql): " +
          s"${bad.headOption.getOrElse("")} — backfill the column first")
      commitEntries(root, v, manifestEntries(root, v), 16,
        carriedMeta(root, v) + (s"gen.$canon" -> exprSql) +
          ("alter" -> s"addgen:$canon"))
    }
  }

  /** Detach a generation expression (the column stays, with its
    * materialized values — it just stops being derived/enforced). */
  def dropGeneratedExpr(root: String, name: String): Int = {
    casCommit(root) { v =>
      require(v > 0, s"drop generated on $root: table has no committed version")
      val canon = genExprs(root, v).keys.find(_.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"drop generated on $root: column $name has no generation expression"))
      commitEntries(root, v, manifestEntries(root, v), 16,
        carriedMeta(root, v) - s"gen.$canon" + ("alter" -> s"dropgen:$canon"))
    }
  }

  /** Compute any generated columns `df` OMITS (Delta's write-side
    * convenience: an ingest frame need not carry derivable columns),
    * cast to the table's declared type, conformed to the table's
    * column order. Columns the frame already carries pass through —
    * the per-row invariant then verifies them instead. Zero cost for
    * tables without generation expressions. */
  def withGeneratedColumns(s: SparkSession, root: String, df: DataFrame,
      at: Option[Int] = None): DataFrame = {
    val v = at.getOrElse(currentVersion(root))
    val gens = genExprs(root, v)
    if (gens.isEmpty) return df
    val schema = readAt(s, root, v).schema
    val missing = gens.filterNot { case (c, _) =>
      df.columns.exists(_.equalsIgnoreCase(c)) }
    if (missing.isEmpty) return df
    val widened = missing.toSeq.sortBy(_._1).foldLeft(df) { case (d, (c, e)) =>
      d.withColumn(c, expr(e).cast(schema(c).dataType))
    }
    // conform to the table's column order so the written parquet sits
    // uniformly beside the resident files
    val order = schema.fieldNames.filter(c =>
      widened.columns.exists(_.equalsIgnoreCase(c)))
    val extras = widened.columns.filterNot(c =>
      order.exists(_.equalsIgnoreCase(c)))
    widened.select((order ++ extras).map(col).toIndexedSeq: _*)
  }

  /** Wrap `df` so each row is verified against `checks` INSIDE the
    * write pipeline — a codegen'd projection, no second pass over the
    * batch (Delta's invariant-checker shape). The first output column
    * is routed through `CASE WHEN <all pass> THEN col ELSE
    * raise_error(...)`, so the check cannot be pruned away and a
    * violating row fails the WRITE JOB loudly (the commit never
    * lands) with the constraint's name and the row's JSON. Column
    * names in the expressions are LOGICAL — callers wrap before
    * [[toPhysical]]. */
  private[graft] def enforceChecks(df: DataFrame, checks: Map[String, String],
      where: String): DataFrame =
    if (checks.isEmpty) df
    else {
      val c0 = df.columns.head
      val c0NonNull = !df.schema.head.nullable
      val rowJson = to_json(struct(df.columns.map(col).toIndexedSeq: _*))
      val wrapped = checks.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, e)) =>
        val pass = coalesce(expr(e).cast("boolean"), lit(true))
        d.withColumn(c0, when(pass, col(c0)).otherwise(raise_error(
          concat(lit(s"graft check constraint '$n' CHECK ($e) violated in $where " +
            "by row: "), rowJson))))
      }
      // the CASE wrapper flips the carrier column nullable; restore the
      // source's non-null declaration (AssertNotNull, the
      // conformNullability trick) or a constrained streaming-sink batch
      // would write parquet OPTIONAL beside older REQUIRED files and
      // the uniform-table DSv2 request would refuse the mix (r14
      // review). The assert can never fire: the wrapper yields the
      // original (non-null) value whenever the row survives.
      if (!c0NonNull) wrapped
      else wrapped.withColumn(c0, org.apache.spark.sql.GraftShim.column(
        org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
          org.apache.spark.sql.GraftShim.expression(col(c0)))))
    }

  /** The violating rows of `df` under constraint expression `e`
    * (FALSE only — NULL passes, SQL's three-valued CHECK). */
  private def checkViolations(df: DataFrame, e: String): DataFrame =
    df.filter(!coalesce(expr(e).cast("boolean"), lit(true)))

  /** `ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)` — one CAS
    * metadata commit, AFTER validating every existing row (Delta scans
    * the table the same way: a constraint that the resident data
    * already violates must refuse, or the invariant would be a lie
    * from birth). From the commit on, every write route — INSERT
    * (DSv2 + streaming sink), MERGE, UPDATE — enforces the expression
    * per row and refuses violating commits loudly. */
  def addCheckConstraint(s: SparkSession, root: String, name: String,
      exprSql: String): Int = {
    validateIdent(root, "add constraint", name)
    require(!exprSql.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"add constraint on $root: the expression may not contain tabs/newlines " +
        "(manifest metadata is line-oriented)")
    casCommit(root) { v =>
      require(v > 0, s"add constraint on $root: table has no committed version")
      val cur = checkConstraints(root, v)
      require(!cur.contains(name),
        s"add constraint on $root: constraint $name already exists " +
          s"(CHECK (${cur.getOrElse(name, "")}))")
      // validate the RESIDENT data first — one filter-pushed scan,
      // stopping at the first violation
      val bad = checkViolations(readAt(s, root, v), exprSql).limit(1).collect()
      require(bad.isEmpty,
        s"add constraint on $root: existing row violates CHECK ($exprSql): " +
          s"${bad.headOption.getOrElse("")} — clean the data first")
      commitEntries(root, v, manifestEntries(root, v), 16,
        carriedMeta(root, v) + (s"check.$name" -> exprSql) +
          ("alter" -> s"addcheck:$name"))
    }
  }

  /** `ALTER TABLE ... DROP CONSTRAINT name` — metadata-only removal. */
  def dropCheckConstraint(root: String, name: String): Int = {
    // gen:<col> entries in the constraint map are the generated-column
    // invariants, not check.<name> metadata — dropping one here would
    // mint a version claiming a removal that never happened
    require(!name.startsWith("gen:"),
      s"drop constraint on $root: $name is a generated-column invariant — " +
        s"use dropGeneratedExpr / UNSET TBLPROPERTIES ('gen.${name.stripPrefix("gen:")}')")
    casCommit(root) { v =>
      require(v > 0, s"drop constraint on $root: table has no committed version")
      require(checkConstraints(root, v).contains(name),
        s"drop constraint on $root: no constraint $name")
      commitEntries(root, v, manifestEntries(root, v), 16,
        carriedMeta(root, v) - s"check.$name" + ("alter" -> s"dropcheck:$name"))
    }
  }

  /** Planning step of a stats-pruned scan: the entries of version `v`
    * whose PRIMARY-stats [lo, hi] intersects [qlo, qhi] — the
    * one-column case of [[prunedEntriesBox]] (the empty name addresses
    * the primary range). Pure manifest arithmetic — no data-file IO;
    * stat-less entries (sentinel range) always survive, so pruning is
    * never unsound. */
  def prunedEntries(root: String, v: Int, qlo: Long, qhi: Long): Seq[FileEntry] =
    prunedEntriesBox(root, v, "", Seq(("", qlo, qhi)))

  /** Scan ONLY the files whose footer-harvested `keyCol` stats
    * intersect [lo, hi] — at 100 TB this is the difference between
    * planning over a manifest and scanning the table: a day-range query
    * against a day-clustered table opens the handful of matching files,
    * not a million. The predicate is still applied after the scan
    * (stats prune whole FILES; the residual filter prunes rows within
    * the survivors, since a file's range may only overlap the query
    * range). `keyCol` is a LOGICAL name. x15 proves the skip;
    * SnapshotStatsSpec counts the files. */
  def readPruned(s: SparkSession, root: String, keyCol: String,
      lo: Long, hi: Long): DataFrame = {
    val v = currentVersion(root)
    logicalScan(s, stateAt(root, v), prunedEntries(root, v, lo, hi))
      .filter(col(keyCol).between(lo, hi))
  }

  /** Reclaim storage: drop manifests below `keepFrom` and delete every
    * data file — and every manifest SHARD — no surviving manifest
    * references. This is the ONLY operation that deletes data, and it
    * is explicitly separated from commit (Delta/Iceberg's VACUUM/
    * expire_snapshots): running it retires time travel below `keepFrom`
    * — the operator's caller chooses when readers older than that are
    * known to be gone (in production: a retention window, not a call
    * site). */
  def vacuum(root: String, keepFrom: Int): Unit =
    vacuumWithHook(root, keepFrom, () => ())

  /** [[vacuum]] with a test seam between the manifest deletes and the
    * post-delete ref re-read — how TagSpec injects the "tag committed
    * after the final plan read" interleaving deterministically. */
  private[graft] def vacuumWithHook(root: String, keepFrom: Int,
      afterManifestDeletes: () => Unit): Unit = {
    // plan under a STABLE tag set: vacuum never commits, so CAS cannot
    // order it against a racing CREATE TAG — instead the plan re-runs
    // until the ref set read before and after it agree, so a tag that
    // landed mid-plan re-protects its version before anything deletes.
    // tags AND branch bases: both ref kinds pin a version's residency,
    // and both CREATE verbs carry the same post-commit rollback check
    def tagsNow: Set[Int] = {
      val cur = currentVersion(root)
      if (cur == 0) Set.empty
      else {
        val m = manifestMeta(root, cur)
        tagsOf(m).values.toSet ++ branchesOf(m).values.toSet
      }
    }
    var guard = tagsNow
    var plan = vacuumPlan(root, keepFrom)
    var now = tagsNow
    while (now != guard) {
      guard = now
      plan = vacuumPlan(root, keepFrom)
      now = tagsNow
    }
    val (drop, dead, deadShards) = plan
    // MANIFESTS die FIRST: the manifest is the version's addressability
    // token — createTag's post-commit residency check reads it, so a
    // tag that loses the residual race observes the reclaim (manifest
    // gone → loud rollback) instead of passing on a still-present
    // manifest whose data files were already deleted. Shards follow
    // (a present manifest never points at deleted shards), data last.
    // Dropped manifest/shard BYTES are captured first: the ref re-read
    // below may have to resurrect one (r20, ADVICE — shards are
    // per-commit immutable, so a dropped manifest's shards are always
    // in deadShards and never shared with a survivor).
    val manifestBytes: Map[Int, Array[Byte]] =
      drop.map(v => v -> Files.readAllBytes(manifestPath(root, v))).toMap
    val shardBytes: Map[String, Array[Byte]] =
      deadShards.map(p => p.getFileName.toString -> Files.readAllBytes(p)).toMap
    drop.foreach(v => Files.deleteIfExists(manifestPath(root, v)))
    afterManifestDeletes()
    // CLOSE the residual window (r20, ADVICE): a CREATE TAG that
    // committed after the final stable-set read above could have run
    // its post-commit residency check BEFORE the manifest delete —
    // passing — and would then dangle once data died. Re-reading the
    // refs here, AFTER the manifests are gone, makes every
    // interleaving end consistent-or-loud: a tag visible now gets its
    // version RESURRECTED (manifest + shards restored from the
    // captured bytes, its files spared below); a tag committing after
    // this read finds the manifest already deleted and rolls itself
    // back loudly (createTag's residency check). Nothing can pass the
    // check AND miss this read: the check needs the manifest present,
    // which after this point only a rescued version has.
    val rescued: Seq[Int] = tagsNow.intersect(drop.toSet).toSeq.sorted
    val (dead2, deadShards2) =
      if (rescued.isEmpty) (dead, deadShards)
      else {
        val neededShards: Set[String] = rescued.flatMap { v =>
          new String(manifestBytes(v)).split('\n').toSeq
            .collect { case l if l.startsWith(">") => l.drop(1) }
        }.toSet
        // shards first (a present manifest never points at absent
        // shards), manifests via tmp+atomic-move (no partial reads)
        neededShards.foreach { s =>
          Files.write(manifestDir(root).resolve(s), shardBytes(s))
        }
        rescued.foreach { v =>
          val tmp = manifestDir(root).resolve(s".rescue_v$v.tmp")
          Files.write(tmp, manifestBytes(v))
          Files.move(tmp, manifestPath(root, v),
            StandardCopyOption.ATOMIC_MOVE)
        }
        // spare every file the rescued versions reference: data,
        // DV sidecars, and (conservatively — the tag pins the
        // snapshot's full addressability) their CDC files
        val keepData: Set[String] = rescued.flatMap { v =>
          manifest(root, v) ++
            dvState(root, v).values.map(r => Paths.get(root, r).toString) ++
            manifestMeta(root, v).get("cdc").toSeq.flatMap(spec =>
              spec.split(';').toSeq.flatMap(grp =>
                grp.split("=", 2)(1).split(',').toSeq))
              .map(r => Paths.get(root, r).toString)
        }.toSet
        (dead.filterNot(p => keepData.contains(p.toString)),
          deadShards.filterNot(p => neededShards.contains(p.getFileName.toString)))
      }
    deadShards2.foreach(Files.deleteIfExists(_))
    dead2.foreach(Files.deleteIfExists(_))
  }

  /** The reclamation PLAN vacuum executes — (dropped versions, dead
    * data/sidecar/CDC files, dead manifest shards) — shared with the
    * DRY RUN so the preview can never drift from the delete. Both
    * live sets resolve BEFORE any delete: expanding a manifest needs
    * its shards still on disk. CDC files are commit artifacts, not
    * table entries: they live exactly as long as the manifest whose
    * `cdc` meta names them. Shards referenced only by dropped
    * manifests (plus any orphan a crashed CAS loser left) are
    * unreachable — shard files are immutable and never shared across
    * commits, so surviving snapshots cannot lose entries here. */
  private def vacuumPlan(root: String,
      keepFrom: Int): (Seq[Int], Seq[Path], Seq[Path]) = {
    val all = Engine.listDir(manifestDir(root)).map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".txt") =>
        s.stripPrefix("v").stripSuffix(".txt").toInt }
    // ONE current-version resolution for the whole plan (the tagged
    // and cdcCutoff blocks both need the current meta)
    val cur = currentVersion(root)
    val curMeta = if (cur == 0) Map.empty[String, String] else manifestMeta(root, cur)
    // TAGGED versions are retention-exempt (Iceberg's ref semantics):
    // a tag is a promise the snapshot stays addressable, so the keep
    // floor flows around it — its manifest, data files, sidecars and
    // shards all stay live below
    val tagged: Set[Int] = tagsOf(curMeta).values.toSet ++
      // branch BASES are retention-exempt while the branch lives (the
      // staged entries reference the base's files, and publish needs
      // the base addressable)
      branchesOf(curMeta).values.toSet
    val (drop, keep) = all.partition(v => v < keepFrom && !tagged.contains(v))
    // branch-STAGED liveness (r20): a branch head's entries reference
    // data files no main manifest lists yet — they are the staged
    // appends, live until publish or DROP BRANCH
    val branchLive: Set[String] = branchesOf(curMeta).keys.flatMap { b =>
      scala.util.Try(branchState(root, b)._1
        .map(e => Paths.get(root, e.rel).toString)).getOrElse(Nil)
    }.toSet
    val live = keep.flatMap(v => manifest(root, v)).toSet ++ branchLive
    val liveShards = keep.flatMap(v => rawManifestLines(root, v)
      .collect { case l if l.startsWith(">") => l.drop(1) }).toSet
    val liveDv = keep.flatMap(v => dvState(root, v).values)
      .map(rel => Paths.get(root, rel).toString).toSet
    // CDC retention (`cdcretain` hours, table state on the CURRENT
    // version): a kept version's row-grain change files stay live only
    // while the version's commit clock is inside the window — outside
    // it they reclaim HERE even though the manifest (and time travel)
    // survives, decoupling CDC history cost from snapshot retention.
    // Without the property, CDC files live exactly as long as their
    // manifest (the pre-r16 contract).
    val cdcCutoff: Option[Long] = curMeta.get("cdcretain").map(h =>
      System.currentTimeMillis - (h.toDouble * 3600 * 1000).toLong)
    val liveCdc = keep
      .filter(v => cdcCutoff.forall(c => commitTimeIfPresent(root, v).forall(_ >= c)))
      .flatMap(v => manifestMeta(root, v).get("cdc").toSeq
        .flatMap(spec => spec.split(';').toSeq
          .flatMap(grp => grp.split("=", 2)(1).split(',').toSeq)))
      .map(rel => Paths.get(root, rel).toString).toSet
    val dead = Engine.listDir(Paths.get(root))
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !live.contains(p.toString) && !liveCdc.contains(p.toString) &&
        !liveDv.contains(p.toString))
    val deadShards = Engine.listDir(manifestDir(root))
      .filter(p => p.getFileName.toString.startsWith("shard_") &&
        !liveShards.contains(p.getFileName.toString))
    (drop.sorted, dead, deadShards)
  }

  /** `VACUUM ... DRY RUN` (Delta's preview): the root-relative paths
    * vacuum(keepFrom) WOULD reclaim — data/sidecar/CDC files,
    * retired manifests, unreachable shards — deleting NOTHING. */
  def vacuumDryRun(root: String, keepFrom: Int): Seq[String] = {
    val (drop, dead, deadShards) = vacuumPlan(root, keepFrom)
    val rp = Paths.get(root).toAbsolutePath
    (dead ++ drop.map(manifestPath(root, _)) ++ deadShards)
      .map(p => rp.relativize(p.toAbsolutePath).toString).sorted
  }

  /** Time-based retention — the production spelling of vacuum
    * (`VACUUM <t> RETAIN n HOURS`): resolve the cutoff against the
    * commit clock [[commitTimeMillis]] (in-commit timestamps when
    * present — the same clock DESCRIBE HISTORY
    * surfaces and `TIMESTAMP AS OF` resolves on), keep every version
    * committed inside the window plus the CURRENT version
    * unconditionally, and hand the resulting floor to [[vacuum]] —
    * so time travel inside the window is never broken, by
    * construction (the refusal the version-addressed spelling leaves
    * to the caller). `RETAIN 0 HOURS` is Delta's escape hatch:
    * retain only the current snapshot. Commit mtimes are
    * version-monotone (each commit creates its manifest at commit
    * time); an already-vacuumed version is skipped. Returns the keep
    * floor actually applied. */
  def vacuumRetain(root: String, hours: Double): Int = {
    val keepFrom = vacuumRetainKeepFrom(root, hours)
    if (keepFrom > 0) vacuum(root, keepFrom)
    keepFrom
  }

  /** The keep floor `VACUUM ... RETAIN n HOURS` resolves to — shared
    * with the DRY RUN so the preview and the delete agree. 0 = empty
    * table (nothing to retire). */
  private[graft] def vacuumRetainKeepFrom(root: String, hours: Double): Int = {
    val cur = currentVersion(root)
    if (cur == 0) return 0
    val cutoff = System.currentTimeMillis - (hours * 3600 * 1000).toLong
    (1 to cur).find(v => commitTimeIfPresent(root, v).exists(_ >= cutoff))
      .getOrElse(cur)
  }

  /** RESTORE — Delta's `RESTORE TABLE ... TO VERSION AS OF n` undo
    * verb: snap the table's current state back to an earlier committed
    * version as a NEW commit that re-lists the target version's
    * entries verbatim. Pure manifest metadata — ZERO data files move or
    * rewrite, because files are immutable and still on disk as long as
    * the target manifest survived vacuum (a vacuumed target fails
    * loudly rather than committing a manifest of dangling paths).
    * History is preserved: the undone versions stay time-travelable,
    * and a second RESTORE redoes them. Schema markers
    * (`schema`/`schemaJson`) come from the TARGET version — restoring
    * past an ALTER narrows the read width again, matching the restored
    * content — and `statsCol` ALSO comes from the target (the restored
    * entries' per-file bounds are stats of the column the target's
    * committer recorded); only the operational streaming watermarks
    * (epoch/batch ids) carry from the CURRENT version: a
    * streaming writer's replay detection must survive the restore, or
    * the next replayed batch would re-append and void exactly-once
    * (the Delta transaction-map rule). Restoring to the current
    * version mints no version (a no-op, like zero-match DML). CAS-
    * retried; a racing append between read and commit is superseded —
    * that is RESTORE's contract (the racer's commit stays
    * time-travelable). Returns the version after the operation. */
  /** `RESTORE TABLE ... TO TIMESTAMP AS OF <ts>` — resolve the NEWEST
    * still-present version at-or-before the instant via the commit
    * clock (in-commit timestamps when present, exactly TIMESTAMP AS
    * OF's resolution) and [[restore]] to it. Gated versions refuse
    * loudly through the clock read; a timestamp before every retained
    * commit refuses. */
  def restoreToTimestamp(root: String, tsMillis: Long): Int = {
    require(currentVersion(root) > 0,
      s"restore on $root: table has no committed version")
    val v = versionAtOrBefore(root, tsMillis)
      .getOrElse(throw new IllegalArgumentException(
        s"restore on $root: no retained commit at or before ${tsMillis}ms — " +
          "the window may have been vacuumed away"))
    restore(root, v)
  }

  def restore(root: String, toVersion: Int): Int =
    casCommit(root) { cur =>
      require(toVersion >= 1 && toVersion <= cur,
        s"snapshot restore on $root: versions run 1..$cur, no version $toVersion")
      if (toVersion == cur) cur
      else {
        if (!Files.exists(manifestPath(root, toVersion)))
          throw new IllegalStateException(s"snapshot restore on $root: version " +
            s"$toVersion was vacuumed away — its snapshot is no longer addressable")
        // every key that DESCRIBES THE RESTORED ENTRIES comes from the
        // target version: schema markers (width as of the snapshot) AND
        // statsCol — the entries' per-file [lo,hi] are bounds of the
        // column the TARGET's committer recorded; pairing them with the
        // current version's statsCol (e.g. after an OPTIMIZE that
        // re-clustered on another column) would make stats pruning read
        // ep_day bounds as user_id bounds and silently skip matching
        // files. Only the operational watermarks (streaming epoch /
        // batch ids) carry from the current version.
        // colmap too: the restored entries' physical columns resolve
        // through the mapping AS OF the target (restoring past a
        // RENAME surfaces the old logical names again, like schema)
        val fromTarget = Set("schema", "schemaJson", "widen", "statsCol", "colmap", "dv", "dvn")
        val carriedNow = carriedMeta(root, cur)
        // ACTIVE CHECK constraints carry across the restore — so the
        // restored rows must SATISFY them, or the table would
        // resurrect rows every later write path assumes were valid
        // when written (the r14 race guards exist for exactly this
        // class). One filter-pushed scan per constraint, first
        // violation refuses — the same price ADD CONSTRAINT pays;
        // a constraint-free table keeps restore zero-IO.
        val activeChecks = checksOf(carriedNow)
        if (activeChecks.nonEmpty) {
          val s = org.apache.spark.sql.SparkSession.active
          val restored = readAt(s, root, toVersion)
          activeChecks.foreach { case (n, e) =>
            val bad = checkViolations(restored, e).limit(1).collect()
            require(bad.isEmpty,
              s"snapshot restore on $root: version $toVersion holds rows " +
                s"violating the ACTIVE check constraint $n CHECK ($e): " +
                s"${bad.headOption.getOrElse("")} — ${constraintDropHint(n)}, " +
                "or restore to a version whose data satisfies it")
          }
        }
        val meta0 = (carriedNow -- fromTarget) ++
          manifestMeta(root, toVersion).filter(kv => fromTarget.contains(kv._1)) +
          ("restore" -> s"v$toVersion")
        // ROW TRACKING across a restore: a re-listed file keeps the id
        // base it had at the TARGET version, falling back to its
        // CURRENT base, and past that to ANY retained manifest that
        // still knows it (restoring past the enable commit re-lists
        // physical files that may have been rewritten away since —
        // their original bases live only in intermediate manifests;
        // bases are assigned once per rel and never change, so the
        // first hit is THE base). A rel no retained manifest knows
        // gets a fresh range — honest, and only reachable when the
        // knowing manifests were vacuumed. rowhw stays the CURRENT
        // mark, monotone by construction, so post-restore fresh ids
        // never reuse one. The materialization bits merge the same
        // way (the files themselves are immutable).
        val meta = if (!carriedNow.get("rowtracking").contains("on")) meta0
          else {
            val tgt = rowBasesOf(manifestMeta(root, toVersion))
            val curB = rowBasesOf(carriedNow)
            val tgtEntries = manifestEntries(root, toVersion)
            var missing = tgtEntries.map(_.rel)
              .filterNot(r => tgt.contains(r) || curB.contains(r)).toSet
            val dug = scala.collection.mutable.Map.empty[String, Long]
            val dugMat = scala.collection.mutable.Set.empty[String]
            var vi = cur - 1
            while (missing.nonEmpty && vi >= 1) {
              if (Files.exists(manifestPath(root, vi))) {
                val m = manifestMeta(root, vi)
                val found = rowBasesOf(m).filter(kv => missing.contains(kv._1))
                dug ++= found
                dugMat ++= rowMatOf(m).intersect(found.keySet)
                missing --= found.keySet
              }
              vi -= 1
            }
            val merged = tgtEntries.flatMap(e =>
              tgt.get(e.rel).orElse(curB.get(e.rel)).orElse(dug.get(e.rel))
                .map(e.rel -> _)).toMap
            val matMerged = (rowMatOf(manifestMeta(root, toVersion)) ++
              rowMatOf(carriedNow) ++ dugMat)
              .intersect(tgtEntries.map(_.rel).toSet)
            // the hiding colmap must survive: restoring past the
            // enable commit takes the TARGET's (absent) mapping, but a
            // tracked table without one would EXPOSE materialized
            // __row_id columns on the next rewrite — re-mint identity
            // over the target's own columns (pre-enable files carry
            // logical names; r14 review)
            val mapFix =
              if (meta0.contains("colmap")) Map.empty[String, String]
              else {
                val s2 = org.apache.spark.sql.SparkSession.active
                Map("colmap" -> fmtColMap(
                  readAtPhysical(s2, root, toVersion).columns
                    .filterNot(_ == RowIdCol).toIndexedSeq.map(c => (c, c))))
              }
            meta0 - "rowbase" - "rowmat" ++
              fmtRowBases(merged).map("rowbase" -> _) ++
              fmtRowMat(matMerged).map("rowmat" -> _) ++ mapFix
          }
        commitEntries(root, cur, manifestEntries(root, toVersion),
          shardSize = 16, meta)
      }
    }

  /** CONVERT TO SNAPSHOT (r16, Delta's `CONVERT TO DELTA`): adopt an
    * existing plain-parquet directory IN PLACE as a snapshot table —
    * ONE manifest commit referencing the resident files where they
    * sit (per-file footer stats harvested for pruning), ZERO bytes
    * move or copy. At 100 TB, migrating onto the table format is a
    * metadata operation priced by file COUNT (one footer read each) —
    * and the footer harvest runs as a SPARK JOB (r17), so the price is
    * file count over EXECUTOR parallelism, never a serial driver sweep;
    * adopted files must agree on schema (validated per footer, refused
    * loudly). From v1 on, the directory is a full citizen:
    * DML, OPTIMIZE, time travel, every read route. Flat or nested
    * layouts whose files carry every column convert; hive-style
    * `key=value` partition directories refuse LOUDLY — the partition
    * VALUES live in the paths, not the files, so adopting them would
    * silently drop a column (Delta's CONVERT demands an explicit
    * partition schema for the same reason; this format replaces
    * partitioning with clustering, so the honest answer is re-ingest
    * through a clustered write). `statsCol` empty = no pruning column
    * (rows-only sentinel entries). */
  def convertInPlace(s: SparkSession, root: String, statsCol: String = ""): Int = {
    require(currentVersion(root) == 0,
      s"convert on $root: already a snapshot table " +
        s"(version ${currentVersion(root)}) — convert adopts PLAIN parquet dirs")
    val rp = Paths.get(root).toAbsolutePath.normalize
    require(Files.isDirectory(rp), s"convert on $root: not a directory")
    val files = {
      val st = Files.walk(rp)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala
          .filter { p =>
            Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet") &&
            // Spark's hiddenFileFilter rule: '_'/'.'-prefixed paths
            // (any segment — _temporary task attempts, .staging dirs)
            // are invisible to every plain parquet reader; adopting
            // them would commit duplicate or TORN rows the directory
            // never served before conversion (r16 review)
            !rp.relativize(p).iterator().asScala.exists { seg =>
              val s0 = seg.toString; s0.startsWith("_") || s0.startsWith(".") }
          }
          .toVector
      } finally st.close()
    }
    require(files.nonEmpty,
      s"convert on $root: no *.parquet files to adopt")
    val rels = files.map(f => rp.relativize(f).toString).sorted
    rels.filter(_.split('/').exists(_.contains('='))).headOption.foreach(r =>
      throw new IllegalArgumentException(
        s"convert on $root: '$r' sits under a hive-style key=value partition " +
          "directory — its partition VALUES live in the path, not the files, " +
          "and adopting it would silently drop that column; re-ingest through " +
          "a clustered snapshot write instead"))
    if (statsCol.nonEmpty) {
      // the pruning column must exist in the resident files — a typo
      // would mint a table whose every entry is the never-pruned
      // sentinel, silently (one footer read; schema uniformity across
      // ALL files is validated by the harvest below)
      require(footerHasColumn(root, rels.head, statsCol),
        s"convert on $root: stats column $statsCol is not in the resident " +
          "files' schema")
    }
    // the footer harvest runs as a SPARK JOB, one task per slice of the
    // adopted file list: a 100 TB directory holds 10^5–10^6 files, and
    // a sequential driver-side sweep at object-store footer latency
    // (50–100 ms each) is hours of serial IO — Delta distributes
    // CONVERT TO DELTA's footer collection for exactly this reason.
    // Tasks ship back only the tiny FileEntry structs (the same rows
    // the manifest holds) plus a schema fingerprint; the commit itself
    // stays a driver-side manifest write.
    val rootAbs = rp.toString
    val key = statsCol
    val slices = math.min(rels.size,
      math.max(1, s.sparkContext.defaultParallelism))
    val harvested: Seq[(FileEntry, String)] = s.sparkContext
      .parallelize(rels, slices)
      .map(rel => footerEntryWithSchema(rootAbs, rel, key))
      .collect().toSeq
    // schema uniformity across EVERY adopted file (one fingerprint
    // comparison per footer, already in hand): a directory holding two
    // pipelines' divergent widths must refuse loudly — adopting it
    // would make the uniform read route null-fill or drop the minority
    // files' columns with no evolution marker, silently wrong (r16
    // ADVICE). The full field lists are re-read driver-side ONLY to
    // render the refusal (two footer opens, never 10^6).
    val canonical = harvested.head._2
    harvested.find(_._2 != canonical).foreach { case (e, _) =>
      throw new IllegalArgumentException(
        s"convert on $root: adopted files disagree on schema — " +
          s"${rels.head} declares [${footerFieldList(rootAbs, rels.head)}] " +
          s"but ${e.rel} declares [${footerFieldList(rootAbs, e.rel)}]; " +
          "convert adopts uniform-schema directories only; re-ingest " +
          "divergent files through a snapshot write (schema evolution)")
    }
    commitEntries(root, 0, harvested.map(_._1), 16,
      (if (statsCol.nonEmpty) Map("statsCol" -> statsCol)
       else Map.empty[String, String]) +
        ("convert" -> s"inplace:${rels.size}"))
  }

  /** SHALLOW CLONE — a zero-copy table fork (Delta's CREATE TABLE ...
    * SHALLOW CLONE): the clone's v1 manifest re-lists the source
    * version's entries as `../`-relative paths into the source
    * directory, so cloning a 100 TB table costs one manifest write and
    * NO data movement. From then on the tables diverge independently:
    * appends land files in the CLONE's directory; copy-on-write DML
    * rewrites source-pointing entries into clone-local files (the
    * source is never written); the clone's own history starts at v1
    * and time-travels normally. Vacuum on the CLONE can never reclaim
    * source files (it only deletes files inside the clone's directory);
    * vacuum on the SOURCE, however, does not know about clones — the
    * standard shallow-clone caveat: retire a source only after its
    * clones are gone or rewritten. Schema markers and statsCol carry
    * from the source version so pruning and evolved reads work
    * unchanged; streaming watermarks do NOT carry — the clone is a new
    * table and must not suppress a writer's first batches as replays. */
  def shallowClone(srcRoot: String, dstRoot: String,
      version: Option[Int] = None): Int = {
    val cur = currentVersion(srcRoot)
    require(cur > 0, s"shallow clone: source $srcRoot has no committed version")
    val v = version.getOrElse(cur)
    require(v >= 1 && v <= cur,
      s"shallow clone: $srcRoot has versions 1..$cur, no version $v")
    if (!Files.exists(manifestPath(srcRoot, v)))
      throw new IllegalStateException(s"shallow clone: version $v of $srcRoot " +
        "was vacuumed away — its snapshot is no longer addressable")
    require(currentVersion(dstRoot) == 0,
      s"shallow clone: target $dstRoot is already a committed table")
    Files.createDirectories(Paths.get(dstRoot))
    val dstAbs = Paths.get(dstRoot).toAbsolutePath.normalize
    val entries = manifestEntries(srcRoot, v).map { e =>
      val abs = Paths.get(srcRoot, e.rel).toAbsolutePath.normalize
      e.copy(rel = dstAbs.relativize(abs).toString)
    }
    // deletion vectors pair with the cloned entries: re-point BOTH the
    // data rel (key) and the sidecar rel (value) at the source dir,
    // same `../` convention as the entries themselves
    def reRel(rel: String): String =
      dstAbs.relativize(Paths.get(srcRoot, rel).toAbsolutePath.normalize).toString
    val meta = cloneCarriedMeta(manifestMeta(srcRoot, v),
      dvState(srcRoot, v), reRel) +
      ("clone" -> s"shallow:${Paths.get(srcRoot).toAbsolutePath.normalize}@v$v")
    commitEntries(dstRoot, 0, entries, shardSize = 16, meta)
  }

  /** The table state a CLONE carries — schema capture, colmap,
    * CHECK/generation/default expressions, identity, deletion vectors
    * with their ordinal counts, and row tracking (the cloned bytes
    * are the source's, so row identities carry under the re-keyed
    * rels) — with every rel-keyed value re-keyed through `mapRel`.
    * The ONE policy point both clone flavors share: a carried key
    * added here reaches shallow and deep clones alike. Tags stay with
    * the minting table (a clone renumbers history, so a carried ref
    * would resolve to the wrong snapshot). */
  private def cloneCarriedMeta(srcMeta: Map[String, String],
      dv: Map[String, String], mapRel: String => String): Map[String, String] = {
    val keep = Set("schema", "schemaJson", "widen", "statsCol", "colmap")
    val rtMeta: Map[String, String] =
      if (!srcMeta.get("rowtracking").contains("on")) Map.empty
      else Map("rowtracking" -> "on") ++
        srcMeta.get("rowhw").map("rowhw" -> _) ++
        fmtRowBases(rowBasesOf(srcMeta).map { case (r, b) => (mapRel(r), b) })
          .map("rowbase" -> _) ++
        fmtRowMat(rowMatOf(srcMeta).map(mapRel)).map("rowmat" -> _)
    srcMeta
      .filter(kv => keep.contains(kv._1) || kv._1.startsWith("check.") ||
        kv._1.startsWith("gen.") || kv._1.startsWith("default.") ||
        kv._1 == "identity" || kv._1 == "idstart") ++
      fmtDv(dv.map { case (r, d) => (mapRel(r), mapRel(d)) }).map("dv" -> _) ++
      fmtDvn(dvCountsOf(srcMeta).map { case (r, n) => (mapRel(r), n) })
        .map("dvn" -> _) ++ rtMeta
  }

  /** DEEP CLONE (Delta's spelling) — an INDEPENDENT copy of one
    * snapshot: the version's data files and DV sidecars copy into the
    * target (byte-identical, same rel names — they're UUID-tagged), a
    * fresh manifest lists them LOCALLY, and the source's lifecycle can
    * never touch the clone again — the hazard [[shallowClone]] accepts
    * (its `../` refs orphan when the source VACUUMs the cloned
    * version away; Delta's shallow clones share it) is what DEEP buys
    * off. Carries the same state a shallow clone carries (schema
    * capture, colmap, checks/gen/defaults, identity, row tracking —
    * the bytes are identical so row ids carry under the SAME rel
    * keys; stats/bytes ride inside each entry untouched). The copy
    * DISTRIBUTES as a Spark job above the same 64-file threshold as
    * commit-time footer harvesting — at 10^5 files one executor wave,
    * not a serial driver loop. Tags do not carry (refs stay with the
    * table that minted them — same rule as shallow). */
  def deepClone(s: SparkSession, srcRoot: String, dstRoot: String,
      version: Option[Int] = None): Int = {
    val cur = currentVersion(srcRoot)
    require(cur > 0, s"deep clone: source $srcRoot has no committed version")
    val v = version.getOrElse(cur)
    require(v >= 1 && v <= cur,
      s"deep clone: $srcRoot has versions 1..$cur, no version $v")
    if (!Files.exists(manifestPath(srcRoot, v)))
      throw new IllegalStateException(s"deep clone: version $v of $srcRoot " +
        "was vacuumed away — its snapshot is no longer addressable")
    require(currentVersion(dstRoot) == 0,
      s"deep clone: target $dstRoot is already a committed table")
    Files.createDirectories(Paths.get(dstRoot))
    val srcEntries = manifestEntries(srcRoot, v)
    val dv = dvState(srcRoot, v)
    // local landing name per copied rel. A plain table's rels keep
    // their names; rels that ESCAPE the root (`../...` — the source is
    // itself a shallow clone) flatten to their file name, so a deep
    // clone of a shallow clone materializes the referenced bytes
    // instead of copying dangling refs (collisions disambiguate
    // deterministically)
    val localOf: Map[String, String] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
      val used = scala.collection.mutable.Set.empty[String]
      (srcEntries.map(_.rel) ++ dv.keys ++ dv.values).distinct.foreach { rel =>
        val base = if (!rel.split('/').contains("..")) rel
          else Paths.get(rel).getFileName.toString
        var cand = base; var i = 1
        while (!used.add(cand)) { cand = s"dc${i}_$base"; i += 1 }
        m(rel) = cand
      }
      m.toMap
    }
    val srcAbs = Paths.get(srcRoot).toAbsolutePath.normalize.toString
    val dstAbs2 = Paths.get(dstRoot).toAbsolutePath.normalize.toString
    def copyOne(pair: (String, String)): Unit = {
      val to = Paths.get(dstAbs2, pair._2)
      Option(to.getParent).foreach(Files.createDirectories(_))
      Files.copy(Paths.get(srcAbs, pair._1), to,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val toCopy = localOf.toSeq
    if (toCopy.size < 64) toCopy.foreach(copyOne)
    else {
      val slices = math.min(toCopy.size,
        math.max(1, s.sparkContext.defaultParallelism))
      s.sparkContext.parallelize(toCopy, slices).foreach(copyOne)
    }
    val entries = srcEntries.map(e => e.copy(rel = localOf(e.rel)))
    val meta = cloneCarriedMeta(manifestMeta(srcRoot, v), dv,
      r => localOf.getOrElse(r, r)) +
      ("clone" -> s"deep:${Paths.get(srcRoot).toAbsolutePath.normalize}@v$v")
    commitEntries(dstRoot, 0, entries, shardSize = 16, meta)
  }

  /** A fresh name component for files, staging dirs and physical
    * column names: the FULL random UUID (122 random bits, dashes
    * stripped so it also reads as a plain identifier). A shorter
    * prefix would leave birthday collisions between two writers'
    * files in one table directory within reach at scale. */
  private[graft] def uniqueTag(): String =
    java.util.UUID.randomUUID().toString.replace("-", "")

  /** Write a DataFrame's rows as one immutable data file under root;
    * returns the root-relative path. Commit-unique names (version tag +
    * logical name) keep every file addressable by any manifest.
    * SINGLE-TASK (coalesce(1)) by construction — use it only where one
    * file per logical group is the point (x14's per-day fixture groups);
    * any data-proportional write goes through [[writeDataFiles]]. */
  private[graft] def writeDataFile(df: DataFrame, root: String, tag: String): String = {
    val scratch = Engine.tmpDir(s"graft_snaptab_scratch_$tag")
    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    val part = Engine.listDir(Paths.get(scratch))
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val rel = s"data_$tag.parquet"
    Files.move(part, Paths.get(root, rel), StandardCopyOption.REPLACE_EXISTING)
    rel
  }

  /** Write a DataFrame as one immutable data file PER TASK under root —
    * the fully distributed write every data-proportional path (streaming
    * micro-batches, OPTIMIZE rewrites, MERGE rewrites) funnels through:
    * each task streams its own partition straight to a part file, the
    * driver only renames. Returns root-relative paths in deterministic
    * order; empty partitions produce no file (FileFormatWriter creates
    * files lazily), so the result may be empty for an empty batch. */
  private[graft] def writeDataFiles(df: DataFrame, root: String, tag: String): Seq[String] = {
    val scratch = Engine.tmpDir(s"graft_snaptab_scratch_$tag")
    df.write.mode("overwrite").parquet(scratch)
    Engine.listDir(Paths.get(scratch))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
      .zipWithIndex.map { case (part, i) =>
        val rel = s"data_${tag}_$i.parquet"
        Files.move(part, Paths.get(root, rel), StandardCopyOption.REPLACE_EXISTING)
        rel
      }
  }

  /** Target rows per CDC file (the change sets are batch-sized; one
    * file per type is the common case, splitting only for very large
    * DML batches). */
  private val CdcRowsPerFile = 1000000L

  /** Write one DML commit's row-grain CHANGE DATA FEED files (Delta's
    * `_change_data` design): `cdcAll` carries the table's columns plus
    * `_change_type` ∈ {update_preimage, update_postimage, delete,
    * insert}. Each type present writes its own plain table-schema
    * parquet file(s) — the feed plans them as constant-changeType
    * partitions, so the CDF reader needs no schema change — and the
    * returned meta value (`type=rel[,rel];...`) rides the commit's
    * `cdc` key, which [[vacuum]] treats as liveness and
    * [[carriedMeta]] strips from follow-on commits. The caller
    * localCheckpoints `cdcAll` so the per-type writes scan memory, not
    * the DML's input plans. */
  private[graft] def writeCdcFiles(cdcAll: DataFrame, root: String,
      tag: String): Option[String] = {
    val ct = "_change_type"
    val counts = cdcAll.groupBy(col(ct)).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val groups = Seq("update_preimage" -> "up", "update_postimage" -> "uo",
      "delete" -> "d", "insert" -> "i").flatMap { case (ty, code) =>
      val n = counts.getOrElse(ty, 0L)
      if (n == 0) None
      else {
        val parts = math.max(1, (n / CdcRowsPerFile).toInt)
        val rels = writeDataFiles(cdcAll.filter(col(ct) === ty).drop(ct)
          .repartition(parts), root, s"cdc_${tag}_$code")
        Some(s"$ty=${rels.mkString(",")}")
      }
    }
    if (groups.isEmpty) None else Some(groups.mkString(";"))
  }

  /** Metadata a follow-on commit must carry forward from the version it
    * supersedes: dropping `statsCol` silently disables file pruning for
    * every later reader, and dropping an `epoch:<queryId>` / `last_batch`
    * watermark breaks a streaming writer's replay detection — the next
    * replayed batch would re-append, duplicating rows and voiding the
    * exactly-once guarantee. Only the superseded commit's own
    * OPERATIONAL tags (`optimize`, `merge`) describe one commit and are
    * not carried. This is the same reason Delta's transaction map
    * (appId -> version) survives every commit kind. */
  private[graft] def carriedMeta(root: String, v: Int): Map[String, String] =
    if (v == 0) Map.empty
    else manifestMeta(root, v) -- Seq("optimize", "optimize_scope", "merge",
      "update", "delete", "alter", "reorg",
      "restore", "clone", "upsert_scan", "publish",
      // `cdc` names ONE commit's change files: carrying it forward
      // would make the feed re-emit those rows at every later version
      "cdc",
      // per-commit stamps, recomputed by commitEntries — a carried
      // `cts` would freeze the table's clock at the first ICT commit
      "cts", "readerFeatures", "writerFeatures",
      // one-commit writer hint consumed by commitEntries' rowmat fold
      "rowmat_new")

  /** Bounded optimistic-commit policy for every CAS retry loop. A
    * committer that dies between its createFile claim and the content
    * move leaves a permanent zero-byte manifest claiming version v+1:
    * [[currentVersion]] rightly ignores it, so every later committer
    * recomputes the same base and loses the CAS to the corpse — an
    * unbounded spin without this. After [[StaleClaimAfterLosses]]
    * consecutive losses with NO observed version progress the committer
    * reclaims a zero-byte claim older than [[StaleClaimMinAgeMs]] (a
    * live committer fills its claim in milliseconds; the age floor is
    * deliberately long because a reclaim races a pathologically slow
    * claimant — the same residual risk Delta accepts on filesystems
    * without atomic put-if-absent). After [[MaxCommitAttempts]]
    * no-progress losses it fails loudly instead of wedging the writer. */
  private[graft] final class CommitRetry(root: String,
      sleep: Long => Unit = Thread.sleep, now: () => Long = System.currentTimeMillis) {
    private var lastSeen = -1
    private var losses = 0
    private var noProgressSince = -1L
    /** Call with the version read at the top of each attempt. */
    def observed(v: Int): Unit =
      if (v != lastSeen) { lastSeen = v; losses = 0; noProgressSince = -1L }
    /** Call on each FileAlreadyExistsException CAS loss. */
    def lost(e: java.nio.file.FileAlreadyExistsException): Unit = {
      losses += 1
      if (noProgressSince < 0) noProgressSince = now()
      if (losses >= StaleClaimAfterLosses) reclaimStaleClaim(root, lastSeen + 1)
      // fail loudly only when BOTH budgets are spent: the attempt count
      // AND enough wall-clock since the first no-progress loss for a
      // dead claim to age past the reclaim floor. The attempt counter
      // alone (~47s of cumulative backoff) expires BEFORE
      // StaleClaimMinAgeMs (60s), which would make the reclaim path
      // this class exists for unreachable when the claimant died just
      // before our first attempt — the throw must wait the floor out.
      if (losses >= MaxCommitAttempts && now() - noProgressSince > StaleClaimMinAgeMs)
        throw new IllegalStateException(
          s"snapshot commit on $root: lost the version-${lastSeen + 1} CAS $losses times " +
            s"over ${now() - noProgressSince}ms with no version progress — a wedged claim " +
            "survived reclaim; inspect _manifests", e)
      // linear backoff once losses stop looking like live contention
      // (live contention advances the version and resets the counter):
      // without this, no-progress retries burn out in milliseconds —
      // long before a slow-but-alive claimant fills its claim or a dead
      // one ages past the reclaim floor
      if (losses >= StaleClaimAfterLosses)
        sleep(math.min(50L * (losses - StaleClaimAfterLosses + 1), 1000L))
    }
  }
  /** THE optimistic-commit loop every main-manifest committer runs:
    * each attempt receives the current version, re-runs its own
    * pre-commit checks against it, and returns its result (usually the
    * version [[commitEntries]] minted, or the observed one for a
    * no-op). Only a lost manifest CAS — FileAlreadyExistsException out
    * of the attempt — retries, under [[CommitRetry]]'s bounded policy;
    * any other failure propagates. */
  private[graft] def casCommit[T](root: String)(attempt: Int => T): T = {
    val retry = new CommitRetry(root)
    while (true) {
      val v = currentVersion(root)
      retry.observed(v)
      try return attempt(v)
      catch { case e: java.nio.file.FileAlreadyExistsException => retry.lost(e) }
    }
    throw new IllegalStateException("unreachable")
  }
  private[graft] val MaxCommitAttempts = 64
  private[graft] val StaleClaimAfterLosses = 8
  private[graft] val StaleClaimMinAgeMs = 60000L

  /** Delete a zero-byte version claim that is old enough to be dead.
    * Returns whether a claim was reclaimed. */
  private[graft] def reclaimStaleClaim(root: String, v: Int): Boolean = {
    val p = manifestPath(root, v)
    try {
      Files.exists(p) && Files.size(p) == 0 &&
        System.currentTimeMillis - Files.getLastModifiedTime(p).toMillis > StaleClaimMinAgeMs &&
        Files.deleteIfExists(p)
    } catch { case _: java.nio.file.NoSuchFileException => false }
  }

  /** x14_snapshot_table — x6's nightly merge, re-run through the
    * manifest protocol: v1 commits the event log as two file groups
    * (history days, last day); v2 re-ingests the last day (value+100)
    * as a NEW file and commits a manifest that swaps B for B' while
    * history file A is shared by both versions. The returned aggregate
    * reads the LATEST snapshot; SnapshotSpec pins v1 reads (pre-merge,
    * unchanged after v2), the CAS conflict, and file immutability. */
  def x14SnapshotTable(s: SparkSession, d: String): DataFrame = {
    val root = Engine.tmpDir("graft_snap_table")
    // fresh table per run (the protocol is append-only within a run)
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    val ev = Tables.events(s, d)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .select("event_id", "user_id", "event_type", "value", "ep_day")
    val lastDay = Engine.X6LastDay
    val fileA = writeDataFile(ev.filter(col("ep_day") =!= lastDay), root, "v1_history")
    val fileB = writeDataFile(ev.filter(col("ep_day") === lastDay), root, "v1_lastday")
    // commit WITH footer-harvested ep_day stats, shardSize=1 so the
    // sharded manifest-list path (the 100 TB shape) is what the
    // correctness gate executes, not just a spec corner
    def entry(rel: String) = footerEntry(root, rel, "ep_day")
    val v1 = commitEntries(root, 0, Seq(entry(fileA), entry(fileB)), shardSize = 1)
    // re-ingested batch: the last day with value+100 — it covers the
    // whole day, so v2 swaps the day FILE (file-granular replacement,
    // the unit a manifest commit works in; row-level merge is x6's
    // window dedupe run before staging the replacement file)
    val reIngest = ev.filter(col("ep_day") === lastDay)
      .withColumn("value", col("value") + 100.0)
    val fileB2 = writeDataFile(reIngest, root, "v2_lastday")
    commitEntries(root, v1, Seq(entry(fileA), entry(fileB2)), shardSize = 1)
    read(s, root)
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("ep_day")
  }

  /** OPTIMIZE — rewrite the CURRENT snapshot into `targetFiles`
    * key-clustered data files and commit the new layout as the next
    * version (Delta's OPTIMIZE ZORDER / Iceberg's rewrite_data_files,
    * in its single-key form). `repartitionByRange` is the cluster step:
    * Spark samples the key, builds range bounds, and each output file
    * lands a tight disjoint key range — which is what turns the
    * manifest's footer stats from decoration into pruning power:
    * stats-based file skipping on an UNclustered layout prunes nothing
    * (every file's [min,max] spans the domain), on the rewritten layout
    * it prunes to the files owning the query range. Pure layout change:
    * same rows, new files, old versions still time-travelable; the
    * replaced files stay on disk until vacuum. At 100 TB this runs as
    * one sampled range shuffle over the partitions being compacted — in
    * production, applied incrementally per ingest partition, not to the
    * whole table at once. */
  def optimizeClustered(s: SparkSession, root: String, keyCol: String,
      targetFiles: Int, shardSize: Int = 4): Int = {
    val v = currentVersion(root)
    val tag = uniqueTag()
    // ROW-TRACKED tables rewrite WITH their ids: the compaction moves
    // every row, so identity survives only by materializing __row_id
    // into the new files — and the materialized mapping must then KEEP
    // an (identity) colmap entry, the mechanism that hides the id
    // column from plain reads
    val rt = v > 0 && manifestMeta(root, v).get("rowtracking").contains("on")
    val content =
      if (!rt) readAt(s, root, v)
      else readWithRowIdsAt(s, root, v).withColumnRenamed("_row_id", RowIdCol)
    val rels = writeDataFiles(
      content.repartitionByRange(targetFiles, col(keyCol)),
      root, s"opt_$tag")
    val entries = harvestEntries(s, root, rels, keyCol)
    val rtMeta = if (!rt) Map.empty[String, String]
      else Map("colmap" -> fmtColMap(
        content.columns.filterNot(_ == RowIdCol).toIndexedSeq.map(c => (c, c))))
    // carry watermarks/statsCol forward (see carriedMeta) minus `schema`:
    // a full rewrite reads the merged schema and writes uniform-width
    // files, so the evolution marker no longer describes the new layout;
    // the new files' stats are on keyCol, so statsCol is re-pointed at
    // it. `colmap` drops too: the rewrite read the LOGICAL view, so the
    // new files carry logical names — OPTIMIZE MATERIALIZES the column
    // mapping (renames become the storage names, dropped columns
    // physically disappear), the compaction-time cleanup Delta's
    // REORG TABLE ... APPLY (PURGE) performs
    commitEntries(root, v, entries, shardSize,
      carriedMeta(root, v) - "schema" - "schemaJson" - "colmap" - "dv" - "dvn" - "widen" ++
        rtMeta ++
        (if (rt) Map("rowmat_new" -> entries.map(_.rel).mkString(";")) else Map.empty) ++
        Map("optimize" -> s"clustered:$keyCol", "statsCol" -> keyCol))
  }

  /** SCOPED OPTIMIZE — compact ONLY the files whose key range
    * intersects [lo, hi] (Delta's `OPTIMIZE t WHERE <partition
    * predicate>`): the incremental, per-ingest-window compaction a
    * 100 TB table actually runs nightly — the whole-table form above
    * is a one-off migration job at that size. File-granular (the unit
    * a manifest works in): every intersecting file is rewritten whole
    * into `targetFiles` range-clustered replacements, everything else
    * carries by reference with its stats.
    *
    * A PARTIAL rewrite, so it follows the merge/update discipline,
    * NOT the full form's: evolution markers, column mapping and
    * untouched files' deletion vectors all survive (only the compacted
    * files' vectors are applied and retired), the rewrite works in the
    * PHYSICAL namespace (no materialization), and the replacement
    * files conform their parquet repetition to the compacted files'
    * own. Commits through [[commitRewrite]] — re-bases over racing
    * appends, aborts loudly on rewrite/DV/constraint conflicts. The
    * scope column must be the table's stats column (pruning IS the
    * scope). Zero intersecting files → no-op. */
  def optimizeClusteredWhere(s: SparkSession, root: String, keyCol: String,
      lo: Long, hi: Long, targetFiles: Int, shardSize: Int = 4): Int = {
    val v = currentVersion(root)
    require(v > 0, s"scoped optimize on $root: table has no committed version")
    val carried = carriedMeta(root, v)
    val map = colMap(root, v)
    // a table with NO stats column has only sentinel (never-pruned)
    // entries: "scoped" would silently rewrite 100% of the table while
    // stamping a window — refuse loudly, the full form is the honest
    // verb there (r14 review)
    require(carried.contains("statsCol"),
      s"scoped optimize on $root: the table carries no stats column, so a " +
        "WHERE window cannot prune — run the unscoped OPTIMIZE (which also " +
        "establishes statsCol), or commit entries with footer stats first")
    val statsPhys = carried("statsCol")
    require(statsPhys == physicalName(map, keyCol),
      s"scoped optimize on $root: WHERE scopes by $keyCol but the manifest's " +
        s"stats column is $statsPhys — the scope prunes by the primary stats")
    val touched = prunedEntries(root, v, lo, hi)
    if (touched.isEmpty) return v
    val tag = uniqueTag()
    // physical-namespace rewrite: DV-applied content, same columns the
    // files already carry (dropped physicals ride along untouched;
    // row-tracked tables read WITH ids so the compacted files keep
    // their rows' identities materialized)
    val content = readFiles(s, root, v, touched,
      rowIds = carried.get("rowtracking").contains("on"))
    val rels = writeDataFiles(
      conformNullability(content, fileNullability(root, touched.head.rel))
        .repartitionByRange(math.max(1, targetFiles), col(statsPhys)),
      root, s"optw_$tag")
    val newEntries = harvestEntries(s, root, rels, statsPhys).filter(_.rows > 0)
    // commitRewrite stamps `optimize -> cow:NofM`; the scope detail
    // rides its own one-commit audit key (stripped by carriedMeta)
    commitRewrite(root, v, touched.map(_.rel).toSet, newEntries, shardSize,
      "optimize",
      extraMeta = Map("optimize_scope" -> s"$keyCol:[$lo,$hi]") ++
        (if (carried.get("rowtracking").contains("on"))
          Map("rowmat_new" -> newEntries.map(_.rel).mkString(";")) else Map.empty))
  }

  /** REORG ... APPLY (PURGE) — Delta's targeted deletion-vector
    * cleanup verb (`REORG TABLE t APPLY (PURGE)`): rewrite ONLY the
    * files carrying DV sidecars, applying their vectors, and carry
    * every clean file by reference, byte-untouched. OPTIMIZE also
    * purges, but rewrites the WHOLE table; at 100 TB a table whose
    * sparse compliance deletes dirtied 0.1% of its files pays for the
    * DIRT, not the table. A PARTIAL rewrite, so it follows the
    * merge/update discipline, not OPTIMIZE's: it works in the PHYSICAL
    * namespace (column mapping survives; dropped mapped fields ride
    * along under their storage names — materializing the mapping away
    * stays OPTIMIZE's job), evolution markers survive, the replacement
    * files conform their parquet repetition to the purged files' own,
    * and row-tracked tables materialize the purged rows' inherited
    * ids so identity survives the move. Commits through
    * [[commitRewrite]] — re-bases over racing appends, aborts loudly
    * on rewrite/DV/constraint conflicts. The change feed sees NOTHING:
    * a purged row was already deleted at the prior version, so
    * [[changesBetween]]'s multiset diff cancels exactly (ReorgSpec
    * pins feed invisibility and the untouched files' bytes). A
    * DV-free table is a version-unchanged no-op with zero IO. */
  def reorgPurge(s: SparkSession, root: String, shardSize: Int = 4): Int = {
    val v = currentVersion(root)
    require(v > 0, s"REORG on $root: table has no committed version")
    val dv = dvState(root, v)
    if (dv.isEmpty) return v
    val carried = carriedMeta(root, v)
    val touched = manifestEntries(root, v).filter(e => dv.contains(e.rel))
    val tag = uniqueTag()
    val rowTracked = carried.get("rowtracking").contains("on")
    val content = readFiles(s, root, v, touched, rowIds = rowTracked)
    // keep the table's clustering: survivors re-range on the stats
    // column so the replacements stay prunable; a stats-less table
    // ranges on its first column (harvest then yields sentinel stats,
    // same as its existing entries)
    val statsPhys = carried.getOrElse("statsCol",
      content.columns.filterNot(_ == RowIdCol).head)
    val rels = writeDataFiles(
      conformNullability(content, fileNullability(root, touched.head.rel))
        .repartitionByRange(rewriteParts(s, touched), col(statsPhys)),
      root, s"rg_$tag")
    val newEntries = harvestEntries(s, root, rels, statsPhys).filter(_.rows > 0)
    commitRewrite(root, v, touched.map(_.rel).toSet, newEntries, shardSize,
      "reorg",
      extraMeta =
        if (rowTracked) Map("rowmat_new" -> newEntries.map(_.rel).mkString(";"))
        else Map.empty,
      emptySchemaJson = Some(allNullableJson(readAtPhysical(s, root, v).schema)))
  }

  /** MERGE — apply a keyed changeset to the table copy-on-write, the
    * row-level counterpart of commit-level file swaps (Delta's MERGE
    * INTO on a clustered table). `changes` carries the table's columns
    * plus `op`: `u` (update: replace the row with this id), `d`
    * (delete: remove it), `i` (insert: add it; ids must be new — this
    * is the caller-labeled upsert contract, not a match-discovering
    * merge). The stats manifest makes it cheap: the changeset's
    * [min,max] on the CLUSTER column prunes to the files that can
    * contain touched rows; only those are read, anti-joined on the id,
    * unioned with the upserts, and rewritten — every other file entry
    * is carried into the new manifest untouched. At 100 TB a merge
    * touching one ingest day shuffles that day's files plus the
    * changeset, never the table; the anti-join broadcasts when the
    * changeset is small (the common CDC case).
    *
    * `baseVersion` (when >= 0) pins the optimistic-concurrency base: the
    * commit CASes version baseVersion+1, so a caller whose changeset was
    * COMPUTED from a read of baseVersion (a read-modify-write like the
    * streaming upsert sink) gets a `FileAlreadyExistsException` instead
    * of a silent lost update when another writer committed in between —
    * re-read and retry. The default (-1) reads the current version, the
    * right contract when `changes` doesn't depend on table state.
    *
    * `changes` is evaluated exactly ONCE (materialized up front): the
    * bounds that prune files, the keyed anti-join, the upserts, the
    * range sampler and the rewrite all read the same rows — never a
    * re-run of the caller's plan (an ANSI MERGE's discovery join, a
    * day's feature aggregation and model scoring). The cluster-key
    * bounds and the row count are taken while the job that
    * materializes it runs, not by an aggregate job of their own. An
    * empty changeset commits nothing and returns the base version. */
  def merge(s: SparkSession, root: String, clusterCol: String, idCol: String,
      changes: DataFrame, shardSize: Int = 4,
      extraMeta: Map[String, String] = Map.empty, baseVersion: Int = -1): Int = {
    val bounds = new KeyBounds
    s.sparkContext.register(bounds, "merge_bounds")
    // a nondeterministic always-true filter: evaluated once per row, in
    // the checkpoint job's result stage, whose task updates count once
    val tap = udf { (k: java.lang.Long) => bounds.add(k); true }.asNondeterministic()
    val rows = changes.filter(tap(col(clusterCol))).localCheckpoint(true)
    mergeRows(s, root, clusterCol, idCol, rows, bounds, shardSize, extraMeta, baseVersion)
  }

  /** (min, max) of the non-null keys added, and the count of all. */
  private final class KeyBounds
      extends org.apache.spark.util.AccumulatorV2[java.lang.Long, (Long, Long, Long)] {
    private var lo = Long.MaxValue
    private var hi = Long.MinValue
    private var n = 0L
    def isZero: Boolean = n == 0L
    def copy(): KeyBounds = { val c = new KeyBounds; c.merge(this); c }
    def reset(): Unit = { lo = Long.MaxValue; hi = Long.MinValue; n = 0L }
    def add(k: java.lang.Long): Unit = {
      n += 1
      if (k != null) { lo = math.min(lo, k); hi = math.max(hi, k) }
    }
    def merge(o: org.apache.spark.util.AccumulatorV2[java.lang.Long, (Long, Long, Long)]): Unit =
      o match {
        case b: KeyBounds => n += b.n; lo = math.min(lo, b.lo); hi = math.max(hi, b.hi)
      }
    def value: (Long, Long, Long) = (lo, hi, n)
  }

  /** [[merge]] over a MATERIALIZED changeset and the [[KeyBounds]] of
    * its `clusterCol`. */
  private def mergeRows(s: SparkSession, root: String, clusterCol: String,
      idCol: String, changes: DataFrame, bounds: KeyBounds, shardSize: Int,
      extraMeta: Map[String, String], baseVersion: Int): Int = {
    val v = if (baseVersion >= 0) baseVersion else currentVersion(root)
    val carried = carriedMeta(root, v)
    val map = colMap(root, v)
    // column-mapped tables join the merge envelope RENAME-ONLY: a
    // dropped physical still resident in the files cannot ride the
    // keyed union (whose contract is the changeset's logical columns)
    // without silently widening rewritten files — materialize first
    map.foreach { m =>
      val physSchema = readAtPhysical(s, root, v).schema
      val resident = physSchema.fieldNames
      // __row_id is the ROW-TRACKING materialization column, not a
      // dropped user column — the keyed rewrite threads it explicitly
      val unmapped = resident.filterNot(c => m.exists(_._2 == c) || c == RowIdCol)
      require(unmapped.isEmpty,
        s"merge on $root: table carries dropped columns (${unmapped.mkString(",")}) " +
          "under column mapping — OPTIMIZE ... CLUSTER BY to materialize the " +
          "mapping before merging")
      // same rule for dropped struct FIELDS at any depth: the merge
      // rewrite speaks the changeset's LOGICAL columns (toLogical, no
      // ride-along), so a resident physical field no mapping entry
      // covers would be silently stripped from rewritten files —
      // inner widths diverging without the evolution marker, the
      // exact hazard the top-level refusal exists for
      def droppedWithin(node: ColNode,
          st: org.apache.spark.sql.types.StructType, at: String): Seq[String] =
        node.children.toSeq.flatMap { case (l, child) =>
          val p = node.physicalOf(l)
          if (!st.fieldNames.contains(p) ||
              !st(p).dataType.isInstanceOf[org.apache.spark.sql.types.StructType]) Nil
          else {
            val cst = st(p).dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
            val direct = cst.fieldNames.toSeq
              .filterNot(fp => child.fields.exists(_._2 == fp))
              .map(fp => s"$at$l.$fp")
            direct ++ droppedWithin(child, cst, s"$at$l.")
          }
        }
      val droppedFields = droppedWithin(parseColTree(m), physSchema, "")
      require(droppedFields.isEmpty,
        s"merge on $root: table carries dropped struct fields " +
          s"(${droppedFields.mkString(",")}) under nested column mapping — " +
          "OPTIMIZE ... CLUSTER BY to materialize the mapping before merging")
    }
    // the file-pruning step below trusts the manifest's primary stats to
    // BE clusterCol stats — a mismatched statsCol would prune files that
    // do contain touched rows (silent lost updates), so refuse instead.
    // clusterCol is a LOGICAL name; the manifest's statsCol is physical.
    carried.get("statsCol").foreach(c => require(c == physicalName(map, clusterCol),
      s"merge on $root: clusterCol=$clusterCol but the table's statsCol=$c — " +
        "merge pruning runs on the manifest's primary stats column"))
    val (qlo, qhi, n) = bounds.value
    if (n == 0L) return v // nothing to apply: no commit
    require(qlo <= qhi, s"merge on $root: $clusterCol is null on every changeset row")
    val affected = prunedEntries(root, v, qlo, qhi)
    val affectedSet = affected.map(_.rel).toSet
    val untouched = manifestEntries(root, v).filterNot(e => affectedSet(e.rel))
    // the changeset's columns (minus op) ARE the table contract — the
    // scaladoc requires callers to carry the table's columns. Project
    // BOTH legs to them: a narrow-files-only affected subset of an
    // evolved table must null-fill the evolved columns (typed nulls)
    // rather than strip them from the caller's upserts, and a changeset
    // narrower than the files it touches must fail loudly, not drop a
    // column from surviving rows.
    val cols = changes.columns.filterNot(_ == "op").toIndexedSeq
    // row-tracked tables read the affected files WITH ids once; the
    // logical contract view below derives from it (toLogical hides the
    // unmapped __row_id), and the keyed rewrite threads the ids
    val rowTracked = carried.get("rowtracking").contains("on")
    require(!changes.columns.exists(_.equalsIgnoreCase(RowIdCol)),
      s"merge on $root: the changeset may not carry $RowIdCol — row ids are " +
        "assigned by the engine (updates inherit, inserts mint fresh)")
    carried.get("identity").foreach(ic =>
      require(!changes.columns.exists(_.equalsIgnoreCase(ic)),
        s"merge on $root: column $ic is GENERATED ALWAYS AS IDENTITY — the " +
          "changeset may not carry it (updates inherit, inserts mint fresh)"))
    val oldPhysIds: Option[DataFrame] =
      if (rowTracked && affected.nonEmpty)
        Some(readFiles(s, root, v, affected, rowIds = true).localCheckpoint(false))
      else None
    val old0 =
      // a changeset of only NEW keys can prune to zero files (growth
      // batches in the streaming upsert sink): valid — nothing to
      // rewrite, the upserts are the whole new file set
      if (affected.isEmpty) changes.select(cols.map(col): _*).filter(lit(false))
      // the affected read converts to the LOGICAL view (identity on
      // unmapped tables): everything downstream — requires, null-fill,
      // the keyed union, CDC images — speaks the changeset's names.
      // Deletion vectors apply inside the read, so a rewrite of a
      // DV'd file can never resurrect its deleted rows.
      else toLogical(oldPhysIds.getOrElse(readFiles(s, root, v, affected)), map)
    require(old0.columns.forall(cols.contains),
      s"merge on $root: changeset lacks table columns " +
        s"${old0.columns.filterNot(cols.contains).mkString(",")} — a merge must carry " +
        "the table's full (union) schema or surviving rows would lose them")
    val old = cols.foldLeft(old0)((df, c) =>
        if (df.columns.contains(c)) df
        else df.withColumn(c, lit(null).cast(changes.schema(c).dataType)))
      .select(cols.map(col): _*)
    // the mirror-image hazard (ADVICE r10): a changeset WIDER than the
    // table writes wide rewritten files next to narrow untouched ones —
    // exactly the mixed-width layout the `schema` marker exists to
    // flag, and without the marker readers sample one footer and
    // silently drop or null the new column. The table's exact union
    // column list is knowable without a footer sweep when a prior
    // widening CAPTURED it (`schemaJson`) or the table is unevolved
    // (uniform files: the affected read — or, for a prune-to-zero
    // insert batch, one untouched footer — IS the schema); an evolved
    // table with no capture reads under mergeSchema and its union
    // cannot be known from the affected subset alone, so no capture is
    // attempted there (the mergeSchema fallback stays correct).
    val unionKnown = carried.contains("schemaJson") || !carried.contains("schema")
    val priorStruct: Option[org.apache.spark.sql.types.StructType] =
      if (!unionKnown || untouched.isEmpty) None
      else if (carried.contains("schemaJson"))
        Some(org.apache.spark.sql.types.DataType.fromJson(carried("schemaJson"))
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      else if (affected.nonEmpty) Some(old0.schema)
      else Some(readFiles(s, root, v, untouched.take(1)).schema)
    // priorStruct names are PHYSICAL (captures describe files) —
    // translate for the comparison against the changeset's logical cols
    val tableColsOrdered: Seq[String] =
      priorStruct.map(_.fieldNames.toIndexedSeq.map(p => logicalName(map, p)))
        .getOrElse(cols)
    val addedCols: Seq[String] =
      if (!unionKnown || untouched.isEmpty) Nil
      else cols.filterNot(tableColsOrdered.contains)
    require(map.isEmpty || addedCols.isEmpty,
      s"merge on $root: cannot widen a column-mapped table through merge " +
        s"(+${addedCols.mkString(",")}) — ALTER TABLE ADD COLUMN first, then merge")
    // capture the post-merge union in the commit (Delta's
    // schema-in-the-log): union-ordered (table columns first, additions
    // after), all-nullable — evolution gaps surface null from any file.
    // A changeset that WIDENS the table while MISSING existing columns
    // is refused outright: committing it would either strand the stale
    // capture (hiding the new column from explicit reads) or strand the
    // missing one — for pruned-to-zero insert batches this is the only
    // guard, since the old0 require above is vacuous there.
    val unionJson: Option[String] =
      if (addedCols.isEmpty) None
      else {
        require(tableColsOrdered.forall(cols.contains),
          s"merge on $root: changeset widens the table (+${addedCols.mkString(",")}) " +
            s"but lacks existing columns ${tableColsOrdered.filterNot(cols.contains).mkString(",")} — " +
            "a widening merge must carry the full union schema")
        // existing columns keep the TABLE's types in the capture, and a
        // changeset that disagrees is refused (ADVICE r11): freezing the
        // changeset's type (e.g. int where the files hold long) would
        // make later explicit-schema reads misdecode old files, while
        // silently writing the union's widened type under the
        // changeset's declared one strands the capture the other way.
        val prior = priorStruct.get
        tableColsOrdered.foreach { n =>
          require(changes.schema(n).dataType == prior(n).dataType,
            s"merge on $root: changeset column $n is ${changes.schema(n).dataType} " +
              s"but the table holds ${prior(n).dataType} — a widening merge must " +
              "match existing column types exactly")
        }
        Some(org.apache.spark.sql.types.StructType(
          (tableColsOrdered.map(n => prior(n).copy(nullable = true)) ++
            addedCols.map(n => changes.schema(n).copy(nullable = true))).toArray).json)
      }
    val dropIds = changes.filter(col("op") =!= "i").select(col(idCol))
    // CHECK constraints verify the rows this merge INTRODUCES (the
    // survivors were valid when written) — in-pipeline, no extra pass
    val upserts = enforceChecks(
      changes.filter(col("op") =!= "d").select(cols.map(col): _*),
      checksOf(carried), s"MERGE on $root")
    // ROW TRACKING through the keyed rewrite: kept rows carry their own
    // ids, an upsert of an EXISTING key INHERITS the id of the row it
    // replaces (min over key duplicates — the keyed-merge collapse
    // contract), and a new key's NULL id resolves to base + position
    // at read (a genuinely new row gets a fresh identity).
    val rewritten = oldPhysIds match {
      case None => old.join(dropIds, Seq(idCol), "left_anti").unionByName(upserts)
      case Some(p) =>
        // the logical view of the id-carrying read is toLogical's —
        // the ONE seam — with an identity entry appended so the hidden
        // id column survives the unmapped-physical drop (r14 review F7
        // retired: this leg used to re-derive the view inline)
        val owi0 = toLogical(p, map.map(_ :+ (RowIdCol -> RowIdCol)))
        val owi = cols.foldLeft(owi0)((df, c) =>
          if (df.columns.contains(c)) df
          else df.withColumn(c, lit(null).cast(changes.schema(c).dataType)))
          .select((cols.map(col) :+ col(RowIdCol)): _*)
        val idsByKey = owi.groupBy(col(idCol)).agg(min(col(RowIdCol)).as(RowIdCol))
        owi.join(dropIds, Seq(idCol), "left_anti")
          .unionByName(upserts.join(idsByKey, Seq(idCol), "left"))
    }
    val tag = uniqueTag()
    // Row-grain CHANGE DATA FEED (Delta's _change_data design): when
    // the table opts in (`cdf=row` meta, carried forward like
    // statsCol), the merge emits its row-level change images as CDC
    // files registered on THIS commit — computed here, where both
    // images are already in hand, so feed PLANNING stays pure manifest
    // arithmetic and a consumer sees update_preimage/update_postimage
    // for genuinely updated rows instead of the file-grain carried-row
    // delete+insert pairs. preimages/delete rows come from the
    // AFFECTED-FILE read (authoritative old values — a changeset's 'd'
    // row may carry synthesized values), post/insert from the
    // changeset. Cost: one checkpoint + write of O(changed rows) per
    // merge — batch-proportional, never O(table). Tables without the
    // flag keep the zero-cost file-grain contract.
    val cdcMeta: Option[String] =
      if (!carried.get("cdf").contains("row")) None
      else {
        val ct = "_change_type"
        // a direct-API caller may pass op='u' for an id the table does
        // NOT hold (upsert-style; ansiMerge can never emit this): the
        // signed file-grain folds stay right either way, but a
        // row-identity consumer must see INSERT, not an unpaired
        // update_postimage — classify 'u' rows against the affected
        // read's ids (ADVICE r13). Within merge's cluster-column
        // contract every existing changed id is IN the affected read,
        // so absence there is absence from the table.
        val oldIds = old.select(col(idCol))
        val updRows = changes.filter(col("op") === "u")
        val updPresent = updRows.join(oldIds, Seq(idCol), "left_semi")
        val updAbsent = updRows.join(oldIds, Seq(idCol), "left_anti")
        val updIds = updPresent.select(col(idCol))
        val delIds = changes.filter(col("op") === "d").select(col(idCol))
        val cdcAll = old.join(updIds, Seq(idCol), "left_semi")
            .withColumn(ct, lit("update_preimage"))
          .unionByName(updPresent
            .select(cols.map(col): _*).withColumn(ct, lit("update_postimage")))
          .unionByName(old.join(delIds, Seq(idCol), "left_semi")
            .withColumn(ct, lit("delete")))
          .unionByName(changes.filter(col("op") === "i")
            .select(cols.map(col): _*)
            .unionByName(updAbsent.select(cols.map(col): _*))
            .withColumn(ct, lit("insert")))
          .localCheckpoint(true)
        writeCdcFiles(toPhysical(cdcAll, map), root, tag)
      }
    val rewrittenPhys = toPhysical(rewritten, map)
    // partial rewrites keep the affected files' parquet repetition
    // (see conformNullability); a prune-to-zero insert batch has no
    // sibling contract to conform to
    val rewrittenConf =
      if (affected.isEmpty) rewrittenPhys
      else conformNullability(rewrittenPhys, fileNullability(root, affected.head.rel))
    val rels = writeDataFiles(
      rewrittenConf
        .repartitionByRange(math.max(affected.size, 1),
          col(physicalName(map, clusterCol))),
      root, s"m_$tag")
    val newEntries = harvestEntries(s, root, rels, physicalName(map, clusterCol))
    // watermarks/statsCol/schema survive a merge (carriedMeta); `schema`
    // stays because untouched files keep their pre-evolution width, is
    // SET when this merge itself widened the table (addedCols above),
    // and the captured union (`schemaJson`) is refreshed so explicit
    // reads see the widened schema instead of a stale capture. A merge
    // that rewrote EVERY file (untouched.isEmpty) leaves uniform files
    // at the changeset's width, so both evolution markers are DROPPED
    // (mirroring the optimize/zorder full-rewrite paths) — carrying a
    // stale narrower schemaJson forward would make explicit-schema
    // reads silently hide any column this rewrite added (ADVICE r11).
    val baseMeta0 = if (untouched.isEmpty) carried - "schema" - "schemaJson" - "widen" else carried
    // affected files are REPLACED: their deletion vectors are applied
    // by the rewrite and must not survive to haunt the new files
    val dvLeft = dvState(root, v) -- affectedSet
    val dvnLeft = dvCountsOf(manifestMeta(root, v)).filter(kv => dvLeft.contains(kv._1))
    val baseMeta = baseMeta0 - "dv" - "dvn" ++ fmtDv(dvLeft).map("dv" -> _) ++
      fmtDvn(dvnLeft).map("dvn" -> _)
    commitEntries(root, v, untouched ++ newEntries, shardSize,
      baseMeta ++ extraMeta ++
        (if (addedCols.nonEmpty) Map("schema" -> s"evolved:+${addedCols.mkString(",")}")
         else Map.empty) ++
        unionJson.map("schemaJson" -> _) ++
        cdcMeta.map("cdc" -> _) ++
        // the rewritten files carry materialized ids exactly when the
        // id-threading branch ran (a prune-to-zero insert batch writes
        // positional files)
        (if (oldPhysIds.nonEmpty)
          Map("rowmat_new" -> newEntries.map(_.rel).mkString(";")) else Map.empty) +
        ("merge" -> s"cow:$idCol:${affected.size}of${untouched.size + affected.size}"))
  }

  /** One WHEN clause of an ANSI MERGE statement (parsed by
    * [[graft.sources.SnapshotSql]]). Conditions and SET right-hand
    * sides are SQL expression strings over the statement's target and
    * source aliases. */
  sealed trait MergeWhen
  case class WhenMatchedUpdate(cond: Option[String],
      sets: Seq[(String, String)]) extends MergeWhen
  case class WhenMatchedDelete(cond: Option[String]) extends MergeWhen
  case class WhenNotMatchedInsert(cond: Option[String] = None) extends MergeWhen
  // the sync-style third family (Delta/ANSI `WHEN NOT MATCHED BY
  // SOURCE`): target rows with NO source match. Conditions and SET
  // right-hand sides may reference TARGET columns only — there is no
  // source row; an `s.`-qualified reference fails analysis loudly.
  case class WhenNotMatchedBySourceUpdate(cond: Option[String],
      sets: Seq[(String, String)]) extends MergeWhen
  case class WhenNotMatchedBySourceDelete(cond: Option[String]) extends MergeWhen

  /** ANSI-spelling MERGE — the standard `MERGE INTO t USING s ON ...
    * WHEN MATCHED THEN UPDATE / DELETE, WHEN NOT MATCHED THEN INSERT *`
    * a Delta-habituated user types verbatim ([[merge]] is the
    * caller-labeled changeset primitive underneath). This route
    * DISCOVERS the ops: one join of the source against the current
    * snapshot classifies each source row (first-match-wins across the
    * written clause order, Delta's semantics; a clause with no AND makes
    * later matched clauses unreachable), compiles the result into the
    * op-labeled changeset, and hands it to [[merge]] — so the rewrite
    * stays stats-pruned to touched files and the commit CASes the
    * version the discovery read (a racing APPEND triggers a re-discover
    * retry under [[casCommit]]'s policy, never a lost update; a racing
    * rewrite aborts loudly inside merge's conflict check). The
    * discovery join is the price of match-finding (Delta's phase 1
    * pays the same scan); at 100 TB it broadcasts the source when
    * small, and the REWRITE — the expensive half — still touches only
    * files whose stats admit a changed key.
    *
    * Envelope (refused loudly outside it): ON is one equi-condition
    * `t.<col> = s.<col>`; a target row matched by multiple source rows
    * errors (ANSI's nondeterminism rule); INSERT * requires the source
    * to carry every target column; SET names unqualified target
    * columns, right-hand sides reference `t.`/`s.`-qualified columns.
    * `WHEN NOT MATCHED BY SOURCE THEN UPDATE/DELETE` (the sync family)
    * addresses target rows with no source match: conditions and SETs
    * there are target-only (an `s.` reference fails analysis — no
    * source row exists), and the clause family runs first-match-wins
    * among itself, disjoint from the matched clauses' row set. A full
    * table sync (`WHEN NOT MATCHED BY SOURCE THEN DELETE` with no
    * condition) legitimately touches every file holding an unmatched
    * row — bound the clause with a cluster-column condition when the
    * sync scope is known, and pruning confines the rewrite. */
  def ansiMerge(s: SparkSession, root: String, tgtAlias: String,
      srcTable: String, srcAlias: String, onTgtCol: String, onSrcCol: String,
      clauses: Seq[MergeWhen], autoMerge: Boolean = false): Int = {
    require(clauses.nonEmpty, s"ansi merge on $root: no WHEN clauses")
    require(tgtAlias != srcAlias,
      s"ansi merge on $root: target and source aliases must differ")
    require(clauses.count(_.isInstanceOf[WhenMatchedUpdate]) <= 1 &&
      clauses.count(_.isInstanceOf[WhenMatchedDelete]) <= 1 &&
      clauses.count(_.isInstanceOf[WhenNotMatchedInsert]) <= 1 &&
      clauses.count(_.isInstanceOf[WhenNotMatchedBySourceUpdate]) <= 1 &&
      clauses.count(_.isInstanceOf[WhenNotMatchedBySourceDelete]) <= 1,
      s"ansi merge on $root: at most one clause of each kind")
    // each attempt is the whole discovery against the version it is
    // handed plus the merge pinned to it: a racer that commits after
    // discovery loses this attempt its CAS, and the next re-discovers
    casCommit(root) { v =>
      require(v > 0, s"ansi merge on $root: table has no committed version")
      val tgtPlain0 = readAt(s, root, v)
      // an IDENTITY column is engine-owned and OUTSIDE the merge
      // contract: updates inherit ids and inserts mint fresh through
      // the keyed rewrite, so the clauses never read or write it
      val identOpt = identityCol(root, v)
      val tgtPlain = identOpt.fold(tgtPlain0)(tgtPlain0.drop(_))
      val tCols = tgtPlain.columns.toIndexedSeq
      require(tCols.contains(onTgtCol),
        s"ansi merge on $root: ON column $onTgtCol is not a target column")
      val tgt = tgtPlain.alias(tgtAlias)
      val srcPlain = s.table(srcTable)
      identOpt.foreach(ic => require(!srcPlain.columns.exists(_.equalsIgnoreCase(ic)),
        s"ansi merge on $root: column $ic is GENERATED ALWAYS AS IDENTITY — " +
          "the source may not carry it (updates inherit, inserts mint fresh)"))
      require(srcPlain.columns.contains(onSrcCol),
        s"ansi merge on $root: ON column $onSrcCol is not a source column")
      val src = srcPlain.alias(srcAlias)
      val onCond = col(s"$tgtAlias.$onTgtCol") === col(s"$srcAlias.$onSrcCol")
      // SCHEMA EVOLUTION (Delta's autoMerge, spelled `MERGE WITH SCHEMA
      // EVOLUTION` on the SQL route): source columns absent from the
      // target WIDEN it — but only the columns the statement actually
      // consumes (an INSERT * ingests every source column; an UPDATE
      // SET may name one), never a column no clause touches. The
      // widened changeset rides [[merge]]'s existing capture machinery
      // (x30): existing rows surface NULL for the new columns, the
      // commit stamps the evolution marker + all-nullable union
      // capture, and untouched files stay byte-identical. Without the
      // option, INSERT * expands to the TARGET's columns (ANSI
      // semantics — extra source columns serve conditions and SETs)
      // and SET on an unknown column refuses, naming the spelling
      // when the source could supply it.
      val novelAll: Seq[String] = srcPlain.columns
        .filterNot(c => tCols.exists(_.equalsIgnoreCase(c))).toIndexedSeq
      val novel: Seq[String] =
        if (!autoMerge) Nil
        else {
          val fromInsert =
            if (clauses.exists(_.isInstanceOf[WhenNotMatchedInsert])) novelAll else Nil
          // a SET may spell the source column with different case —
          // canonicalize to the SOURCE schema's spelling before
          // building the novel list, so the case-sensitive lookups
          // downstream (novelType's schema access, novelTgt's setMap)
          // all agree, and `.distinct` cannot keep case-variant
          // duplicates of one column (ADVICE r15)
          val fromSets = clauses.flatMap {
            case WhenMatchedUpdate(_, sets) => sets.map(_._1)
            case WhenNotMatchedBySourceUpdate(_, sets) => sets.map(_._1)
            case _ => Nil
          }.flatMap(c => novelAll.find(_.equalsIgnoreCase(c)))
          (fromInsert ++ fromSets).distinct
        }
      novel.foreach(c => validateIdent(root, "ansi merge (schema evolution)", c))
      def novelType(c: String) = srcPlain.schema(c).dataType
      val matched = tgt.join(src, onCond, "inner")
      // ANSI's nondeterminism rule applies only when a MATCHED clause
      // exists, and distinguishes the two duplicate cases: multiple
      // SOURCE rows hitting one target row (refused — pre-aggregate the
      // source), and duplicate keys in the TARGET itself (refused —
      // the changeset merge replaces BY KEY, so updating one of two
      // duplicate target rows would silently collapse them). Both
      // checks are bounded: keys first semi-join against the other
      // side, so the aggregates run over matched keys only.
      val hasMatchedClause = clauses.exists {
        case _: WhenMatchedUpdate | _: WhenMatchedDelete => true
        case _ => false
      }
      val hasNmbsClause = clauses.exists {
        case _: WhenNotMatchedBySourceUpdate | _: WhenNotMatchedBySourceDelete => true
        case _ => false
      }
      val tgtKeys = tgtPlain.select(col(onTgtCol).as("__mk"))
      val srcKeys = srcPlain.select(col(onSrcCol).as("__mk"))
      if (hasMatchedClause) {
        val dupSrc = srcKeys.groupBy("__mk").count().filter(col("count") > 1)
          .join(tgtKeys.distinct(), Seq("__mk"), "left_semi").limit(1).collect()
        require(dupSrc.isEmpty, s"ansi merge on $root: target key " +
          s"${dupSrc.headOption.map(_.get(0)).getOrElse("")} is matched by multiple " +
          "source rows — MERGE requires at most one source match per target row " +
          "(pre-aggregate the source)")
        val dupTgt = tgtKeys.join(srcKeys.distinct(), Seq("__mk"), "left_semi")
          .groupBy("__mk").count().filter(col("count") > 1).limit(1).collect()
        require(dupTgt.isEmpty, s"ansi merge on $root: key " +
          s"${dupTgt.headOption.map(_.get(0)).getOrElse("")} is duplicated in the " +
          "TARGET table — the keyed merge would collapse the duplicates; " +
          "de-duplicate the table first")
      }
      if (hasNmbsClause) {
        // a NULL ON-key target row always lands in the anti set (no
        // source row equi-matches NULL), but the keyed rewrite drops
        // old rows with NON-null-safe equality on the id — a BY SOURCE
        // DELETE would leave the NULL-keyed row in place, and a BY
        // SOURCE UPDATE would keep the old row AND insert the updated
        // copy (silent duplicate). The dup checks below can't see a
        // single NULL-keyed row, so refuse it explicitly (ADVICE r13).
        val nullKey = tgtKeys.filter(col("__mk").isNull).limit(1).collect()
        require(nullKey.isEmpty, s"ansi merge on $root: the target holds rows " +
          s"with a NULL ON key ($onTgtCol) — NOT MATCHED BY SOURCE clauses " +
          "rewrite by key and cannot address NULL-keyed rows; DELETE them " +
          "first or re-key the table")
        // the keyed changeset replaces/drops BY KEY, so touching one of
        // two duplicate UNMATCHED target rows would collapse them — the
        // mirror of the matched-side dupTgt check, over the anti set
        val dupUnm = tgtKeys.join(srcKeys.distinct(), Seq("__mk"), "left_anti")
          .groupBy("__mk").count().filter(col("count") > 1).limit(1).collect()
        require(dupUnm.isEmpty, s"ansi merge on $root: key " +
          s"${dupUnm.headOption.map(_.get(0)).getOrElse("")} is duplicated in the " +
          "TARGET table among rows NOT MATCHED BY SOURCE — the keyed merge " +
          "would collapse the duplicates; de-duplicate the table first")
      }
      def condCol(c: Option[String]): Column =
        c.map(e => coalesce(expr(e).cast("boolean"), lit(false))).getOrElse(lit(true))
      // resolved BEFORE clause compilation: the UPDATE clause must refuse
      // SET on this column (see below), not just the ON column. The
      // manifest's statsCol is a PHYSICAL name — the compiled changeset
      // (and the SET guard) speak logical, so translate (identity on
      // unmapped tables; a renamed cluster column otherwise crashes the
      // bounds aggregate and slips past the SET guard).
      val clusterCol = logicalName(colMap(root, v),
        carriedMeta(root, v).getOrElse("statsCol", onTgtCol))
      val tblGensA = genExprs(root, v)
      // updating the join key would re-key the changeset row: the keyed
      // merge would then delete whatever row already holds the NEW key
      // and leave the old row in place — silent corruption, so the ON
      // column is not assignable (Delta refuses the same). Assigning
      // the CLUSTER column is the same hazard one layer down (ADVICE
      // r12): merge prunes affected files from the changeset's
      // clusterCol [min,max], and an updated row carries only its NEW
      // cluster value — the file holding the OLD value would never be
      // rewritten, so the old row survives beside the inserted update
      // (silent key duplication). Shared by both UPDATE clause kinds.
      def checkSets(sets: Seq[(String, String)]): Map[String, String] = {
        sets.foreach { case (c, _) => require(tCols.contains(c) ||
            novel.exists(_.equalsIgnoreCase(c)),
          s"ansi merge on $root: SET names unknown target column $c" +
            (if (!autoMerge && novelAll.exists(_.equalsIgnoreCase(c)))
              " — the source carries it; MERGE WITH SCHEMA EVOLUTION widens " +
                "the target instead of refusing"
            else "")) }
        val setMap = sets.toMap
        require(!setMap.contains(onTgtCol),
          s"ansi merge on $root: SET may not assign the ON column $onTgtCol — " +
            "delete and re-insert to re-key a row")
        require(!setMap.contains(clusterCol),
          s"ansi merge on $root: SET may not assign the cluster column $clusterCol — " +
            "merge prunes rewritten files by this column's stats, so re-clustering " +
            "a row would leave its old copy in an unpruned file; delete and " +
            "re-insert to move a row across the clustering")
        // GENERATED columns follow UPDATE's contract on this surface
        // too: never SET directly, always recomputed (r14 review)
        setMap.keys.foreach(c => tblGensA.keys.find(_.equalsIgnoreCase(c))
          .foreach(g => throw new IllegalArgumentException(
            s"ansi merge on $root: column $g is GENERATED ALWAYS AS " +
              s"(${tblGensA(g)}) — it re-derives automatically; SET its " +
              "inputs instead")))
        setMap
      }
      // UPDATE-clause rows re-derive their generated columns from the
      // POST-set values (Delta's rule, same overlay as update()); the
      // delete/insert clauses carry rows as-is — an INSERT's values
      // are the caller's and the per-row invariant verifies them
      def regenUpd(df: DataFrame): DataFrame =
        tblGensA.toSeq.sortBy(_._1).foldLeft(df) { case (d, (c, e)) =>
          d.withColumn(c, expr(e).cast(d.schema(c).dataType)) }
      // the sync anti-set, built once: target rows with no source match.
      // Only target columns survive the anti-join, so an `s.`-qualified
      // reference in a BY SOURCE condition or SET fails analysis loudly
      // — exactly the refusal the clause family's contract requires.
      lazy val unmatchedTgt = tgt.join(src, onCond, "left_anti")
      var remaining: Column = lit(true) // not yet claimed by an earlier clause
      // BY SOURCE clauses run first-match-wins among THEMSELVES (their
      // row set is disjoint from the matched clauses')
      var remainingNmbs: Column = lit(true)
      // evolution columns on a TARGET-row leg: the row predates the
      // column, so it surfaces the SET value when the clause assigns
      // one and NULL otherwise (Delta's null-history contract)
      def novelTgt(setMap: Map[String, String]): Seq[Column] = novel.map { c =>
        // `c` carries the SOURCE schema's spelling; the SET may have
        // spelled it differently — match case-insensitively so the
        // assigned value lands instead of silently nulling
        (setMap.collectFirst { case (k, rhs) if k.equalsIgnoreCase(c) => rhs } match {
          case Some(rhs) => expr(rhs).cast(novelType(c))
          case None => lit(null).cast(novelType(c))
        }).as(c)
      }
      val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      clauses.foreach {
        case WhenMatchedUpdate(cond, sets) =>
          val setMap = checkSets(sets)
          parts += regenUpd(matched.filter(remaining && condCol(cond)).select(
            (tCols.map { c => (setMap.get(c) match {
              case Some(rhs) => expr(rhs).cast(tgtPlain.schema(c).dataType)
              case None => col(s"$tgtAlias.$c")
            }).as(c) } ++ novelTgt(setMap)) :+ lit("u").as("op"): _*))
          remaining = remaining && !condCol(cond)
        case WhenMatchedDelete(cond) =>
          parts += matched.filter(remaining && condCol(cond)).select(
            (tCols.map(c => col(s"$tgtAlias.$c").as(c)) ++ novelTgt(Map.empty))
              :+ lit("d").as("op"): _*)
          remaining = remaining && !condCol(cond)
        case WhenNotMatchedInsert(cond) =>
          val missing = tCols.filterNot(srcPlain.columns.contains)
          require(missing.isEmpty, s"ansi merge on $root: INSERT * requires the source " +
            s"to carry every target column (missing ${missing.mkString(",")})")
          // WITHOUT schema evolution, INSERT * expands to the TARGET's
          // columns (ANSI semantics) — extra source columns are
          // expression helpers for conditions/SETs, not dropped data.
          // WITH it, every source column ingests (novel ones widen).
          // the condition sees SOURCE columns only (no target row
          // matched); a t.-reference fails analysis on the anti-join
          parts += src.join(tgt, onCond, "left_anti").filter(condCol(cond)).select(
            (tCols.map(c => col(s"$srcAlias.$c").cast(tgtPlain.schema(c).dataType).as(c))
              ++ novel.map(c => col(s"$srcAlias.$c").as(c)))
              :+ lit("i").as("op"): _*)
        case WhenNotMatchedBySourceUpdate(cond, sets) =>
          val setMap = checkSets(sets)
          parts += regenUpd(unmatchedTgt.filter(remainingNmbs && condCol(cond)).select(
            (tCols.map { c => (setMap.get(c) match {
              case Some(rhs) => expr(rhs).cast(tgtPlain.schema(c).dataType)
              case None => col(s"$tgtAlias.$c")
            }).as(c) } ++ novelTgt(setMap)) :+ lit("u").as("op"): _*))
          remainingNmbs = remainingNmbs && !condCol(cond)
        case WhenNotMatchedBySourceDelete(cond) =>
          parts += unmatchedTgt.filter(remainingNmbs && condCol(cond)).select(
            (tCols.map(c => col(s"$tgtAlias.$c").as(c)) ++ novelTgt(Map.empty))
              :+ lit("d").as("op"): _*)
          remainingNmbs = remainingNmbs && !condCol(cond)
      }
      // merge evaluates the compiled changeset (and so the O(table)
      // discovery join) once, and no-ops when no clause matched a row
      merge(s, root, clusterCol, onTgtCol, parts.reduce(_ unionByName _), baseVersion = v)
    }
  }

  /** Commit a copy-on-write rewrite (UPDATE/DELETE shape: replace
    * `touchedRels` with `newEntries`, carry everything else), surviving
    * CONCURRENT APPENDS: on a lost CAS the commit re-bases — it
    * re-reads the new current version, verifies every touched file is
    * still present there (nobody else rewrote the data this operation
    * read), recomputes the carry-set from the NEW version (so a racing
    * ingest's appended files are preserved, not clobbered), and
    * retries. If a touched file vanished, a concurrent
    * OPTIMIZE/MERGE/UPDATE/DELETE owned the same rows — abort loudly
    * (Delta's concurrent-delete-read conflict) rather than resurrect
    * stale data or silently drop the racer's commit. At 100 TB this is
    * the difference between "tonight's ingest aborts the compliance
    * delete" and "they serialize automatically". */
  private[graft] def commitRewrite(root: String, baseVersion: Int,
      touchedRels: Set[String], newEntries: Seq[FileEntry], shardSize: Int,
      opTag: String, extraMeta: Map[String, String] = Map.empty,
      emptySchemaJson: Option[String] = None): Int = {
    // the deletion-vector state of the touched files AS OF the version
    // this operation READ: a rebase must verify it is unchanged, or a
    // concurrent DV delete's rows would silently resurrect (the
    // rewrite was built from a pre-DV read, and dropping the racer's
    // sidecar entry below would erase the only record of the delete)
    val dvRead = dvState(root, baseVersion).filter(kv => touchedRels(kv._1))
    // the rewrite's rows were CHECK-validated against the base
    // version's constraints; a rebase onto a version whose constraint
    // set changed would commit files never validated under the new
    // invariant — abort loudly like the rewrite/DV conflicts below
    val checksRead = checkConstraints(root, baseVersion)
    // the SHARED bounded-retry policy (reclaims a dead committer's
    // zero-byte claim, backs off, fails loudly): a hand-rolled counter
    // here would spin its attempts out in milliseconds against a corpse
    // claim and wedge every UPDATE/DELETE while appends self-heal
    casCommit(root) { v =>
      val carried0 = carriedMeta(root, v)
      // touched files are replaced: their deletion vectors die with
      // them (this rewrite READ and applied them — see dvRead check)
      val dvLeft = dvState(root, v) -- touchedRels
      val dvnLeft = dvCountsOf(manifestMeta(root, v)).filter(kv => dvLeft.contains(kv._1))
      val carried = carried0 - "dv" - "dvn" ++ fmtDv(dvLeft).map("dv" -> _) ++
        fmtDvn(dvnLeft).map("dvn" -> _)
      val entries = manifestEntries(root, v)
      val missing = touchedRels -- entries.map(_.rel).toSet
      if (missing.nonEmpty) throw new IllegalStateException(
        s"graft-snapshot: concurrent rewrite conflict on $root — files " +
          s"${missing.toSeq.sorted.take(3).mkString(",")} were rewritten by another " +
          "committer after this operation read them; re-run against the current version")
      val dvNow = dvState(root, v).filter(kv => touchedRels(kv._1))
      if (dvNow != dvRead) throw new IllegalStateException(
        s"graft-snapshot: concurrent DV delete conflict on $root — the deletion " +
          s"vectors of files this rewrite read changed " +
          s"(${(dvNow.keySet ++ dvRead.keySet).toSeq.sorted.take(3).mkString(",")}); " +
          "re-run against the current version")
      if (checkConstraints(root, v) != checksRead) throw new IllegalStateException(
        s"graft-snapshot: CHECK constraints of $root changed while this rewrite " +
          "was in flight — its rows were validated against the old set; " +
          "re-run against the current version")
      val untouched = entries.filterNot(e => touchedRels(e.rel))
      // full rewrite leaves uniform files — drop evolution markers,
      // same contract as the merge/optimize full-rewrite paths. If the
      // rewrite leaves ZERO entries (a delete that matched every row),
      // capture the table's schema instead: an empty version must stay
      // readable/plannable (readAt and the DSv2 planner consume it)
      val baseMeta =
        if (untouched.isEmpty) (carried - "schema" - "schemaJson" - "widen") ++
          (if (newEntries.isEmpty) emptySchemaJson.map("schemaJson" -> _) else None)
        else carried
      commitEntries(root, v, untouched ++ newEntries, shardSize,
        baseMeta ++ extraMeta + (opTag -> s"cow:${touchedRels.size}of${entries.size}"))
    }
  }

  /** SQL UPDATE, copy-on-write — the one DML verb the maintenance
    * surface lacked (VERDICT r11): set-clause assignments applied to
    * rows matching `wherePred`, rewriting ONLY the files that hold a
    * matching row. Delta's two-phase shape:
    *
    *   1. find-touched-files: one filter-pushed scan of the current
    *      version marking each matching row's source file
    *      (`input_file_name`). The predicate reaches the parquet scan,
    *      so row-group stats skip non-matching data pages — at 100 TB
    *      this pass reads the predicate's columns over the candidate
    *      row groups, never the table's width.
    *   2. rewrite: the touched files re-written with each SET column
    *      as `CASE WHEN pred THEN expr ELSE old END` (all assignments
    *      evaluate against the PRE-update row, standard SQL semantics;
    *      values are cast back to the column's type). Untouched files
    *      are carried by reference; the commit CASes the next version
    *      and records `update: cow:NofM` so the pruning is auditable.
    *
    * A predicate matching zero rows commits nothing and returns the
    * current version (Delta's no-op contract). SET may only name
    * existing columns — UPDATE never changes the schema, so evolution
    * markers carry through unchanged (rewritten files of an evolved
    * table land at the union width via the read core ([[readFiles]]), which the
    * markers already describe). */
  /** UPDATE's phase-1 plan, a named seam so PlanSpec can assert the
    * predicate actually reaches the parquet scan (`PushedFilters`) —
    * at 100 TB the find-touched pass lives or dies on row-group
    * skipping. */
  private[graft] def updateTouchedScan(full: DataFrame, wherePred: String): DataFrame =
    full.filter(expr(wherePred)).select(fileKey(input_file_name()).as("f")).distinct()

  /** The find-touched phase's input: the version's RAW logical scan —
    * the core over a DV-free view of the state (input_file_name cannot
    * resolve across the DV anti-join; a file whose only matches are
    * already DV'd is spuriously touched and handled downstream as zero
    * new hits). Shared by update/delete. */
  private def rawLogicalScan(s: SparkSession, root: String, v: Int,
      entries: Seq[FileEntry]): DataFrame = {
    val st = stateAt(root, v)
    toLogical(scan(s, st.copy(meta = st.meta - "dv"), entries), st.colMap)
  }

  /** The manifest entries whose [[fileKey]] the find-touched scan
    * reported — normalized on both sides, so a SHALLOW CLONE's
    * `../`-relative entries match, and probed via a Set: O(entries +
    * touched), not the O(entries × touched) string scan a
    * million-entry manifest cannot afford on the driver. */
  private def touchedEntries(root: String, entries: Seq[FileEntry],
      touchedKeys: Set[String]): Seq[FileEntry] =
    entries.filter(e => touchedKeys(fileKey(root, e.rel)))

  /** Rewrite parallelism for a copy-on-write DML commit: at LEAST one
    * task per touched file (preserving the file-granular layout), but
    * never throttled to a handful of tasks when few-but-large files are
    * touched — a 2-file day-window delete over 10 GB files must not
    * serialize onto 2 cores while 30 sit idle. Extra output files are
    * free (the manifest lists them; the next OPTIMIZE re-compacts). */
  private def rewriteParts(s: SparkSession, touched: Seq[FileEntry]): Int = {
    val rows = touched.map(_.rows).filter(_ >= 0).sum
    val byRows = if (rows > 0) (rows / 250000L).toInt else 0
    math.max(math.max(touched.size, 1),
      math.min(s.sparkContext.defaultParallelism, byRows))
  }

  /** Per-column nullability a file's parquet footer declares — the MoR
    * postimage write conforms to it: Spark writes DataFrame-nullable
    * columns as OPTIONAL, and a table whose original files declared
    * REQUIRED would become mixed-repetition (the uniform-table read
    * path requests one file's declarations against all, and parquet
    * refuses a required column through an optional request). */
  private def fileNullability(root: String, rel: String): Map[String, Boolean] = {
    import scala.jdk.CollectionConverters._
    ParquetFooters.withReader(ParquetFooters.inputFile(root, rel))(
      _.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(f => f.getName ->
          !f.isRepetition(org.apache.parquet.schema.Type.Repetition.REQUIRED)).toMap)
  }

  /** Conform `df`'s per-column nullability to `nn` (physical names):
    * columns the resident files declare REQUIRED are wrapped in
    * AssertNotNull — the written parquet declares REQUIRED again
    * (Spark's scan-side schemas are always nullable, so an
    * unconformed rewrite would write OPTIONAL beside REQUIRED and the
    * NOT NULL the connector exposes would hold for some files only),
    * and a DML expression that actually produces NULL for such a
    * column fails LOUDLY — parquet REQUIRED is the table's NOT NULL
    * constraint, and Delta refuses constraint-violating writes the
    * same way. Codegen-friendly (a projection, no RDD round-trip). */
  private def conformNullability(df: DataFrame,
      nn: Map[String, Boolean]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
    val needed = df.schema.fields.exists(f =>
      f.nullable && nn.get(f.name).contains(false))
    if (!needed) df
    else df.select(df.schema.fields.map { f =>
      if (f.nullable && nn.get(f.name).contains(false))
        org.apache.spark.sql.GraftShim.column(
          AssertNotNull(org.apache.spark.sql.GraftShim.expression(col(f.name)))).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)
  }

  /** Shared MERGE-ON-READ attempt for DELETE and UPDATE on a
    * `dvmode=on` table: compute the predicate's live hits with their
    * (file, ordinal) coordinates, and when EVERY touched file's
    * cumulative DV'd fraction stays under [[DvMaxSelectivity]], commit
    * per-file ordinal sidecars (plus, for UPDATE, the appended
    * postimage file) — not one existing data byte moves. Returns
    * Some(version) when the MoR path committed (or no-op'd), None when
    * the statement must fall back to copy-on-write. `cdcRows` builds
    * the commit's row-grain CDC images from the hit rows (logical
    * names, no coordinate columns); `postFiles` writes any appended
    * data files from the hits (empty for DELETE). The CAS loop aborts
    * loudly when a racer rewrote a hit file or changed its vector. */
  private def mergeOnRead(s: SparkSession, root: String, v: Int,
      touched: Seq[FileEntry], map: Option[Seq[(String, String)]],
      cond: Column, shardSize: Int, extraMeta: Map[String, String],
      auditKey: String, auditPrefix: String,
      cdcRows: Option[DataFrame => DataFrame],
      postFiles: (DataFrame, String) => Seq[FileEntry],
      rowTracked: Boolean = false): Option[Int] = {
    val st = stateAt(root, v)
    val dvCur = st.dv
    // the live rows with their (file, ordinal) coordinates: the core
    // excludes already-DV'd ordinals, so a second statement can't
    // re-touch them. ROW-TRACKED callers (MoR UPDATE — its postimage
    // file must carry the preimage rows' identities) resolve each
    // hit's id in the same scan, so the postimage (and the CDC images)
    // carry the preimage ids as a resident __row_id column
    val raw = toLogicalFull(scan(s, st, touched, coords = true, rowIds = rowTracked), map)
    // LAZY checkpoint: the hit-count job right below materializes it —
    // an eager pin here would run the same scan as its own extra job
    val hits = raw.filter(coalesce(cond, lit(false))).localCheckpoint(false)
    val hitCounts = hits.groupBy(FileCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every live match was already DV'd: version no-op
    if (hitCounts.isEmpty) return Some(v)
    val byKey = touched.map(e => fileKey(root, e.rel) -> e).toMap
    val hitKeys = hitCounts.keys.toSeq.sorted
    // hit files' existing sidecars, read ONCE (checkpointed — they
    // total the already-deleted rows): one count job serves the
    // selectivity cap, and the same frame feeds the superseding
    // union write below
    val oldSides: Option[DataFrame] = {
      val withDv = hitKeys.map(byKey).filter(e => dvCur.contains(e.rel))
      // lazy checkpoint: the oldCounts job right below materializes it
      if (withDv.isEmpty) None
      else Some(dvOrdinals(s, st, withDv).localCheckpoint(false))
    }
    val oldCounts: Map[String, Long] = oldSides.fold(Map.empty[String, Long])(
      _.groupBy(FileCol).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    val underCap = hitCounts.forall { case (key, n) =>
      val e = byKey(key)
      e.rows > 0 &&
        (oldCounts.getOrElse(key, 0L) + n).toDouble / e.rows <= DvMaxSelectivity
    }
    if (!underCap) return None // fall back to copy-on-write
    // AGGREGATE cap (ADVICE r13, widened to TABLE scope in r16): the
    // per-file 10% bound does not bound the TOTAL — a sparse-but-wide
    // DELETE (a sliver of every file of a huge table) is under cap per
    // file yet funnels every ordinal through the table's DV machinery,
    // and the read path broadcasts the union of all touched sidecars.
    // The budget must cover the POST-STATEMENT table state, not just
    // this statement's files: repeated under-budget statements on
    // DISJOINT files would otherwise accumulate sidecar volume without
    // ever tripping it (ADVICE r15). Untouched sidecars price from
    // their parquet footers — one driver-side metadata read each, and
    // the budget itself bounds how many sidecars can exist. Above the
    // budget, copy-on-write is the better shape anyway (the table's DV
    // state is manifest-proportional, not point-shaped) — fall back
    // rather than commit a broadcast-hostile DV state.
    // tunable: a deployment with bigger executors can raise it
    // (`spark.graft.dv.maxTotalOrdinals`); the default prices ~32 MB
    // of broadcast longs
    val dvBudget = s.conf.get("spark.graft.dv.maxTotalOrdinals",
      DvMaxTotalOrdinals.toString).toLong
    val touchedRels = hitKeys.map(byKey(_).rel).toSet
    // untouched sidecars price from the manifest's `dvn` counts —
    // pure driver arithmetic; only rels the counts don't cover
    // (legacy commits, re-rel'd clones) pay a footer read each
    val untouchedOrdinals = dvOrdinalsExcluding(root, dvCur,
      dvCountsOf(st.meta), touchedRels)
    if (hitCounts.values.sum + oldCounts.values.sum + untouchedOrdinals >
        dvBudget) return None
    val tag = uniqueTag()
    // one sidecar per hit file: the file's FULL touched-ordinal set
    // (old sidecar ∪ new hits) — a superseding sidecar, so a reader
    // consults exactly one per file. ALL sidecars land in ONE
    // partitioned write, hash-distributed on the hit file's index
    // across min(hitFiles, parallelism) tasks (each file's ordinals
    // land in exactly one task, so each __fid= dir yields ONE part):
    // the pre-r14 coalesce(1) serialized a wide spread-delete's whole
    // ordinal set through one task (VERDICT r13 #5).
    val fids = {
      import s.implicits._
      broadcast(hitKeys.zipWithIndex.toDF(FileCol, "__fid"))
    }
    val scratch = Engine.tmpDir(s"graft_dv_scratch_$tag")
    (hits.select(IdxCol, FileCol) +: oldSides.toSeq).reduce(_ unionByName _)
      .join(fids, FileCol)
      .select(col(IdxCol).as("idx"), col("__fid"))
      .repartition(math.max(1, math.min(hitKeys.size,
        s.sparkContext.defaultParallelism)), col("__fid"))
      .write.mode("overwrite").partitionBy("__fid").parquet(scratch)
    val newDvEntries: Map[String, String] = hitKeys.zipWithIndex.map {
      case (key, i) =>
        val parts = Engine.listDir(Paths.get(scratch, s"__fid=$i"))
          .filter(_.getFileName.toString.endsWith(".parquet"))
        require(parts.size == 1,
          s"dv sidecar write produced ${parts.size} parts for $key — expected " +
            "exactly one (all of a file's ordinals hash to one task)")
        val rel = s"dvdata_${tag}_$i.parquet"
        Files.move(parts.head, Paths.get(root, rel), StandardCopyOption.REPLACE_EXISTING)
        byKey(key).rel -> rel
    }.toMap
    // the new sidecars' ordinal totals, recorded beside them (`dvn`)
    // so future budget checks never re-open these footers
    val newDvCounts: Map[String, Long] = hitKeys.map(key =>
      byKey(key).rel -> (hitCounts(key) + oldCounts.getOrElse(key, 0L))).toMap
    val cleanHits = hits.drop(FileCol, IdxCol)
    val cdcMeta = cdcRows.flatMap(mk =>
      writeCdcFiles(toPhysical(mk(cleanHits), map), root, tag))
    val newEntries = postFiles(cleanHits, tag)
    // hoisted like commitRewrite's checksRead: the base set is a loop
    // invariant, not worth a manifest re-parse per CAS attempt
    val checksRead = checkConstraints(root, v)
    casCommit(root) { vNow =>
      val entriesNow = manifestEntries(root, vNow)
      val present = entriesNow.map(_.rel).toSet
      val hitRels = newDvEntries.keySet
      if (!hitRels.forall(present)) throw new IllegalStateException(
        s"graft-snapshot: concurrent rewrite conflict on $root — files " +
          s"${(hitRels -- present).mkString(",")} this MoR $auditKey read were replaced")
      val dvNow = dvState(root, vNow)
      hitRels.foreach { r => if (dvNow.get(r) != dvCur.get(r))
        throw new IllegalStateException(
          s"graft-snapshot: concurrent DV conflict on $root file $r — " +
            s"its deletion vector changed since this $auditKey's read; " +
            "retry the statement") }
      // MoR postimage rows were CHECK-validated against version v's
      // constraints (see update's setProjection) — a racing constraint
      // change voids that validation, abort like the conflicts above
      if (checkConstraints(root, vNow) != checksRead)
        throw new IllegalStateException(
          s"graft-snapshot: CHECK constraints of $root changed while this MoR " +
            s"$auditKey was in flight — retry the statement")
      val dvnKept = dvCountsOf(manifestMeta(root, vNow))
        .filter(kv => dvNow.contains(kv._1))
      // the TABLE-WIDE ordinal budget, RE-CHECKED at vNow (r16 ADVICE):
      // two concurrent MoR statements on DISJOINT files each pass the
      // version-v check and neither trips the DV-conflict abort — so
      // re-price the untouched sidecars from vNow's counts and fall
      // back to copy-on-write (staged files reclaimed) if this commit
      // would push the post-statement total over the budget
      val untouchedNow = dvOrdinalsExcluding(root, dvNow, dvnKept, hitRels)
      if (untouchedNow + newDvCounts.values.sum > dvBudget) {
        val cdcRels = cdcMeta.toSeq.flatMap(_.split(';').toSeq
          .flatMap(_.split("=", 2)(1).split(',')))
        (newDvEntries.values ++ newEntries.map(_.rel) ++ cdcRels)
          .foreach(r => Files.deleteIfExists(Paths.get(root, r)))
        None
      } else Some(commitEntries(root, vNow, entriesNow ++ newEntries, shardSize,
        carriedMeta(root, vNow) - "dv" - "dvn" ++
          fmtDv(dvNow ++ newDvEntries).map("dv" -> _) ++
          fmtDvn(dvnKept ++ newDvCounts).map("dvn" -> _) ++
          cdcMeta.map("cdc" -> _) ++ extraMeta ++
          // the postimage file carries materialized ids — record its
          // manifest bit so id-read planning stays footer-sweep-free
          (if (rowTracked && newEntries.nonEmpty)
            Map("rowmat_new" -> newEntries.map(_.rel).mkString(";"))
          else Map.empty) +
          (auditKey -> s"$auditPrefix:${hitRels.size}of${entriesNow.size}")))
    }
  }

  def update(s: SparkSession, root: String, sets: Seq[(String, String)],
      wherePred: String, extraMeta: Map[String, String] = Map.empty,
      shardSize: Int = 4): Int = {
    val v = currentVersion(root)
    if (v == 0) return 0 // empty table: zero rows match, no-op (like delete)
    val carried = carriedMeta(root, v)
    val entries = manifestEntries(root, v)
    val full = readAt(s, root, v)
    val setMap = sets.toMap
    require(sets.map(_._1).distinct.size == sets.size,
      s"update on $root: duplicate SET column")
    carried.get("identity").foreach(ic =>
      sets.foreach { case (c, _) => require(!c.equalsIgnoreCase(ic),
        s"update on $root: column $ic is GENERATED ALWAYS AS IDENTITY — " +
          "the engine assigns it; it cannot be SET") })
    sets.foreach { case (c, _) => require(full.columns.contains(c),
      s"update on $root: SET names unknown column $c (UPDATE never widens a table; " +
        "use a widening merge to add columns)") }
    val cond = expr(wherePred)
    val touchedPaths = updateTouchedScan(rawLogicalScan(s, root, v, entries),
      wherePred)
      .collect().map(_.getString(0)).toSet
    val touched = touchedEntries(root, entries, touchedPaths)
    if (touched.isEmpty) return v
    val touchedSet = touched.map(_.rel).toSet
    val map = colMap(root, v)
    val statsPhys = carried.getOrElse("statsCol",
      physicalName(map, full.columns.head))
    // the ONE SET projection, guarded (per-row `when(cond)`) for the
    // full rewrite, unguarded for hit-only frames (CDC postimages, the
    // MoR postimage file) — pre-update RHS semantics in both shapes.
    // CHECK constraints verify the projected rows in-pipeline: an
    // UPDATE whose SET drives a row out of a constraint refuses
    // loudly before any commit (survivor rows re-pass trivially).
    val tblChecks = checksOf(carried)
    // GENERATED columns: a SET may not name one directly (the table
    // owns the derivation), and any SET that shifts a generation
    // input RECOMPUTES the derived column from the post-SET row
    // (Delta's rule: "Delta Lake automatically updates the generated
    // columns"). The overlay is unconditional — rows the SET didn't
    // touch re-derive to their resident value (the invariant held,
    // expressions are deterministic), so no per-row guard is needed.
    val tblGens = gensOf(carried)
    sets.foreach { case (c, _) =>
      tblGens.keys.find(_.equalsIgnoreCase(c)).foreach(g =>
        throw new IllegalArgumentException(
          s"update on $root: column $g is GENERATED ALWAYS AS " +
            s"(${tblGens(g)}) — it re-derives automatically; " +
            "SET its inputs instead")) }
    def setProjection(df: DataFrame, guard: Option[Column]): DataFrame = {
      val afterSet = df.select(df.columns.map { c =>
        setMap.get(c) match {
          case Some(e2) =>
            val rhs = expr(e2).cast(df.schema(c).dataType)
            guard.fold(rhs)(g => when(g, rhs).otherwise(col(c))).as(c)
          case None => col(c)
        }
      }.toIndexedSeq: _*)
      val regen = tblGens.toSeq.sortBy(_._1).foldLeft(afterSet) {
        case (d, (c, e)) => d.withColumn(c, expr(e).cast(d.schema(c).dataType))
      }
      enforceChecks(regen, tblChecks, s"UPDATE on $root")
    }
    // ---- merge-on-read branch (deletion vectors for UPDATE) ---------
    // Delta's DV-for-update shape: the hit rows' ordinals go into the
    // sidecars (hiding the preimages) and ONE postimage file appends —
    // a sparse update of a huge file moves only the updated rows. The
    // file-grain change feed stays correct for free (the new file
    // streams as inserts, the DV delta as the preimage deletes); with
    // cdf=row the exact update images are registered instead.
    // ROW-TRACKED tables thread identity through the merge-on-read
    // branch (r15): the hit rows' ids resolve from their (file,
    // ordinal) coordinates before the postimage file is written, so
    // the postimage carries a materialized __row_id and the DV path's
    // sparse-update economics survive tracking — a sparse UPDATE on a
    // tracked 100 TB table moves only the updated rows, exactly as
    // untracked (r14 forced these onto copy-on-write).
    val rowTracked = carried.get("rowtracking").contains("on")
    if (carried.get("dvmode").contains("on")) {
      val mor = mergeOnRead(s, root, v, touched, map, cond, shardSize,
        extraMeta, auditKey = "update", auditPrefix = "mor",
        rowTracked = rowTracked,
        cdcRows = if (!carried.get("cdf").contains("row")) None else Some { h =>
          val ct = "_change_type"
          h.withColumn(ct, lit("update_preimage"))
            .unionByName(setProjection(h, None).withColumn(ct, lit("update_postimage")))
        },
        postFiles = (h, tag) => {
          // the postimage file must declare the SAME parquet repetition
          // as the files it sits beside (see conformNullability; a SET
          // producing NULL for a REQUIRED column refuses loudly — the
          // NOT NULL constraint the files themselves declare).
          // Row-proportional fan-out (VERDICT r13 #5): a point update
          // stays one task/one file, a wide under-cap spread fans out
          // like the CoW rewrite instead of funneling every postimage
          // row through one task. `h` is checkpointed, so the count is
          // a cached-frame job, not a recompute.
          val postParts = math.max(1, math.min(s.sparkContext.defaultParallelism,
            (h.count() / 250000L).toInt))
          val post = conformNullability(
            toPhysical(setProjection(h, None), map).repartition(postParts),
            fileNullability(root, touched.head.rel))
          harvestEntries(s, root, writeDataFiles(post, root, s"moru_$tag"),
            statsPhys)
        })
      mor.foreach(r => return r)
      // over the cap: fall through to copy-on-write below
    }
    // rewrite plumbing: the SET/WHERE expressions name LOGICAL columns,
    // so the touched-file read converts to the logical view (dropped
    // physicals ride along inert — rewritten files keep full physical
    // width) and converts back for the write. Identity mapping = no-op.
    // Row-tracked tables read WITH ids: __row_id rides the rewrite as
    // an unmapped physical and lands materialized in the new files.
    val old = toLogicalFull(readFiles(s, root, v, touched, rowIds = rowTracked), map)
    val updated = setProjection(old, Some(cond))
    val tag = uniqueTag()
    // row-grain CDF (see merge). The images cost a second pass over
    // the touched files (checkpointing every touched row to share one
    // pass would hold the whole rewrite in memory — the second scan is
    // the cheaper trade at file granularity).
    val cdcMeta: Option[String] =
      if (!carried.get("cdf").contains("row")) None
      else {
        val ct = "_change_type"
        val hits = old.filter(coalesce(cond, lit(false)))
        val post = setProjection(hits, None)
        val cdcAll = hits.withColumn(ct, lit("update_preimage"))
          .unionByName(post.withColumn(ct, lit("update_postimage")))
          .localCheckpoint(true)
        // CDC files carry PHYSICAL names like every data file; the
        // feed's reader resolves them through the scan's mapping
        writeCdcFiles(toPhysical(cdcAll, map), root, tag)
      }
    // the replacement files must keep the touched files' parquet
    // repetition — an unconformed partial rewrite of a REQUIRED-column
    // table would leave mixed declarations the uniform-table read path
    // refuses (see conformNullability)
    val rels = writeDataFiles(
      conformNullability(toPhysical(updated, map), fileNullability(root, touched.head.rel))
        .repartitionByRange(rewriteParts(s, touched), col(statsPhys)),
      root, s"u_$tag")
    val newEntries = harvestEntries(s, root, rels, statsPhys)
    commitRewrite(root, v, touchedSet, newEntries, shardSize, "update",
      extraMeta ++ cdcMeta.map("cdc" -> _) ++
        (if (rowTracked) Map("rowmat_new" -> rels.mkString(";")) else Map.empty),
      emptySchemaJson = Some(allNullableJson(readAtPhysical(s, root, v).schema)))
  }

  /** SQL DELETE, copy-on-write — the path-addressed spelling of
    * row-level delete (`DELETE FROM '<path>' WHERE <pred>` through the
    * injected parser; the NAME route stays on Spark's standard DSv2
    * `SupportsDelete` seam, see
    * [[graft.sources.SnapshotTableSource]]). Shares [[update]]'s
    * two-phase shape: a filter-pushed find-touched-files scan
    * (`input_file_name` + pushed predicate, so at 100 TB the pass
    * reads the predicate's columns over candidate row groups only),
    * then ONLY the touched files rewritten keeping rows where the
    * predicate is not TRUE (NULL keeps the row — SQL DELETE removes
    * WHERE=TRUE rows only). Untouched files carry by reference with
    * their footer stats; the commit records `delete: cow:NofM`.
    * Because the find-touched pass marks files by ACTUAL matching rows
    * (not stats-possible ranges), this route also takes predicates the
    * DSv2 V1-filter translation rejects (expressions, UDF-free
    * arithmetic). A predicate matching zero rows commits nothing and
    * returns the current version. */
  def delete(s: SparkSession, root: String, wherePred: String,
      extraMeta: Map[String, String] = Map.empty, shardSize: Int = 4): Int = {
    val v = currentVersion(root)
    if (v == 0) return 0 // empty table: nothing to delete
    val carried = carriedMeta(root, v)
    val entries = manifestEntries(root, v)
    val full = readAt(s, root, v)
    val cond = expr(wherePred)
    val touchedPaths = updateTouchedScan(rawLogicalScan(s, root, v, entries),
      wherePred)
      .collect().map(_.getString(0)).toSet
    val touched = touchedEntries(root, entries, touchedPaths)
    if (touched.isEmpty) return v
    val touchedSet = touched.map(_.rel).toSet
    val map = colMap(root, v)
    val statsPhys = carried.getOrElse("statsCol",
      physicalName(map, full.columns.head))
    // ---- merge-on-read branch (deletion vectors) --------------------
    // A `dvmode=on` table takes the DV path when EVERY touched file's
    // cumulative deleted fraction stays under DvMaxSelectivity: the
    // commit registers tiny per-file ordinal sidecars and NOT ONE data
    // byte moves — the 100 TB answer to frequent small DML, where a
    // 1-row point delete must not rewrite a 1 GB file. Above the
    // threshold the whole statement falls through to copy-on-write
    // (dragging a fat skip set through every future scan costs more
    // than the rewrite). The commit ALWAYS registers row-grain CDC
    // delete images (the file-grain feed would also reconstruct them
    // from the DV delta, but the images are exact and cheap).
    if (carried.get("dvmode").contains("on")) {
      val mor = mergeOnRead(s, root, v, touched, map, cond, shardSize,
        extraMeta, auditKey = "delete", auditPrefix = "dv",
        cdcRows = Some(h => h.withColumn("_change_type", lit("delete"))),
        postFiles = (_, _) => Nil)
      mor.foreach(r => return r)
      // over the cap: fall through to copy-on-write below
    }
    // logical view for the predicate, physical for the write (see
    // update; dropped physicals carry through the rewrite; row-tracked
    // tables carry materialized ids the same way)
    val oldView = toLogicalFull(readFiles(s, root, v, touched,
      rowIds = carried.get("rowtracking").contains("on")), map)
    val kept = oldView.filter(not(coalesce(cond, lit(false))))
    val tag = uniqueTag()
    // row-grain CDF (see merge): a DELETE's images are just the
    // predicate's hits, typed delete
    val cdcMeta: Option[String] =
      if (!carried.get("cdf").contains("row")) None
      else {
        val ct = "_change_type"
        val removed = oldView.filter(coalesce(cond, lit(false)))
        writeCdcFiles(
          toPhysical(removed.withColumn(ct, lit("delete")).localCheckpoint(true), map),
          root, tag)
      }
    val rels = writeDataFiles(
      conformNullability(toPhysical(kept, map), fileNullability(root, touched.head.rel))
        .repartitionByRange(rewriteParts(s, touched), col(statsPhys)),
      root, s"d_$tag")
    // a rewrite partition with zero survivors sometimes still produces
    // a 0-row part file — don't manifest it (a delete-all then commits
    // ZERO entries deterministically, the readable-empty-table state;
    // the orphan file is vacuum garbage, never a torn table)
    val newEntries = harvestEntries(s, root, rels, statsPhys).filter(_.rows > 0)
    commitRewrite(root, v, touchedSet, newEntries, shardSize, "delete",
      extraMeta ++ cdcMeta.map("cdc" -> _) ++
        (if (carried.get("rowtracking").contains("on"))
          Map("rowmat_new" -> newEntries.map(_.rel).mkString(";")) else Map.empty),
      emptySchemaJson = Some(allNullableJson(readAtPhysical(s, root, v).schema)))
  }

  /** The schema capture an empty (zero-entry) version carries: all
    * fields nullable, the same discipline every `schemaJson` capture
    * follows. */
  private[graft] def allNullableJson(schema: org.apache.spark.sql.types.StructType): String =
    org.apache.spark.sql.types.StructType(
      schema.fields.map(_.copy(nullable = true))).json

  /** x15's query-range bounds (epoch days; data dates are fixed across
    * SFs — the events table spans 19723..19752). The range covers the
    * last two 5-day file groups, so a correct pruner scans 2 of the 7
    * data files and skips 5 — SnapshotStatsSpec counts exactly that. */
  private[graft] val X15Lo = 19745L
  private[graft] val X15Hi = 19752L
  private[graft] val X15DaysPerFile = 5L

  /** Build (once per session+dir) a day-CLUSTERED snapshot table of the
    * event log: files hold 5-day blocks, so each file's footer-derived
    * ep_day stats form a tight disjoint range — the layout a nightly
    * ingest produces naturally (each day's commit appends that day's
    * files) and the one stats pruning pays off on. One staged
    * partitioned write (single shuffle on the block key), then every
    * file is committed WITH its footer stats through the sharded
    * manifest path. */
  private val statsMemo = new graft.SessionMemo[String]
  private[graft] def statsTable(s: SparkSession, d: String): String =
    statsMemo.getOrElseUpdate(s, d) {
      val root = Engine.tmpDir("graft_snap_prune")
      Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
      commitEntries(root, 0, stageDayClustered(s, d, root), shardSize = 3,
        Map("statsCol" -> "ep_day"))
      root
    }

  /** Stage the event log into `root` as 5-day-block data files (x15's
    * day-clustered layout) and return their footer-stat entries —
    * shared by x15's pruning fixture, x17's merge target and every
    * DV/MoR/reorg/clone fixture. TEN fixtures consume this identical
    * layout; the staged write (scan + repartition + partitioned write +
    * per-file footer harvest) runs ONCE per (session, dir) into a
    * session-scoped stage dir, and each consumer receives byte-copies
    * of the immutable staged files — the FileEntry stats are a pure
    * function of file content + rel name, so they are shared verbatim.
    * Each fixture root still owns its own physical copies (vacuum/
    * REORG/OPTIMIZE in one fixture must never disturb another's
    * files). */
  private val dayClusteredMemo = new graft.SessionMemo[(String, Seq[FileEntry])]
  private[graft] def stageDayClustered(s: SparkSession, d: String,
      root: String): Seq[FileEntry] = {
    val (stage, entries) = dayClusteredMemo.getOrElseUpdate(s, d) {
      // unique per STAGING RUN (ADVICE r21): a deterministic path let a
      // second session re-staging the same data dir delete and rewrite
      // files a first session's live memo still pointed at — a
      // concurrent consumer could copy a partially rewritten file. A
      // uuid suffix makes every staging run its own immutable dir;
      // abandoned runs are tmp garbage, never a torn fixture.
      val dirTag = math.abs(scala.util.hashing.MurmurHash3.stringHash(d))
      val scratch = Engine.tmpDir(
        s"graft_snap_stage_${dirTag}_${uniqueTag()}")
      Engine.listDir(Paths.get(scratch)).foreach(Engine.deleteRecursively)
      Tables.events(s, d)
        .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
        .select("event_id", "user_id", "event_type", "value", "ep_day")
        .withColumn("grp", expr(s"ep_day div $X15DaysPerFile"))
        .repartition(col("grp"))
        .write.mode("overwrite").partitionBy("grp").parquet(scratch)
      val staged = Engine.listDir(Paths.get(scratch))
        .filter(_.getFileName.toString.startsWith("grp="))
        .sortBy(_.getFileName.toString)
        .map { dir =>
          val part = Engine.listDir(dir)
            .find(_.getFileName.toString.endsWith(".parquet")).get
          val rel = s"data_g${dir.getFileName.toString.stripPrefix("grp=")}.parquet"
          Files.move(part, Paths.get(scratch, rel), StandardCopyOption.REPLACE_EXISTING)
          footerEntry(scratch, rel, "ep_day")
        }
      (scratch, staged)
    }
    entries.foreach { e =>
      Files.copy(Paths.get(stage, e.rel), Paths.get(root, e.rel),
        StandardCopyOption.REPLACE_EXISTING)
    }
    entries
  }

  /** x15_stats_pruning — a day-range aggregate planned through the
    * manifest's per-file stats: `readPruned` opens only the 2 (of 7)
    * files whose ep_day range intersects the query, applies the
    * residual day filter, and aggregates. Same answer as scanning the
    * whole table (the DuckDB oracle does exactly that); the point is
    * the plan — at 100 TB the skipped files are the table. */
  def x15StatsPruning(s: SparkSession, d: String): DataFrame =
    readPruned(s, statsTable(s, d), "ep_day", X15Lo, X15Hi)
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("ep_day")

  /** x16's query-range bounds and layout sizes: a 5-day range against a
    * 4-file table — clustered, at most 2 files own it; unclustered, all
    * 4 do. */
  private[graft] val X16Lo = 19727L
  private[graft] val X16Hi = 19731L
  private[graft] val X16Files = 4

  /** Build (once per session+dir) x16's table in its BEFORE state and
    * optimize it: v1 commits the event log as ROUND-ROBIN files — the
    * layout a parallel ingest with no clustering produces, where every
    * file's ep_day stats span the whole domain and stats pruning can
    * skip nothing — then [[optimizeClustered]] commits v2. Both
    * versions stay readable (the spec pins v1's no-skip state and the
    * v1≡v2 content). */
  private val clusterMemo = new graft.SessionMemo[String]
  private[graft] def clusterTable(s: SparkSession, d: String): String =
    clusterMemo.getOrElseUpdate(s, d) {
      val root = Engine.tmpDir("graft_snap_cluster")
      Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
      val scratch = Engine.tmpDir("graft_snap_cluster_scratch")
      Tables.events(s, d)
        .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
        .select("event_id", "user_id", "event_type", "value", "ep_day")
        .repartition(X16Files) // round-robin: deliberately unclustered
        .write.mode("overwrite").parquet(scratch)
      val entries = Engine.listDir(Paths.get(scratch))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(_.getFileName.toString)
        .zipWithIndex.map { case (part, i) =>
          val rel = s"data_rr_$i.parquet"
          Files.move(part, Paths.get(root, rel), StandardCopyOption.REPLACE_EXISTING)
          footerEntry(root, rel, "ep_day")
        }
      val v1 = commitEntries(root, 0, entries, shardSize = 4)
      // through the SQL surface (graft.sources.SnapshotSql), so the
      // connector-route OPTIMIZE is what the correctness gate executes
      graft.sources.SnapshotSql.exec(s,
        s"OPTIMIZE '$root' CLUSTER BY (ep_day) TARGET $X16Files")
      assert(currentVersion(root) == v1 + 1)
      root
    }

  /** x16_cluster_optimize — a day-range per-type aggregate against the
    * OPTIMIZEd layout: `readPruned` plans over v2's clustered files and
    * opens only the ones owning the range (on v1 the same call would
    * open everything — SnapshotStatsSpec counts both). Answer equals
    * the full-scan oracle; the plan is the point. */
  def x16ClusterOptimize(s: SparkSession, d: String): DataFrame =
    readPruned(s, clusterTable(s, d), "ep_day", X16Lo, X16Hi)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("event_type")

  /** x17's changeset day range: 3 days inside ONE 5-day file block
    * (19745 div 5 == 19747 div 5), so the merge must rewrite exactly 1
    * of the 7 data files. */
  private[graft] val X17Lo = 19745L
  private[graft] val X17Hi = 19747L

  /** The deterministic CDC changeset: update every 10th event in the
    * range (value+1000), delete every 10th-offset-1, insert one
    * backfill row per day (negative ids — provably new). */
  private[graft] def x17Changes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .select("event_id", "user_id", "event_type", "value", "ep_day")
      .filter(col("ep_day").between(X17Lo, X17Hi))
    val updates = ev.filter(col("event_id") % 10 === 0)
      .withColumn("value", col("value") + 1000.0).withColumn("op", lit("u"))
    val deletes = ev.filter(col("event_id") % 10 === 1).withColumn("op", lit("d"))
    val inserts = (X17Lo to X17Hi).map(day =>
        (-day, 1L, "backfill", 1.0, day, "i"))
      .toDF("event_id", "user_id", "event_type", "value", "ep_day", "op")
    updates.unionByName(deletes).unionByName(inserts)
  }

  /** Build (once per session+dir) x17's table — x15's day-clustered
    * layout on its own root — and MERGE the changeset in. v1 keeps the
    * pre-merge snapshot readable (MergeSpec pins it); v2 shares 6 of 7
    * data files with v1. */
  private val mergeMemo = new graft.SessionMemo[String]
  private[graft] def mergeTable(s: SparkSession, d: String): String =
    mergeMemo.getOrElseUpdate(s, d) {
      val root = Engine.tmpDir("graft_snap_merge")
      Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
      // cdf=row opts the table into ROW-GRAIN change-feed emission
      // (Delta's enableChangeDataFeed): the MERGE below registers
      // update/delete/insert images on its commit, and st12/st14's
      // feeds see real update pairs instead of carried-row noise
      commitEntries(root, 0, stageDayClustered(s, d, root), shardSize = 3,
        Map("cdf" -> "row"))
      // MERGE through the SQL surface: the changeset rides a registered
      // view, exactly how a Spark-SQL user hands a source to MERGE INTO
      x17Changes(s, d).createOrReplaceTempView("graft_x17_changes")
      graft.sources.SnapshotSql.exec(s,
        s"MERGE INTO '$root' CLUSTER BY (ep_day) ID (event_id) USING graft_x17_changes")
      root
    }

  /** x17_merge_upsert — the whole-table day aggregate AFTER the
    * copy-on-write merge: updates visible, deletes gone, backfill rows
    * present, untouched days bit-identical (their files were never
    * read). The DuckDB oracle applies the same changeset functionally
    * over the raw log. */
  def x17MergeUpsert(s: SparkSession, d: String): DataFrame =
    read(s, mergeTable(s, d))
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("ep_day")

  /** CDC between two committed versions — Delta's change-data-feed
    * semantics derived purely from the MANIFEST DIFF: only files added
    * or removed between `vFrom` and `vTo` are read (a rewritten file's
    * unchanged rows cancel in the multiset difference), never the
    * table. Emits the row-level delta with `change_type`
    * (`insert`/`delete`; an update is its delete+insert pair). At
    * 100 TB a downstream consumer (index refresh, aggregate
    * maintenance, replication) processes one commit's worth of files
    * per sync, not a snapshot scan. */
  def changesBetween(s: SparkSession, root: String,
      vFrom: Int, vTo: Int): DataFrame = {
    val stFrom = stateAt(root, vFrom)
    val stTo = stateAt(root, vTo)
    val from = stFrom.entries.map(_.rel).toSet
    val to = stTo.entries.map(_.rel).toSet
    // each side reads under ITS version's schema semantics (an evolved
    // vTo resolves the union width; a pre-evolution vFrom stays
    // narrow), resolves ITS version's column mapping, and applies ITS
    // version's deletion vectors — a removed file's already-DV-deleted
    // rows must not re-report as fresh deletes
    def readRels(st: TableState, rels: Set[String]): Option[DataFrame] =
      if (rels.isEmpty) None
      else Some(toLogical(scan(s, st, st.entries.filter(e => rels(e.rel)).sortBy(_.rel)),
        st.colMap))
    val added = readRels(stTo, to -- from)
    val removed = readRels(stFrom, from -- to)
    // a commit can change a file's DELETION VECTOR without touching
    // the file (a merge-on-read delete, or RESTORE across one): the
    // ordinal difference of the two sidecar states IS the row delta —
    // newly-deleted ordinals report as deletes (live at vFrom),
    // resurrected ones as inserts (live at vTo). Without this a DV
    // commit diffs to an empty change set.
    val dvDeltas: Seq[DataFrame] = stFrom.entries.sortBy(_.rel)
      .filter(e => to(e.rel) && stFrom.dv.get(e.rel) != stTo.dv.get(e.rel)).flatMap { e =>
        def ordinals(st: TableState): DataFrame =
          if (st.dv.contains(e.rel)) dvOrdinals(s, st, Seq(e)).select(IdxCol)
          else s.range(0).select(col("id").as(IdxCol))
        def rowsAt(st: TableState, idx: DataFrame, ct: String): DataFrame =
          toLogical(scan(s, st, Seq(e), coords = true)
              .join(broadcast(idx), Seq(IdxCol), "left_semi").drop(FileCol, IdxCol),
            st.colMap).withColumn("change_type", lit(ct))
        Seq(
          rowsAt(stFrom, ordinals(stTo).exceptAll(ordinals(stFrom)), "delete"),
          rowsAt(stTo, ordinals(stFrom).exceptAll(ordinals(stTo)), "insert"))
      }
    val base = (added, removed) match {
      case (Some(a), Some(r)) =>
        Some(a.exceptAll(r).withColumn("change_type", lit("insert"))
          .unionByName(r.exceptAll(a).withColumn("change_type", lit("delete"))))
      case (Some(a), None) => Some(a.withColumn("change_type", lit("insert")))
      case (None, Some(r)) => Some(r.withColumn("change_type", lit("delete")))
      case (None, None) => None
    }
    (base.toSeq ++ dvDeltas).reduceOption(_ unionByName _)
      .getOrElse(s.emptyDataFrame)
  }

  /** x19_incremental_read — the change feed of x17's merge commit,
    * aggregated day/type-grain: deletes are the removed rows AND the
    * pre-images of updates, inserts are the post-images and backfills.
    * The DuckDB oracle derives the same delta functionally from the raw
    * log; the point is the plan — only the one rewritten file and its
    * replacement are ever opened. */
  def x19IncrementalRead(s: SparkSession, d: String): DataFrame = {
    val root = mergeTable(s, d)
    val v = currentVersion(root)
    changesBetween(s, root, v - 1, v)
      .groupBy(col("change_type"), col("ep_day"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("change_type", "ep_day")
  }

  val x19Sql: String =
    s"""WITH e AS (SELECT event_id, value,
      |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events),
      |r AS (SELECT * FROM e WHERE ep_day BETWEEN $X17Lo AND $X17Hi),
      |chg AS (
      |  SELECT 'delete' AS change_type, ep_day, value
      |  FROM r WHERE event_id % 10 IN (0, 1)
      |  UNION ALL
      |  SELECT 'insert', ep_day, value + 1000.0 FROM r WHERE event_id % 10 = 0
      |  UNION ALL
      |  SELECT 'insert', d, CAST(1.0 AS DOUBLE)
      |  FROM generate_series($X17Lo, $X17Hi) AS g(d))
      |SELECT change_type, ep_day, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM chg GROUP BY change_type, ep_day
      |ORDER BY change_type, ep_day""".stripMargin

  /** x18's enriched block: the last 5-day file group (19750..19752 ⊂
    * grp 3950), re-ingested with a NEW `quality` column. */
  private[graft] val X18Grp = 3950L

  /** Build (once per session+dir) x18's table: v1 is the day-clustered
    * event log (narrow, 5 columns); v2 swaps the last 5-day block for an
    * enriched re-ingest carrying a new `quality` column — add-column
    * schema evolution, file-granular, metadata-flagged so ONLY evolved
    * versions pay schema-merge planning. Old files are never rewritten:
    * at 100 TB adding a column costs one block's re-ingest (or nothing,
    * if only future ingests carry it), never a table rewrite. */
  private val evolveMemo = new graft.SessionMemo[String]
  private[graft] def evolveTable(s: SparkSession, d: String): String =
    evolveMemo.getOrElseUpdate(s, d) {
      val root = Engine.tmpDir("graft_snap_evolve")
      Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
      val entries = stageDayClustered(s, d, root)
      val v1 = commitEntries(root, 0, entries, shardSize = 3)
      val lastRel = s"data_g$X18Grp.parquet"
      assert(entries.exists(_.rel == lastRel), s"fixture drift: no $lastRel")
      val enriched = readFiles(s, root, v1, entries.filter(_.rel == lastRel))
        .withColumn("quality", col("value") * 0.1)
      val newRel = writeDataFile(enriched, root, "v2_enriched")
      // the widening commit CAPTURES the union schema (all-nullable:
      // history files surface quality as null) so every later scan
      // plans with an explicit schema — zero footer reads, no
      // mergeSchema job, at any file count (Delta's schema-in-the-log)
      commitEntries(root, v1,
        entries.filterNot(_.rel == lastRel) :+ footerEntry(root, newRel, "ep_day"),
        shardSize = 3, Map("schema" -> "evolved:+quality",
          "schemaJson" -> org.apache.spark.sql.types.StructType(
            enriched.schema.fields.map(_.copy(nullable = true))).json))
      root
    }

  /** x18_schema_evolution — a whole-table day aggregate over the
    * evolved snapshot: rows from narrow files surface `quality` as
    * null, the enriched block carries values. The DuckDB oracle models
    * evolution functionally (quality = value*0.1 on the last block,
    * null elsewhere); EvolveSpec pins the width of both versions and
    * the null/edge behavior. */
  def x18SchemaEvolution(s: SparkSession, d: String): DataFrame =
    read(s, evolveTable(s, d))
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        count(col("quality")).as("n_quality"),
        sum(col("quality").cast("decimal(18,6)")).cast("double").as("quality_sum"))
      .orderBy("ep_day")

  val x18Sql: String =
    s"""WITH e AS (SELECT value,
      |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events),
      |w AS (SELECT ep_day,
      |  CASE WHEN ep_day // 5 = $X18Grp THEN value * 0.1 ELSE NULL END AS quality
      |  FROM e)
      |SELECT ep_day, COUNT(*) AS n_events, COUNT(quality) AS n_quality,
      |  CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) AS quality_sum
      |FROM w GROUP BY ep_day ORDER BY ep_day""".stripMargin

  val x17Sql: String =
    s"""WITH e AS (SELECT event_id, value,
      |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events),
      |merged AS (
      |  SELECT event_id,
      |    CASE WHEN ep_day BETWEEN $X17Lo AND $X17Hi AND event_id % 10 = 0
      |      THEN value + 1000.0 ELSE value END AS value, ep_day
      |  FROM e
      |  WHERE NOT (ep_day BETWEEN $X17Lo AND $X17Hi AND event_id % 10 = 1)
      |  UNION ALL
      |  SELECT -d AS event_id, CAST(1.0 AS DOUBLE) AS value, d AS ep_day
      |  FROM generate_series($X17Lo, $X17Hi) AS g(d))
      |SELECT ep_day, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM merged GROUP BY ep_day ORDER BY ep_day""".stripMargin

  val x16Sql: String =
    s"""WITH e AS (SELECT event_type, value,
      |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM e WHERE ep_day BETWEEN $X16Lo AND $X16Hi
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  val x15Sql: String =
    s"""WITH e AS (SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day, value
      |  FROM events)
      |SELECT ep_day, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM e WHERE ep_day BETWEEN $X15Lo AND $X15Hi
      |GROUP BY ep_day ORDER BY ep_day""".stripMargin

  /** st9's commit plan: three 10-day ingest batches — the nightly
    * append cadence a streaming consumer tails. */
  private[graft] val St9Bounds =
    Seq((19723L, 19732L), (19733L, 19742L), (19743L, 19752L))

  /** Build (once per session+dir) st9's APPEND-ONLY table: each 10-day
    * block of the event log lands as one data file in its own commit
    * (entries = previous ++ new — no file ever removed), which is
    * exactly the shape the DSv2 streaming source requires and a nightly
    * ingest produces. */
  private val streamTabMemo = new graft.SessionMemo[String]
  private[graft] def streamTable(s: SparkSession, d: String): String =
    streamTabMemo.getOrElseUpdate(s, d) {
      val root = Engine.tmpDir("graft_snap_streamtab")
      Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
      val ev = Tables.events(s, d)
        .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
        .select("event_id", "user_id", "event_type", "value", "ep_day")
      var entries = Seq.empty[FileEntry]
      var v = 0
      St9Bounds.zipWithIndex.foreach { case ((lo, hi), i) =>
        val rel = writeDataFile(ev.filter(col("ep_day").between(lo, hi)), root, s"b$i")
        entries :+= footerEntry(root, rel, "ep_day")
        v = commitEntries(root, v, entries, shardSize = 2,
          Map("statsCol" -> "ep_day"))
      }
      root
    }

  /** x20's layout width: enough user-range files that a single-event
    * needle lookup has real pruning headroom. */
  private[graft] val X20Files = 7

  /** Build (once per session+dir) x20's table: the event log clustered
    * by USER range — so each file holds a tight user_id range but its
    * event_id span covers nearly the whole domain (users act across the
    * whole month). Every data file is written with a parquet BLOOM
    * FILTER on event_id: min/max stats are useless for point lookups on
    * a column the table is not clustered by (every file's range covers
    * every needle), which is exactly the gap blooms close in real table
    * formats (Delta/Iceberg bloom options). The write itself produces
    * the bloom — commit stays a footer-metadata pass, never a stats
    * job. */
  private val bloomMemo = new graft.SessionMemo[String]
  private[graft] def bloomTable(s: SparkSession, d: String): String =
    bloomMemo.getOrElseUpdate(s, d) {
      val root = Engine.tmpDir("graft_snap_bloom")
      Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
      val scratch = Engine.tmpDir("graft_snap_bloom_scratch")
      Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value")
        .repartitionByRange(X20Files, col("user_id"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#event_id", "true")
        .parquet(scratch)
      val entries = Engine.listDir(Paths.get(scratch))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(_.getFileName.toString)
        .zipWithIndex.map { case (part, i) =>
          val rel = s"data_u$i.parquet"
          Files.move(part, Paths.get(root, rel), StandardCopyOption.REPLACE_EXISTING)
          footerEntry(root, rel, "user_id")
        }
      commitEntries(root, 0, entries, shardSize = 3)
      root
    }

  /** The values of `values` that file `rel`'s parquet bloom filter on
    * `keyCol` may contain. Sound degradation everywhere: a row group
    * without the column, or without a bloom, may contain ANY value. One
    * footer + bloom-bitset read per call (KBs) — the planning-time cost
    * a needle lookup pays instead of scanning the file (MBs–GBs); at
    * 100 TB a caching layer (or manifest-inlined blooms, the Iceberg
    * puffin shape) amortizes repeat lookups, but even cold this is a
    * ~1000× IO reduction per skipped file. */
  private[graft] def bloomMayContain(root: String, rel: String, keyCol: String,
      values: Seq[Long]): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    ParquetFooters.withReader(ParquetFooters.inputFile(root, rel)) { reader =>
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      values.filter { v =>
        blocks.exists { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == keyCol) match {
            case None => true
            case Some(cc) =>
              val bf = reader.getBloomFilterDataReader(b).readBloomFilter(cc)
              // hash at the FILE's physical width: a type-WIDENED key
              // column leaves old files INT32, whose blooms hashed
              // 4-byte values — hashing the lookup long against them
              // would return false NEGATIVES (unsound pruning); a
              // value outside int range cannot be in an int32 file
              bf == null || (cc.getPrimitiveType.getPrimitiveTypeName match {
                case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32 =>
                  v >= Int.MinValue && v <= Int.MaxValue &&
                    bf.findHash(bf.hash(v.toInt))
                case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 =>
                  bf.findHash(bf.hash(v))
                // int→double / float→double widenings leave (or land)
                // floating-point pages whose blooms hashed IEEE bits —
                // probe at the file's width there too. A long exactly
                // representable at that width hashes to the stored bits
                // (no false negatives); an unrepresentable long cannot
                // have been stored as itself, and the page may still
                // hold its rounded neighbor — return may-contain, never
                // a false negative (r14 review)
                case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.DOUBLE =>
                  v.toDouble.toLong != v || bf.findHash(bf.hash(v.toDouble))
                case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.FLOAT =>
                  v.toFloat.toLong != v || bf.findHash(bf.hash(v.toFloat))
                // any other physical width: no sound judgment — keep
                case _ => true
              })
          }
        }
      }
    }
  }

  /** Needle lookup: scan ONLY the files whose bloom filter may contain
    * one of `values`, with the exact predicate re-applied on the
    * survivors (blooms admit false positives, never false negatives —
    * pruning is never unsound). The complement of [[readPruned]]:
    * min/max stats serve range queries on the cluster column; blooms
    * serve point lookups on everything else. */
  def readPointLookup(s: SparkSession, root: String, keyCol: String,
      values: Seq[Long]): DataFrame = {
    val st = stateAt(root, currentVersion(root))
    // keyCol is LOGICAL; parquet blooms are indexed by the files'
    // physical column name
    val keyPhys = physicalName(st.colMap, keyCol)
    logicalScan(s, st,
        st.entries.filter(e => bloomMayContain(root, e.rel, keyPhys, values).nonEmpty))
      .filter(col(keyCol).isin(values: _*))
  }

  /** x20's needle ids — derived from the manifest's exact row count
    * (event_ids are dense 0..N-1 in the log), no data scan. */
  private[graft] def x20Ids(root: String): Seq[Long] = {
    val n = manifestEntries(root, currentVersion(root)).map(_.rows).sum
    Seq(n / 20, n / 4, n / 2, 3 * n / 4, 19 * n / 20)
  }

  /** x20_point_lookup — five single-event needle lookups against the
    * user-clustered snapshot: blooms route each id to the one file that
    * holds it (false positives possible, counted by the spec; false
    * negatives impossible). The DuckDB oracle scans the whole log; the
    * point is the plan — at 100 TB the skipped files are the table,
    * and stats pruning cannot help because event_id spans every file. */
  def x20PointLookup(s: SparkSession, d: String): DataFrame = {
    val root = bloomTable(s, d)
    readPointLookup(s, root, "event_id", x20Ids(root))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  val x20Sql: String =
    """WITH n AS (SELECT COUNT(*) AS c FROM events),
      |ids AS (SELECT unnest([c // 20, c // 4, c // 2, 3 * c // 4, 19 * c // 20]) AS id
      |  FROM n)
      |SELECT event_id, user_id, event_type, value
      |FROM events JOIN ids ON event_id = id
      |ORDER BY event_id""".stripMargin

  /** Coordinate normalized to [0, 65535] by its table-wide [lo, hi] —
    * the per-column half of the Z-order key. */
  private def norm16(c: Column, lo: Long, hi: Long): Column =
    if (hi <= lo) lit(0L)
    // double math on purpose: the z key only shapes the LAYOUT (answers
    // ride real per-column stats), and integer (c-lo)*65535 would
    // overflow ANSI long arithmetic on a 2^48+ key domain
    else ((c - lit(lo)).cast("double") * 65535.0 / lit((hi - lo).toDouble))
      .cast("long")

  /** OPTIMIZE ZORDER — rewrite the CURRENT snapshot into files
    * clustered along a 2-column Z-curve (Delta's OPTIMIZE ZORDER BY
    * (a, b)): each coordinate is min/max-normalized to 16 bits,
    * bit-interleaved by the native `interleave_bits` kernel, and the
    * rows range-partitioned + sorted on the z key. Because the curve is
    * monotone in both coordinates, a z-range file carries BOUNDED
    * [min,max] on BOTH columns — which the manifest stores as primary +
    * `extra` stats (one footer read), so box queries prune on either
    * column or both. The z key itself never affects answers: it only
    * shapes the LAYOUT; pruning runs on real per-column stats, so a
    * poorly-mixed curve costs performance, never correctness. */
  def optimizeZOrder(s: SparkSession, root: String, colA: String, colB: String,
      targetFiles: Int, shardSize: Int = 4): Int = {
    val v = currentVersion(root)
    val rt = v > 0 && manifestMeta(root, v).get("rowtracking").contains("on")
    val df = if (!rt) readAt(s, root, v)
      else readWithRowIdsAt(s, root, v).withColumnRenamed("_row_id", RowIdCol)
    val b = df.agg(min(col(colA)), max(col(colA)),
      min(col(colB)), max(col(colB))).head()
    val (alo, ahi, blo, bhi) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val zordered = df.withColumn("_z", graft.functions.interleave_bits(
        norm16(col(colA), alo, ahi), norm16(col(colB), blo, bhi)))
      .repartitionByRange(targetFiles, col("_z"))
      .sortWithinPartitions("_z") // row-group-level locality too
      .drop("_z")
    val tag = uniqueTag()
    val rels = writeDataFiles(zordered, root, s"z_$tag")
    val entries = harvestEntries(s, root, rels, colA, Seq(colB))
    val rtMeta = if (!rt) Map.empty[String, String]
      else Map("colmap" -> fmtColMap(
        df.columns.filterNot(_ == RowIdCol).toIndexedSeq.map(c => (c, c))))
    // full rewrite: carry watermarks forward, drop `schema` (files are
    // uniform-width now), re-point statsCol at the new primary column;
    // `colmap` drops too — the rewrite read the logical view, so this
    // MATERIALIZES any column mapping (see optimizeClustered; a
    // row-tracked table keeps an identity mapping to hide __row_id)
    commitEntries(root, v, entries, shardSize,
      carriedMeta(root, v) - "schema" - "schemaJson" - "colmap" - "dv" - "dvn" - "widen" ++
        rtMeta ++
        (if (rt) Map("rowmat_new" -> entries.map(_.rel).mkString(";")) else Map.empty) ++
        Map("optimize" -> s"zorder:$colA,$colB", "statsCol" -> colA))
  }

  /** Coordinate normalized to [0, 2^bits − 1] by its table-wide
    * [lo, hi] — the per-column half of the N-key cluster key
    * ([[norm16]]'s generalization; same double-math overflow
    * rationale). */
  private def normBits(c: Column, lo: Long, hi: Long, bits: Int): Column =
    if (hi <= lo) lit(0L)
    else ((c - lit(lo)).cast("double") * ((1L << bits) - 1).toDouble /
      lit((hi - lo).toDouble)).cast("long")

  /** OPTIMIZE CLUSTER BY (a, b, …) — N-KEY clustering (r20, Delta's
    * liquid-clustering shape): each of the N columns min/max-
    * normalizes to 64/N bits (capped at 16), the native
    * `interleave_bits_n` kernel round-robin-interleaves them into one
    * curve key, and the rows range-partition + sort on it — so every
    * file carries BOUNDED per-column stats on ALL N keys, which the
    * r20 general harvest records automatically and box/single-column
    * queries prune on. The curve key never affects answers (layout
    * only, like x22's 2-col z-order — which this subsumes: N=2 is the
    * same curve at the same 16-bit resolution, N=1 falls back to
    * plain clustering). At 100 TB the N-key layout is what lets a
    * table serve range queries on several independent dimensions
    * without N copies of the data. */
  def optimizeClusterBy(s: SparkSession, root: String, cols: Seq[String],
      targetFiles: Int, shardSize: Int = 4): Int = {
    require(cols.nonEmpty && cols.size <= 8,
      s"OPTIMIZE CLUSTER BY on $root: 1..8 cluster keys (got ${cols.size})")
    require(cols.distinct.size == cols.size,
      s"OPTIMIZE CLUSTER BY on $root: duplicate cluster key in $cols")
    if (cols.size == 1) return optimizeClustered(s, root, cols.head, targetFiles)
    val v = currentVersion(root)
    val rt = v > 0 && manifestMeta(root, v).get("rowtracking").contains("on")
    val df = if (!rt) readAt(s, root, v)
      else readWithRowIdsAt(s, root, v).withColumnRenamed("_row_id", RowIdCol)
    cols.foreach(c => require(df.schema.fields.exists(f => f.name == c &&
        (f.dataType == org.apache.spark.sql.types.LongType ||
          f.dataType == org.apache.spark.sql.types.IntegerType)),
      s"OPTIMIZE CLUSTER BY on $root: key '$c' must be an integral column " +
        "(the curve key and the pruning stats are integer domains)"))
    val bits = math.min(16, 64 / cols.size)
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val b = df.agg(aggs.head, aggs.tail: _*).head()
    val domains = cols.indices.map(i => (b.getLong(2 * i), b.getLong(2 * i + 1)))
    val coords = array(cols.zip(domains).map { case (c, (lo, hi)) =>
      normBits(col(c), lo, hi, bits) }: _*)
    val keyed = df.withColumn("_z", graft.functions.interleave_bits_n(coords))
      .repartitionByRange(targetFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
    val tag = uniqueTag()
    val rels = writeDataFiles(keyed, root, s"lc_$tag")
    // the general per-column harvest (r20) collects every key's stats;
    // the primary stays the first cluster key
    val entries = harvestEntries(s, root, rels, cols.head)
    val rtMeta = if (!rt) Map.empty[String, String]
      else Map("colmap" -> fmtColMap(
        df.columns.filterNot(_ == RowIdCol).toIndexedSeq.map(c => (c, c))))
    commitEntries(root, v, entries, shardSize,
      carriedMeta(root, v) - "schema" - "schemaJson" - "colmap" - "dv" - "dvn" - "widen" ++
        rtMeta ++
        (if (rt) Map("rowmat_new" -> entries.map(_.rel).mkString(";")) else Map.empty) ++
        Map("optimize" -> s"clusterby:${cols.mkString(",")}",
          "statsCol" -> cols.head))
  }

  /** Box-query planning: the entries whose stats intersect EVERY
    * constrained column's range (primary stats for `primaryCol`,
    * `extra` stats by name; unknown columns never prune — sound). */
  def prunedEntriesBox(root: String, v: Int, primaryCol: String,
      box: Seq[(String, Long, Long)]): Seq[FileEntry] =
    manifestEntries(root, v).filter(e =>
      box.forall { case (c, qlo, qhi) => e.overlaps(c, primaryCol, qlo, qhi) })

  /** Scan only the files whose per-column stats intersect the box, with
    * the exact box predicate re-applied on survivors. Column names are
    * LOGICAL; the manifest's stats are keyed by physical name. */
  def readPrunedBox(s: SparkSession, root: String, primaryCol: String,
      box: Seq[(String, Long, Long)]): DataFrame = {
    val v = currentVersion(root)
    val st = stateAt(root, v)
    val phys = physicalName(st.colMap, _: String)
    logicalScan(s, st, prunedEntriesBox(root, v, phys(primaryCol),
        box.map { case (c, l, h) => (phys(c), l, h) }))
      .filter(box.map { case (c, l, h) => col(c).between(l, h) }.reduce(_ && _))
  }

  /** x22's day range (10 mid-month days); the user range is derived
    * from the data's own [min, max] quartiles, so it holds at any SF. */
  private[graft] val X22DayLo = 19733L
  private[graft] val X22DayHi = 19742L
  private[graft] val X22Files = 16

  /** Build (once per session+dir) x22's table: v1 commits the event log
    * DAY-clustered (x15's layout — user queries prune nothing there);
    * v2 is OPTIMIZE ZORDER BY (user_id, ep_day). Both versions stay
    * readable; ZOrderSpec pins v1's one-dimensional blindness against
    * v2's two-dimensional pruning. */
  private val zorderMemo = new graft.SessionMemo[String]
  private[graft] def zorderTable(s: SparkSession, d: String): String =
    zorderMemo.getOrElseUpdate(s, d) {
      val root = Engine.tmpDir("graft_snap_zorder")
      Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
      commitEntries(root, 0, stageDayClustered(s, d, root), shardSize = 3,
        Map("statsCol" -> "ep_day"))
      graft.sources.SnapshotSql.exec(s,
        s"OPTIMIZE '$root' ZORDER BY (user_id, ep_day) TARGET $X22Files")
      root
    }

  /** x22's user-range bounds: the [q1, q2] quartile box of the manifest
    * stats' own user domain (exact footer mins/maxes — no data scan). */
  private[graft] def x22UserRange(root: String): (Long, Long) = {
    val es = manifestEntries(root, currentVersion(root))
    val ulo = es.map(_.lo).min
    val uhi = es.map(_.hi).max
    (ulo + (uhi - ulo) / 4, ulo + (uhi - ulo) / 2)
  }

  /** x22_zorder_box — a (user range × day range) box aggregate over the
    * Z-ordered snapshot: `readPrunedBox` intersects BOTH columns' file
    * stats, scanning only the files owning the box. On v1's day-only
    * layout the day half prunes but the user half cannot; after ZORDER
    * both do — at 100 TB that is the difference between scanning a
    * day's files and scanning a day's × user-range's corner. Answer
    * equals the full-scan oracle (box bounds derived identically from
    * the data's user [min,max] on both sides). */
  def x22ZorderBox(s: SparkSession, d: String): DataFrame = {
    val root = zorderTable(s, d)
    val (qulo, quhi) = x22UserRange(root)
    readPrunedBox(s, root, "user_id",
      Seq(("user_id", qulo, quhi), ("ep_day", X22DayLo, X22DayHi)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("event_type")
  }

  val x22Sql: String =
    s"""WITH e AS (SELECT user_id, event_type, value,
      |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events),
      |b AS (SELECT MIN(user_id) AS ulo, MAX(user_id) AS uhi FROM e)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM e CROSS JOIN b
      |WHERE user_id BETWEEN ulo + (uhi - ulo) // 4 AND ulo + (uhi - ulo) // 2
      |  AND ep_day BETWEEN $X22DayLo AND $X22DayHi
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** x21_source_pushdown — x15's day-range aggregate expressed through
    * the STANDARD DataFrame API over the DSv2 connector: a plain
    * `.filter(ep_day between ...)` is pushed to the scan builder, which
    * prunes the planned file set with the manifest's stats (the
    * `#statsCol` metadata names the column) — no special readPruned
    * call, the optimizer route every Spark user already takes.
    * SnapshotSourceSpec counts the planned partitions (2 of 7) and pins
    * the manifest-served COUNT(*) fast path on the same table. */
  def x21SourcePushdown(s: SparkSession, d: String): DataFrame =
    s.read.format("graft-snapshot").load(statsTable(s, d))
      .filter(col("ep_day").between(X15Lo, X15Hi))
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("ep_day")

  /** x55's staging cuts (epoch days): base < Cut1; two staged branch
    * appends cover [Cut1, Cut2) and [Cut2, ∞). */
  private[graft] val X55Cut1 = 19743L
  private[graft] val X55Cut2 = 19748L

  /** x55_branch_wap — WRITE-AUDIT-PUBLISH through branch refs (r20,
    * the writable half of the Iceberg ref model x52's tags began):
    * the table commits its pre-backfill state; `CREATE BRANCH wap`
    * opens a staging ref; two appends land ON THE BRANCH — data files
    * in place, `_latest` unmoved, main provably blind to them (the
    * query itself fails loudly if staged rows leak — the audit step);
    * `FAST FORWARD BRANCH` publishes the staged state as the next
    * main version in ONE metadata commit (zero files move) and the
    * branch retires. The final day aggregate over the published table
    * equals the DuckDB full-log recompute — proving publish is
    * exactly append-equivalence. At 100 TB this is how a risky
    * backfill ships: staged invisible, audited on the branch,
    * published atomically or dropped without trace. */
  def x55BranchWap(s: SparkSession, d: String): DataFrame = {
    val root = Engine.tmpDir("graft_x55_branch")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    val ev = Tables.events(s, d)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .select("event_id", "user_id", "event_type", "value", "ep_day")
    val rels = writeDataFiles(
      ev.filter(col("ep_day") < X55Cut1).repartition(3), root, "base")
    commitEntries(root, 0, harvestEntries(s, root, rels, "ep_day"), 8,
      Map("statsCol" -> "ep_day"))
    graft.sources.SnapshotSql.exec(s, s"ALTER TABLE '$root' CREATE BRANCH wap")
    appendToBranch(s, root, "wap",
      ev.filter(col("ep_day") >= X55Cut1 && col("ep_day") < X55Cut2))
    appendToBranch(s, root, "wap", ev.filter(col("ep_day") >= X55Cut2))
    // the AUDIT step, gate-visible: staged rows leaking to main is a
    // loud failure of the query itself, not just a spec assertion
    require(read(s, root).agg(max(col("ep_day"))).head().getLong(0) < X55Cut1,
      "x55: staged branch rows visible on main before publish")
    require(readBranch(s, root, "wap").count() == ev.count(),
      "x55: branch audit read does not cover base + staged rows")
    graft.sources.SnapshotSql.exec(s, s"ALTER TABLE '$root' FAST FORWARD BRANCH wap")
    s.read.format("graft-snapshot").load(root)
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("ep_day")
  }

  val x55Sql: String =
    """WITH e AS (SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day,
      |  value FROM events)
      |SELECT ep_day, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM e GROUP BY ep_day ORDER BY ep_day""".stripMargin

  private[graft] val X56Files = 16

  /** Build (once per session+dir) x56's table: v1 commits the event
    * log ROUND-ROBIN (no layout — nothing prunes) with a derived
    * third integral dimension `vmilli` (value in milli-units,
    * independent of user and day); v2 is
    * `OPTIMIZE CLUSTER BY (user_id, ep_day, vmilli)` through the SQL
    * route. Both versions stay readable; ClusterBySpec pins v1's
    * blindness against v2's per-dimension pruning. */
  private val clusterByMemo = new graft.SessionMemo[String]
  private[graft] def clusterByTable(s: SparkSession, d: String): String =
    clusterByMemo.getOrElseUpdate(s, d) {
      val root = Engine.tmpDir("graft_snap_clusterby")
      Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
      val ev = Tables.events(s, d)
        .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
        .withColumn("vmilli", round(col("value") * 1000.0, 0).cast("long"))
        .select("event_id", "user_id", "event_type", "value", "ep_day", "vmilli")
        .repartition(4) // deliberately unclustered
      val rels = writeDataFiles(ev, root, "rr")
      commitEntries(root, 0, harvestEntries(s, root, rels, "ep_day"), 8,
        Map("statsCol" -> "ep_day"))
      graft.sources.SnapshotSql.exec(s,
        s"OPTIMIZE '$root' CLUSTER BY (user_id, ep_day, vmilli) TARGET $X56Files")
      root
    }

  /** The [q1, q2] quartile box of column `c`'s manifest-stats domain
    * at the current version (exact footer bounds, no data scan) —
    * x22UserRange generalized to any stats-carrying column. */
  private[graft] def statsQuartileRange(root: String, c: String): (Long, Long) = {
    val v = currentVersion(root)
    val primary = manifestMeta(root, v).getOrElse("statsCol", "")
    val es = manifestEntries(root, v).map(_.statsFor(c, primary))
    val lo = es.map(_._1).min
    val hi = es.map(_._2).max
    require(lo != Long.MinValue && hi != Long.MaxValue,
      s"statsQuartileRange on $root: column $c carries no stats")
    (lo + (hi - lo) / 4, lo + (hi - lo) / 2)
  }

  /** x56_clusterby_box — a THREE-dimensional box aggregate over the
    * multi-key-clustered snapshot (r20): `OPTIMIZE CLUSTER BY
    * (user_id, ep_day, vmilli)` interleaves three independent
    * dimensions into one curve, so the manifest's per-file stats
    * bound ALL THREE columns and `readPrunedBox` opens only the files
    * owning the box's corner — pruning on any single dimension or all
    * at once, where v1's round-robin layout prunes nothing
    * (ClusterBySpec counts both). Box bounds are each dimension's
    * stats-domain quartiles, derived identically in the DuckDB
    * oracle, so the answer is SF-independent and fully checked. */
  def x56ClusterByBox(s: SparkSession, d: String): DataFrame = {
    val root = clusterByTable(s, d)
    val (ulo, uhi) = statsQuartileRange(root, "user_id")
    val (dlo, dhi) = statsQuartileRange(root, "ep_day")
    val (vlo, vhi) = statsQuartileRange(root, "vmilli")
    readPrunedBox(s, root, "user_id",
      Seq(("user_id", ulo, uhi), ("ep_day", dlo, dhi), ("vmilli", vlo, vhi)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("event_type")
  }

  val x56Sql: String =
    """WITH e AS (SELECT user_id, event_type, value,
      |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day,
      |  CAST(round(value * 1000.0, 0) AS BIGINT) AS vmilli FROM events),
      |b AS (SELECT MIN(user_id) AS ulo, MAX(user_id) AS uhi,
      |  MIN(ep_day) AS dlo, MAX(ep_day) AS dhi,
      |  MIN(vmilli) AS vlo, MAX(vmilli) AS vhi FROM e)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM e CROSS JOIN b
      |WHERE user_id BETWEEN ulo + (uhi - ulo) // 4 AND ulo + (uhi - ulo) // 2
      |  AND ep_day BETWEEN dlo + (dhi - dlo) // 4 AND dlo + (dhi - dlo) // 2
      |  AND vmilli BETWEEN vlo + (vhi - vlo) // 4 AND vlo + (vhi - vlo) // 2
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** x54_column_stats — file pruning on a NON-cluster column (r20): the
    * same day-clustered table as x15/x21 (statsCol = ep_day), queried
    * by an `event_id` range through the standard DSv2 `.filter(...)`
    * route. The commit-time harvest collects min/max for EVERY
    * top-level integral column, so the scan builder judges the
    * event_id predicate against each file's own harvested range —
    * event_ids are assigned in timestamp order, so the day-clustered
    * layout gives tight disjoint per-file event_id ranges and the
    * middle-quartile window opens ~2 of 7 files (PlanSpec counts
    * them). This is Delta's default-32-column stats behavior: a
    * user's SECOND predicate prunes without any declared cluster or
    * z-order relationship. The window bounds derive from the
    * manifest's own row counts (event ids are 0..count-1), so the
    * query holds at any SF; the DuckDB oracle computes the same
    * bounds from COUNT(*). */
  def x54ColumnStats(s: SparkSession, d: String): DataFrame = {
    val root = statsTable(s, d)
    val n = manifestEntries(root, currentVersion(root)).map(_.rows).sum
    s.read.format("graft-snapshot").load(root)
      .filter(col("event_id") >= n / 4 && col("event_id") < n / 2)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("event_type")
  }

  val x54Sql: String =
    """WITH n AS (SELECT COUNT(*) AS c FROM events)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM events, n WHERE event_id >= c // 4 AND event_id < c // 2
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** x23_incremental_mv — materialized-view maintenance from the change
    * feed, the job x19's CDC exists to power: the day-grain aggregate
    * MV computed at v1 is brought to v2 by applying ONE commit's
    * signed row deltas (insert = +1/+value, delete = −1/−value) in a
    * full-outer merge — the base table is never rescanned. Groups whose
    * maintained count reaches zero are dropped (a fully-deleted day
    * leaves no MV row, exactly as a recompute would). At 100 TB the MV
    * refresh cost is O(one commit's changed files + MV size), not
    * O(table) — the difference between a nightly full rebuild and a
    * minutes-behind view. The DuckDB oracle recomputes the SAME
    * aggregate over the functionally-merged log, so the gate proves
    * delta-maintenance ≡ recompute. */
  def x23IncrementalMv(s: SparkSession, d: String): DataFrame = {
    val root = mergeTable(s, d)
    val v = currentVersion(root)
    // the MV as of the PRE-merge snapshot (in production this is the
    // stored MV table, not a recompute — building it here stands in
    // for reading it)
    val mv0 = readAt(s, root, v - 1)
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("value_dec"))
    // one commit's signed deltas, aggregated to the MV's grain
    val delta = changesBetween(s, root, v - 1, v)
      .withColumn("sgn", when(col("change_type") === "insert", 1L).otherwise(-1L))
      .groupBy(col("ep_day"))
      .agg(sum(col("sgn")).as("d_n"),
        sum(col("value").cast("decimal(18,6)") * col("sgn")).as("d_value"))
    mv0.join(delta, Seq("ep_day"), "full_outer")
      .select(col("ep_day"),
        (coalesce(col("n_events"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n_events"),
        (coalesce(col("value_dec"), lit(0).cast("decimal(18,6)"))
          + coalesce(col("d_value"), lit(0).cast("decimal(18,6)"))).as("value_dec"))
      .filter(col("n_events") > 0)
      .select(col("ep_day"), col("n_events"),
        col("value_dec").cast("decimal(18,6)").cast("double").as("value_sum"))
      .orderBy("ep_day")
  }

  val x14Sql: String =
    """WITH e AS (SELECT event_id,
      |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day,
      |  CASE WHEN CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) = 19751
      |    THEN value + 100.0 ELSE value END AS value
      |  FROM events)
      |SELECT ep_day, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM e GROUP BY ep_day ORDER BY ep_day""".stripMargin

  // lazy: x24Sql is declared below the map (object init is declaration
  // order — an eager val would capture null for forward references)
  lazy val entries: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "x14_snapshot_table" -> (x14SnapshotTable _, Some(x14Sql)),
    "x15_stats_pruning" -> (x15StatsPruning _, Some(x15Sql)),
    "x16_cluster_optimize" -> (x16ClusterOptimize _, Some(x16Sql)),
    "x17_merge_upsert" -> (x17MergeUpsert _, Some(x17Sql)),
    "x18_schema_evolution" -> (x18SchemaEvolution _, Some(x18Sql)),
    "x19_incremental_read" -> (x19IncrementalRead _, Some(x19Sql)),
    "x20_point_lookup" -> (x20PointLookup _, Some(x20Sql)),
    "x21_source_pushdown" -> (x21SourcePushdown _, Some(x15Sql)),
    "x22_zorder_box" -> (x22ZorderBox _, Some(x22Sql)),
    "x23_incremental_mv" -> (x23IncrementalMv _, Some(x17Sql)),
    "x24_catalog_sql" -> (x24CatalogSql _, Some(x24Sql)),
    "x25_sql_update" -> (x25SqlUpdate _, Some(x25Sql)),
    "x28_sql_delete" -> (x28SqlDelete _, Some(x28Sql)),
    "x29_time_travel" -> (x29TimeTravel _, Some(x29Sql)),
    "x30_alter_add_column" -> (x30AlterAddColumn _, Some(x30Sql)),
    "x31_restore" -> (x31Restore _, Some(x31Sql)),
    "x32_shallow_clone" -> (x32ShallowClone _, Some(x32Sql)),
    "x33_ansi_merge" -> (x33AnsiMerge _, Some(x33Sql)),
    "x34_merge_sync" -> (x34MergeSync _, Some(x34Sql)),
    "x35_column_mapping" -> (x35ColumnMapping _, Some(x35Sql)),
    "x36_deletion_vectors" -> (x36DeletionVectors _, Some(x36Sql)),
    "x37_mor_update" -> (x37MorUpdate _, Some(x37Sql)),
    "x38_check_constraint" -> (x38CheckConstraint _, Some(x38Sql)),
    "x39_type_widening" -> (x39TypeWidening _, Some(x39Sql)),
    "x40_generated_columns" -> (x40GeneratedColumns _, Some(x40Sql)),
    "x41_row_tracking" -> (x41RowTracking _, Some(x41Sql)),
    "x42_merge_evolution" -> (x42MergeEvolution _, Some(x42Sql)),
    "x43_identity" -> (x43Identity _, Some(x43Sql)),
    "x44_nested_colmap" -> (x44NestedColmap _, Some(x44Sql)),
    "x45_convert_in_place" -> (x45ConvertInPlace _, Some(x45Sql)),
    "x46_column_defaults" -> (x46ColumnDefaults _, Some(x46Sql)),
    "x47_list_columns" -> (x47ListColumns _, Some(x47Sql)),
    "x48_map_columns" -> (x48MapColumns _, Some(x48Sql)),
    "x49_deep_colmap" -> (x49DeepColmap _, Some(x49Sql)),
    "x50_optimized_write" -> (x50OptimizedWrite _, Some(x50Sql)),
    "x51_reorg_purge" -> (x51ReorgPurge _, Some(x51Sql)),
    "x52_table_tags" -> (x52TableTags _, Some(x52Sql)),
    "x53_deep_clone" -> (x53DeepClone _, Some(x53Sql)),
    "x54_column_stats" -> (x54ColumnStats _, Some(x54Sql)),
    "x55_branch_wap" -> (x55BranchWap _, Some(x55Sql)),
    "x56_clusterby_box" -> (x56ClusterByBox _, Some(x56Sql)),
  )

  /** x24_catalog_sql — the name-addressed warehouse surface end-to-end
    * through PLAIN spark.sql: CTAS into a `graft.sources.GraftCatalog`
    * table, a follow-up INSERT INTO (a second snapshot version), and an
    * aggregate SELECT back — no paths, no Scala helpers, the workflow a
    * SQL-only user runs. The catalog resolves names to snapshot-table
    * directories, so the CTAS write is the connector's distributed
    * per-task append and the SELECT is the pushdown-capable DSv2 scan.
    * Oracle: the same aggregate over the two source slices in DuckDB. */
  def x24CatalogSql(s: SparkSession, d: String): DataFrame = {
    if (!s.conf.getOption("spark.sql.catalog.gx").exists(_.nonEmpty)) {
      s.conf.set("spark.sql.catalog.gx", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gx.root", Engine.tmpDir("graft_warehouse"))
    }
    graft.sources.Tables.orders(s, d).createOrReplaceTempView("x24_orders_src")
    s.sql("DROP TABLE IF EXISTS gx.x24_osum")
    s.sql("""CREATE TABLE gx.x24_osum AS
      SELECT o_custkey, o_totalprice FROM x24_orders_src WHERE o_totalprice >= 200000""")
    s.sql("""INSERT INTO gx.x24_osum
      SELECT o_custkey, o_totalprice FROM x24_orders_src WHERE o_totalprice < 50000""")
    s.sql("""SELECT o_custkey, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
      FROM gx.x24_osum GROUP BY o_custkey HAVING COUNT(*) >= 2 ORDER BY o_custkey""")
  }

  val x24Sql: String =
    """SELECT o_custkey, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
      |FROM (SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice >= 200000
      |      UNION ALL
      |      SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice < 50000) x
      |GROUP BY o_custkey HAVING COUNT(*) >= 2 ORDER BY o_custkey""".stripMargin

  /** x25's UPDATE predicate bounds (epoch days, mid-range): a 6-day
    * window inside the 30-day log, so the copy-on-write rewrite touches
    * ~2 of the 7 five-day files and carries the rest by reference
    * (SnapshotSqlSpec reads the `update: cow:NofM` audit). */
  private[graft] val X25Lo = 19735L
  private[graft] val X25Hi = 19740L

  /** x25_sql_update — standard-spelling SQL UPDATE against a
    * path-addressed snapshot table, through the injected parser (the
    * Delta-habituated verb VERDICT r11 flagged missing): clicks in a
    * mid-range day window are repriced ×2 and relabeled, copy-on-write,
    * then the whole table is re-aggregated. The DuckDB oracle applies
    * the same CASE transform to the raw log — proving UPDATE ≡ the
    * relational rewrite it abbreviates, while the plan only rewrote the
    * touched files (the audit trail in the commit meta). Fresh table
    * per call: UPDATE mutates, so sharing x15's memoized fixture would
    * poison every stats-pruning query after it. */
  def x25SqlUpdate(s: SparkSession, d: String): DataFrame = {
    val root = Engine.tmpDir("graft_x25_update")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    commitEntries(root, 0, stageDayClustered(s, d, root), shardSize = 3,
      Map("statsCol" -> "ep_day"))
    s.sql(s"UPDATE '$root' SET value = value * 2, event_type = 'promo' " +
      s"WHERE ep_day BETWEEN $X25Lo AND $X25Hi AND event_type = 'click'").collect()
    read(s, root)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("event_type")
  }

  val x25Sql: String =
    s"""WITH e AS (SELECT event_type, value,
       |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events),
       |u AS (SELECT
       |  CASE WHEN ep_day BETWEEN $X25Lo AND $X25Hi AND event_type = 'click'
       |    THEN 'promo' ELSE event_type END AS event_type,
       |  CASE WHEN ep_day BETWEEN $X25Lo AND $X25Hi AND event_type = 'click'
       |    THEN value * 2 ELSE value END AS value FROM e)
       |SELECT event_type, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
       |FROM u GROUP BY event_type ORDER BY event_type""".stripMargin

  /** x28's DELETE predicate bounds (epoch days, early-range): a 6-day
    * window, so the find-touched scan confines the copy-on-write to
    * ~2 of the 7 five-day files (SnapshotSqlSpec reads the
    * `delete: cow:NofM` audit for the same shape). */
  private[graft] val X28Lo = 19726L
  private[graft] val X28Hi = 19731L

  /** x28_sql_delete — standard-spelling SQL DELETE against a snapshot
    * table via the injected parser (completing the DML matrix:
    * MERGE / UPDATE / DELETE, each path- and name-addressed): view
    * events in an early day window are deleted copy-on-write (only
    * the files actually holding matching rows are rewritten — the
    * find-touched scan pushes the predicate to the parquet scan), then
    * the whole table is re-aggregated. The DuckDB oracle filters the
    * raw log with the negated predicate — proving DELETE ≡ the
    * relational filter it abbreviates while the plan only rewrote the
    * touched files. Fresh table per call: DELETE mutates. */
  def x28SqlDelete(s: SparkSession, d: String): DataFrame = {
    val root = Engine.tmpDir("graft_x28_delete")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    commitEntries(root, 0, stageDayClustered(s, d, root), shardSize = 3,
      Map("statsCol" -> "ep_day"))
    s.sql(s"DELETE FROM '$root' " +
      s"WHERE ep_day BETWEEN $X28Lo AND $X28Hi AND event_type = 'view'").collect()
    read(s, root)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("event_type")
  }

  val x28Sql: String =
    s"""WITH e AS (SELECT event_type, value,
       |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events)
       |SELECT event_type, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
       |FROM e
       |WHERE NOT (ep_day BETWEEN $X28Lo AND $X28Hi AND event_type = 'view')
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** x29's slice modulus and DELETE bound (epoch day, early range). */
  private[graft] val X29Mod = 10L
  private[graft] val X29Cut = 19732L

  /** x29_time_travel — SQL time travel through the STANDARD Spark
    * surface: `SELECT ... FROM cat.tbl VERSION AS OF n` resolving via
    * `TableCatalog.loadTable(ident, version)` on
    * [[graft.sources.GraftCatalog]]. A CTAS lands v1, a DSv2 DELETE
    * commits v2; the query reads BOTH snapshots side by side — v1 must
    * still surface every pre-delete row (data files are immutable;
    * the manifest IS the snapshot, so the historical plan costs the
    * same one-manifest read as the current one). Oracle: the raw log
    * slice (v1) and its negated-predicate filter (current). */
  def x29TimeTravel(s: SparkSession, d: String): DataFrame = {
    if (!s.conf.getOption("spark.sql.catalog.gx").exists(_.nonEmpty)) {
      s.conf.set("spark.sql.catalog.gx", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gx.root", Engine.tmpDir("graft_warehouse"))
    }
    Tables.events(s, d)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .filter(col("event_id") % X29Mod === 0)
      .select("event_id", "event_type", "value", "ep_day")
      .createOrReplaceTempView("x29_events_src")
    s.sql("DROP TABLE IF EXISTS gx.x29_tt")
    s.sql("CREATE TABLE gx.x29_tt AS SELECT * FROM x29_events_src")
    s.sql(s"DELETE FROM gx.x29_tt WHERE ep_day <= $X29Cut")
    s.sql("""SELECT 'v1' AS snap, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      FROM gx.x29_tt VERSION AS OF 1
      UNION ALL
      SELECT 'current' AS snap, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      FROM gx.x29_tt
      ORDER BY snap""")
  }

  /** x30's day split: rows at or before the cut land in the narrow CTAS,
    * rows after it arrive through the post-ALTER wide INSERT. */
  private[graft] val X30Cut = 19737L

  /** x30_alter_add_column — METADATA-ONLY schema widening through the
    * standard SQL surface: CTAS lands a narrow table, `ALTER TABLE ...
    * ADD COLUMN` commits a widened all-nullable capture WITHOUT
    * touching a data file, and the next INSERT carries the new column.
    * The read mixes widths: pre-ALTER files null-fill `quality`,
    * post-ALTER files surface it — planned zero-footer from the
    * capture. Oracle: the same split derived from the raw log (narrow
    * half → NULL quality, wide half → value/10). */
  def x30AlterAddColumn(s: SparkSession, d: String): DataFrame = {
    if (!s.conf.getOption("spark.sql.catalog.gx").exists(_.nonEmpty)) {
      s.conf.set("spark.sql.catalog.gx", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gx.root", Engine.tmpDir("graft_warehouse"))
    }
    val ev = Tables.events(s, d)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .filter(col("event_id") % X29Mod === 0)
      .select("event_id", "event_type", "value", "ep_day")
    ev.filter(col("ep_day") <= X30Cut).createOrReplaceTempView("x30_narrow_src")
    ev.filter(col("ep_day") > X30Cut)
      .withColumn("quality", col("value") / 10.0)
      .createOrReplaceTempView("x30_wide_src")
    s.sql("DROP TABLE IF EXISTS gx.x30_ev")
    s.sql("CREATE TABLE gx.x30_ev AS SELECT * FROM x30_narrow_src")
    s.sql("ALTER TABLE gx.x30_ev ADD COLUMN quality DOUBLE")
    s.sql("INSERT INTO gx.x30_ev SELECT * FROM x30_wide_src")
    s.sql("""SELECT event_type,
        COUNT(*) AS n_events,
        SUM(CASE WHEN quality IS NULL THEN 1 ELSE 0 END) AS n_pre_alter,
        CAST(SUM(CAST(COALESCE(quality, 0.0) AS DECIMAL(18,6))) AS DOUBLE) AS q_sum
      FROM gx.x30_ev GROUP BY event_type ORDER BY event_type""")
  }

  val x30Sql: String =
    s"""WITH e AS (SELECT event_type, value,
       |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events
       |  WHERE event_id % $X29Mod = 0),
       |w AS (SELECT event_type,
       |  CASE WHEN ep_day > $X30Cut THEN value / 10.0 ELSE NULL END AS quality
       |  FROM e)
       |SELECT event_type, COUNT(*) AS n_events,
       |  CAST(SUM(CASE WHEN quality IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pre_alter,
       |  CAST(SUM(CAST(COALESCE(quality, 0.0) AS DECIMAL(18,6))) AS DOUBLE) AS q_sum
       |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin

  val x29Sql: String =
    s"""WITH e AS (SELECT value,
       |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events
       |  WHERE event_id % $X29Mod = 0)
       |SELECT 'v1' AS snap, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
       |FROM e
       |UNION ALL
       |SELECT 'current' AS snap, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
       |FROM e WHERE ep_day > $X29Cut
       |ORDER BY snap""".stripMargin

  /** x31_restore — the undo verb through plain SQL: a CTAS lands v1, a
    * DSv2 DELETE commits v2 (dropping the early days), and
    * `RESTORE TABLE ... TO VERSION AS OF 1` mints v3 whose manifest
    * re-lists v1's files — metadata-only, zero data movement, the
    * deleted rows are back because their files never left the disk.
    * The query reads the superseded DELETE snapshot (still
    * time-travelable) beside the restored current state; the oracle
    * derives both from the raw log. */
  def x31Restore(s: SparkSession, d: String): DataFrame = {
    if (!s.conf.getOption("spark.sql.catalog.gx").exists(_.nonEmpty)) {
      s.conf.set("spark.sql.catalog.gx", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gx.root", Engine.tmpDir("graft_warehouse"))
    }
    Tables.events(s, d)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .filter(col("event_id") % X29Mod === 0)
      .select("event_id", "event_type", "value", "ep_day")
      .createOrReplaceTempView("x31_events_src")
    s.sql("DROP TABLE IF EXISTS gx.x31_rt")
    s.sql("CREATE TABLE gx.x31_rt AS SELECT * FROM x31_events_src")
    s.sql(s"DELETE FROM gx.x31_rt WHERE ep_day <= $X29Cut")
    s.sql("RESTORE TABLE gx.x31_rt TO VERSION AS OF 1")
    s.sql("""SELECT 'deleted' AS snap, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      FROM gx.x31_rt VERSION AS OF 2
      UNION ALL
      SELECT 'restored' AS snap, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      FROM gx.x31_rt
      ORDER BY snap""")
  }

  val x31Sql: String =
    s"""WITH e AS (SELECT value,
       |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events
       |  WHERE event_id % $X29Mod = 0)
       |SELECT 'deleted' AS snap, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
       |FROM e WHERE ep_day > $X29Cut
       |UNION ALL
       |SELECT 'restored' AS snap, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
       |FROM e
       |ORDER BY snap""".stripMargin

  /** x32_shallow_clone — the zero-copy fork through plain SQL: a CTAS
    * lands the source, `CREATE TABLE ... SHALLOW CLONE` forks it as ONE
    * manifest commit (no data movement — at 100 TB a dev/test fork is
    * free), then a DSv2 DELETE mutates the CLONE copy-on-write. The
    * query reads both tables side by side: the source must be
    * bit-untouched by the clone's DML (its files were only ever READ),
    * the clone holds the post-delete slice. Oracle: the full slice and
    * its filtered half from the raw log. */
  def x32ShallowClone(s: SparkSession, d: String): DataFrame = {
    if (!s.conf.getOption("spark.sql.catalog.gx").exists(_.nonEmpty)) {
      s.conf.set("spark.sql.catalog.gx", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gx.root", Engine.tmpDir("graft_warehouse"))
    }
    Tables.events(s, d)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .filter(col("event_id") % X29Mod === 0)
      .select("event_id", "event_type", "value", "ep_day")
      .createOrReplaceTempView("x32_events_src")
    s.sql("DROP TABLE IF EXISTS gx.x32_clone")
    s.sql("DROP TABLE IF EXISTS gx.x32_src")
    s.sql("CREATE TABLE gx.x32_src AS SELECT * FROM x32_events_src")
    s.sql("CREATE TABLE gx.x32_clone SHALLOW CLONE gx.x32_src")
    s.sql(s"DELETE FROM gx.x32_clone WHERE ep_day <= $X29Cut")
    s.sql("""SELECT 'clone' AS side, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      FROM gx.x32_clone
      UNION ALL
      SELECT 'src' AS side, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      FROM gx.x32_src
      ORDER BY side""")
  }

  val x32Sql: String =
    s"""WITH e AS (SELECT value,
       |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events
       |  WHERE event_id % $X29Mod = 0)
       |SELECT 'clone' AS side, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
       |FROM e WHERE ep_day > $X29Cut
       |UNION ALL
       |SELECT 'src' AS side, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
       |FROM e
       |ORDER BY side""".stripMargin

  /** x33_ansi_merge — the standard MERGE spelling end to end: a CTAS
    * target, a source view mixing updates (conditional SET referencing
    * BOTH aliases), deletes (the fall-through matched clause), and
    * inserts (INSERT * backfill rows), applied by ONE statement. The
    * oracle derives the same end state functionally from the raw log —
    * proving the match-discovering route ≡ the relational rewrite it
    * abbreviates, while the underlying merge still only rewrote
    * stats-touched files (the `merge: cow:...` audit). */
  def x33AnsiMerge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    if (!s.conf.getOption("spark.sql.catalog.gx").exists(_.nonEmpty)) {
      s.conf.set("spark.sql.catalog.gx", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gx.root", Engine.tmpDir("graft_warehouse"))
    }
    val ev = Tables.events(s, d)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .filter(col("event_id") % X29Mod === 0)
      .select("event_id", "event_type", "value", "ep_day")
    ev.createOrReplaceTempView("x33_tgt_src")
    s.sql("DROP TABLE IF EXISTS gx.x33_t")
    s.sql("CREATE TABLE gx.x33_t AS SELECT * FROM x33_tgt_src")
    // cluster by day before the DML — the production discipline that
    // makes the merge's rewrite confined: the changeset (window updates
    // + per-day backfills) spans ~2 of the day-clustered files, and
    // ansiMerge prunes on the table's statsCol (the 8×/32× probe's
    // audit shows cow:2ofN; an unclustered CTAS target has no stats
    // and would honestly rewrite everything)
    s.sql("OPTIMIZE gx.x33_t CLUSTER BY (ep_day) TARGET 7")
    val win = ev.filter(col("ep_day").between(X17Lo, X17Hi))
    val ups = win.filter(col("event_id") % 20 === 0)
      .select(col("event_id"), lit("upd").as("event_type"),
        lit(1000.0).as("value"), col("ep_day"))
    val dels = win.filter(col("event_id") % 20 === 10)
      .select(col("event_id"), lit("del").as("event_type"),
        lit(-1.0).as("value"), col("ep_day"))
    val ins = (X17Lo to X17Hi).map(day => (-day, "backfill", 1.0, day))
      .toDF("event_id", "event_type", "value", "ep_day")
    ups.unionByName(dels).unionByName(ins).createOrReplaceTempView("x33_changes")
    s.sql("""MERGE INTO gx.x33_t AS t USING x33_changes AS s ON t.event_id = s.event_id
      WHEN MATCHED AND s.value >= 0 THEN UPDATE SET value = t.value + s.value
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED THEN INSERT *""")
    s.sql("""SELECT ep_day, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      FROM gx.x33_t GROUP BY ep_day ORDER BY ep_day""")
  }

  val x33Sql: String =
    s"""WITH e AS (SELECT event_id, value,
       |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events
       |  WHERE event_id % $X29Mod = 0),
       |m AS (
       |  SELECT event_id,
       |    CASE WHEN ep_day BETWEEN $X17Lo AND $X17Hi AND event_id % 20 = 0
       |      THEN value + 1000.0 ELSE value END AS value, ep_day
       |  FROM e
       |  WHERE NOT (ep_day BETWEEN $X17Lo AND $X17Hi AND event_id % 20 = 10)
       |  UNION ALL
       |  SELECT -d AS event_id, CAST(1.0 AS DOUBLE) AS value, d AS ep_day
       |  FROM generate_series($X17Lo, $X17Hi) AS g(d))
       |SELECT ep_day, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
       |FROM m GROUP BY ep_day ORDER BY ep_day""".stripMargin

  /** x34_merge_sync — one MERGE statement mixing all THREE clause
    * families (the warehouse-sync shape): the source is a PARTIAL
    * re-snapshot covering only the sync window's days, so within the
    * window MATCHED rows reconcile (conditional UPDATE), rows absent
    * from the source are stale (`WHEN NOT MATCHED BY SOURCE` — DELETE
    * a subset, first-match-wins fall-through to a target-only UPDATE
    * marking the rest), and source-only rows INSERT. Rows OUTSIDE the
    * window are also unmatched-by-source but the clause conditions
    * bound them out — the scoped-sync discipline that keeps the
    * rewrite pruned to the window's day-clustered files (every
    * changeset row's ep_day lies in [X17Lo,X17Hi]). The DuckDB twin is
    * the full-outer rewrite of the raw log the statement abbreviates. */
  def x34MergeSync(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    if (!s.conf.getOption("spark.sql.catalog.gx").exists(_.nonEmpty)) {
      s.conf.set("spark.sql.catalog.gx", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gx.root", Engine.tmpDir("graft_warehouse"))
    }
    val ev = Tables.events(s, d)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .filter(col("event_id") % X29Mod === 0)
      .select("event_id", "event_type", "value", "ep_day")
    ev.createOrReplaceTempView("x34_tgt_src")
    s.sql("DROP TABLE IF EXISTS gx.x34_t")
    s.sql("CREATE TABLE gx.x34_t AS SELECT * FROM x34_tgt_src")
    s.sql("OPTIMIZE gx.x34_t CLUSTER BY (ep_day) TARGET 7")
    // the partial re-snapshot: window days only, a third of the ids
    // gone (→ BY SOURCE candidates), half the survivors revalued
    // (→ the MATCHED condition observable both ways), plus new ids
    val win = ev.filter(col("ep_day").between(X17Lo, X17Hi))
    val srcWin = win.filter(col("event_id") % 3 =!= 0)
      .select(col("event_id"), col("event_type"),
        when(col("event_id") % 20 === 0, col("value") + 2.0)
          .otherwise(col("value")).as("value"), col("ep_day"))
    val ins = (X17Lo to X17Hi).map(day => (-day, "backfill", 1.0, day))
      .toDF("event_id", "event_type", "value", "ep_day")
    srcWin.unionByName(ins).createOrReplaceTempView("x34_src")
    s.sql(s"""MERGE INTO gx.x34_t AS t USING x34_src AS s ON t.event_id = s.event_id
      WHEN MATCHED AND s.event_id % 20 = 0 THEN UPDATE SET value = s.value
      WHEN NOT MATCHED BY SOURCE AND t.ep_day BETWEEN $X17Lo AND $X17Hi
        AND t.event_id % 20 = 0 THEN DELETE
      WHEN NOT MATCHED BY SOURCE AND t.ep_day BETWEEN $X17Lo AND $X17Hi
        THEN UPDATE SET event_type = 'stale'
      WHEN NOT MATCHED THEN INSERT *""")
    s.sql("""SELECT ep_day, event_type, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      FROM gx.x34_t GROUP BY ep_day, event_type ORDER BY ep_day, event_type""")
  }

  val x34Sql: String =
    s"""WITH e AS (SELECT event_id, event_type, value,
       |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events
       |  WHERE event_id % $X29Mod = 0),
       |f AS (
       |  SELECT event_id,
       |    CASE WHEN ep_day BETWEEN $X17Lo AND $X17Hi
       |      AND event_id % 3 <> 0 AND event_id % 20 = 0
       |      THEN value + 2.0 ELSE value END AS value,
       |    CASE WHEN ep_day BETWEEN $X17Lo AND $X17Hi
       |      AND event_id % 3 = 0 AND event_id % 20 <> 0
       |      THEN 'stale' ELSE event_type END AS event_type,
       |    ep_day
       |  FROM e
       |  WHERE NOT (ep_day BETWEEN $X17Lo AND $X17Hi
       |    AND event_id % 3 = 0 AND event_id % 20 = 0)
       |  UNION ALL
       |  SELECT -d AS event_id, CAST(1.0 AS DOUBLE) AS value,
       |    'backfill' AS event_type, d AS ep_day
       |  FROM generate_series($X17Lo, $X17Hi) AS g(d))
       |SELECT ep_day, event_type, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
       |FROM f GROUP BY ep_day, event_type ORDER BY ep_day, event_type""".stripMargin

  /** x35_column_mapping — rename/drop column evolution end to end
    * through the PUBLIC SQL routes (Delta's column-mapping design —
    * logical→physical name indirection in the log, see [[colMap]]):
    * CTAS, cluster, then `ALTER TABLE ... RENAME COLUMN value TO
    * amount` and `DROP COLUMN event_type` — both METADATA-ONLY commits
    * (zero files rewritten; at 100 TB a schema refactor is two
    * manifest writes, not a table rewrite) — then an INSERT under the
    * NEW names (write translation), a path-route UPDATE naming the
    * renamed column (DML translation), and the day aggregate read
    * back under the new names. The DuckDB oracle derives the same
    * answer from the raw log with the rename applied functionally —
    * proving mapped reads ≡ the relational rewrite they avoid. */
  def x35ColumnMapping(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    if (!s.conf.getOption("spark.sql.catalog.gx").exists(_.nonEmpty)) {
      s.conf.set("spark.sql.catalog.gx", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gx.root", Engine.tmpDir("graft_warehouse"))
    }
    Tables.events(s, d)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .filter(col("event_id") % X29Mod === 0)
      .select("event_id", "event_type", "value", "ep_day")
      .createOrReplaceTempView("x35_src")
    s.sql("DROP TABLE IF EXISTS gx.x35_t")
    s.sql("CREATE TABLE gx.x35_t AS SELECT * FROM x35_src")
    s.sql("OPTIMIZE gx.x35_t CLUSTER BY (ep_day) TARGET 7")
    s.sql("ALTER TABLE gx.x35_t RENAME COLUMN value TO amount")
    s.sql("ALTER TABLE gx.x35_t DROP COLUMN event_type")
    // write under the NEW names (logical→physical write translation)
    (X17Lo to X17Hi).map(day => (-day, 1.0, day))
      .toDF("event_id", "amount", "ep_day").createOrReplaceTempView("x35_ins")
    s.sql("INSERT INTO gx.x35_t SELECT * FROM x35_ins")
    // DML naming the RENAMED column, through the path route (the same
    // directory the catalog name resolves to)
    val root = Paths.get(Engine.tmpDir("graft_warehouse"), "x35_t").toString
    s.sql(s"UPDATE '$root' SET amount = amount + 5.0 " +
      s"WHERE ep_day BETWEEN $X17Lo AND $X17Hi")
    s.sql("""SELECT ep_day, COUNT(*) AS n_events,
        CAST(SUM(CAST(amount AS DECIMAL(18,6))) AS DOUBLE) AS amount_sum
      FROM gx.x35_t GROUP BY ep_day ORDER BY ep_day""")
  }

  val x35Sql: String =
    s"""WITH e AS (SELECT event_id, value AS amount,
       |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events
       |  WHERE event_id % $X29Mod = 0),
       |f AS (
       |  SELECT amount, ep_day FROM e
       |  UNION ALL
       |  SELECT CAST(1.0 AS DOUBLE) AS amount, d AS ep_day
       |  FROM generate_series($X17Lo, $X17Hi) AS g(d)),
       |u AS (SELECT ep_day,
       |  CASE WHEN ep_day BETWEEN $X17Lo AND $X17Hi
       |    THEN amount + 5.0 ELSE amount END AS amount FROM f)
       |SELECT ep_day, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(amount AS DECIMAL(18,6))) AS DOUBLE) AS amount_sum
       |FROM u GROUP BY ep_day ORDER BY ep_day""".stripMargin

  /** Build (once per session+dir) the deletion-vector fixture: the
    * day-clustered event log on its own root, `dvmode=on`, then two
    * successive sparse point DELETEs through the SQL route — each
    * commits per-file ordinal sidecars (audit `delete: dv:NofM`), not
    * one data byte moves, and the second supersedes the first's
    * sidecars per file (old ∪ new). */
  private val dvMemo = new graft.SessionMemo[String]
  private[graft] def dvTable(s: SparkSession, d: String): String =
    dvMemo.getOrElseUpdate(s, d) {
      val root = Engine.tmpDir("graft_snap_dv")
      Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
      commitEntries(root, 0, stageDayClustered(s, d, root), shardSize = 3,
        Map("statsCol" -> "ep_day"))
      enableDeletionVectors(root)
      s.sql(s"DELETE FROM '$root' WHERE event_id % 997 = 3").collect()
      s.sql(s"DELETE FROM '$root' WHERE event_id % 997 = 5").collect()
      val audit = manifestMeta(root, currentVersion(root)).getOrElse("delete", "")
      assert(audit.startsWith("dv:"),
        s"dv fixture fell back to copy-on-write: audit=$audit")
      root
    }

  /** x36_deletion_vectors — merge-on-read point deletes (Delta's
    * deletion vectors): on a `dvmode=on` table a sparse DELETE commits
    * tiny per-file ORDINAL sidecars instead of rewriting — at 100 TB a
    * 1-row compliance delete is one sidecar write, not a 1 GB file
    * rewrite — and every scan route anti-filters through them (the
    * DSv2 reader skips ordinals in-stream; the Scala route anti-joins
    * the broadcast sidecars). This reads the twice-DV-deleted fixture
    * back through the DSv2 connector — the day aggregate must equal
    * the DuckDB negated-filter recompute, proving DV delete ≡ CoW
    * delete ≡ the relational answer. DvSpec pins the byte-untouched
    * data files, sidecar supersession, OPTIMIZE compaction, and
    * vacuum reclamation. */
  def x36DeletionVectors(s: SparkSession, d: String): DataFrame = {
    val root = dvTable(s, d)
    s.read.format("graft-snapshot").load(root)
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("ep_day")
  }

  val x36Sql: String =
    """WITH e AS (SELECT event_id, value,
      |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events)
      |SELECT ep_day, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM e WHERE event_id % 997 <> 3 AND event_id % 997 <> 5
      |GROUP BY ep_day ORDER BY ep_day""".stripMargin

  /** x37_mor_update — MERGE-ON-READ UPDATE (Delta's
    * deletion-vectors-for-update): on a `dvmode=on` table a sparse
    * UPDATE hides each preimage behind its file's ordinal sidecar and
    * appends ONE postimage file — at 100 TB a targeted price fix
    * moves only the updated rows, never the gigabyte files holding
    * them. Two successive sparse updates (disjoint rows) exercise
    * sidecar supersession; RE-updating a row that lives in a fresh
    * tiny postimage file exceeds THAT file's selectivity cap and
    * falls back to copy-on-write by design — rewriting a small
    * postimage file is cheaper than chaining vectors over it
    * (DvSpec pins the fallback). The day aggregate reads back through the DSv2 route against the
    * DuckDB CASE-split recompute, proving MoR update ≡ the relational
    * rewrite. DvSpec pins the byte-untouched originals, the `mor:`
    * audit, and the CoW fallback past the selectivity cap. */
  private val morMemo = new graft.SessionMemo[String]
  private[graft] def morTable(s: SparkSession, d: String): String =
    morMemo.getOrElseUpdate(s, d) {
      val root = Engine.tmpDir("graft_snap_mor")
      Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
      commitEntries(root, 0, stageDayClustered(s, d, root), shardSize = 3,
        Map("statsCol" -> "ep_day"))
      enableDeletionVectors(root)
      s.sql(s"UPDATE '$root' SET value = value + 1000.0 " +
        "WHERE event_id % 1009 = 7").collect()
      s.sql(s"UPDATE '$root' SET value = value - 500.0 " +
        "WHERE event_id % 1009 = 11").collect()
      val audit = manifestMeta(root, currentVersion(root)).getOrElse("update", "")
      assert(audit.startsWith("mor:"),
        s"mor fixture fell back to copy-on-write: audit=$audit")
      root
    }

  def x37MorUpdate(s: SparkSession, d: String): DataFrame = {
    val root = morTable(s, d)
    s.read.format("graft-snapshot").load(root)
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("ep_day")
  }

  /** x38_check_constraint — write-time CHECK constraints (Delta's
    * `ALTER TABLE ... ADD CONSTRAINT ... CHECK`): ADD validates every
    * RESIDENT row first (one filter-pushed scan — a constraint the
    * data already violates refuses), commits `check.<name>` metadata,
    * and from that version on EVERY write route enforces the
    * expression per row inside the write pipeline — the DSv2 INSERT's
    * task writer evaluates a bound catalyst predicate per row (no
    * second pass over the batch), MERGE/UPDATE route their
    * introduced rows through a codegen'd raise_error projection, the
    * streaming sink checks each micro-batch the same way. A violating
    * row fails the WRITE JOB loudly and no version mints. Here: a
    * high-value CTAS, the constraint, a constrained INSERT of the
    * low tail, and an UPDATE whose SET stays inside the constraint —
    * the final aggregate must equal DuckDB's recompute from the raw
    * orders, proving enforcement never altered a passing row.
    * CheckConstraintSpec pins the refusals on every route. */
  def x38CheckConstraint(s: SparkSession, d: String): DataFrame = {
    if (!s.conf.getOption("spark.sql.catalog.gx").exists(_.nonEmpty)) {
      s.conf.set("spark.sql.catalog.gx", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gx.root", Engine.tmpDir("graft_warehouse"))
    }
    graft.sources.Tables.orders(s, d).createOrReplaceTempView("x38_orders_src")
    s.sql("DROP TABLE IF EXISTS gx.x38_ord")
    s.sql("""CREATE TABLE gx.x38_ord AS
      SELECT o_orderkey, o_custkey, o_totalprice FROM x38_orders_src
      WHERE o_totalprice >= 150000""")
    val root = Paths.get(Engine.tmpDir("graft_warehouse"), "x38_ord").toString
    // resident data validated, constraint committed as table metadata
    s.sql(s"ALTER TABLE '$root' ADD CONSTRAINT price_pos CHECK (o_totalprice > 0)")
    // constrained ingest: every row of the low tail passes the per-row
    // checker inside the DSv2 write tasks
    s.sql("""INSERT INTO gx.x38_ord
      SELECT o_orderkey, o_custkey, o_totalprice FROM x38_orders_src
      WHERE o_totalprice < 60000""")
    // constrained DML: the SET expression keeps every hit positive
    s.sql(s"UPDATE '$root' SET o_totalprice = o_totalprice + 1000.0 " +
      "WHERE o_totalprice < 10000")
    s.sql("""SELECT o_custkey, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
      FROM gx.x38_ord GROUP BY o_custkey HAVING COUNT(*) >= 2 ORDER BY o_custkey""")
  }

  val x38Sql: String =
    """SELECT o_custkey, COUNT(*) AS n, ROUND(SUM(p), 2) AS total FROM (
      |  SELECT o_custkey,
      |    CASE WHEN o_totalprice < 10000 THEN o_totalprice + 1000.0
      |         ELSE o_totalprice END AS p
      |  FROM orders WHERE o_totalprice >= 150000 OR o_totalprice < 60000) x
      |GROUP BY o_custkey HAVING COUNT(*) >= 2 ORDER BY o_custkey""".stripMargin

  /** x39_type_widening — metadata-only TYPE WIDENING (Delta 3.x):
    * a narrow CTAS lands `q_i INT`, `ALTER TABLE ... ALTER COLUMN
    * q_i TYPE BIGINT` rewrites ONLY the schema capture (zero data
    * files move — the audit and WidenSpec pin it), and the next
    * INSERT carries genuinely 64-bit values the old width could not
    * hold. The read plans the widened schema over MIXED files —
    * int32 files upcast in-slot (both the Spark parquet reader and
    * the DSv2 record reader promote) — so the grouped sum must equal
    * DuckDB's recompute with the same day split. Without this verb a
    * wrongly-typed ingest column forces a full table rewrite. */
  def x39TypeWidening(s: SparkSession, d: String): DataFrame = {
    if (!s.conf.getOption("spark.sql.catalog.gx").exists(_.nonEmpty)) {
      s.conf.set("spark.sql.catalog.gx", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gx.root", Engine.tmpDir("graft_warehouse"))
    }
    val ev = Tables.events(s, d)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .filter(col("event_id") % X29Mod === 0)
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 1000).cast("int").as("q_i"), col("ep_day"))
    ev.filter(col("ep_day") <= X30Cut).createOrReplaceTempView("x39_narrow_src")
    // the wide half carries values past Int.MaxValue — unrepresentable
    // before the widening
    ev.filter(col("ep_day") > X30Cut)
      .withColumn("q_i", col("q_i").cast("bigint") + lit(3000000000L))
      .createOrReplaceTempView("x39_wide_src")
    s.sql("DROP TABLE IF EXISTS gx.x39_ev")
    s.sql("CREATE TABLE gx.x39_ev AS SELECT * FROM x39_narrow_src")
    s.sql("ALTER TABLE gx.x39_ev ALTER COLUMN q_i TYPE BIGINT")
    s.sql("INSERT INTO gx.x39_ev SELECT * FROM x39_wide_src")
    s.sql("""SELECT event_type, COUNT(*) AS n_events,
        SUM(q_i) AS q_sum
      FROM gx.x39_ev GROUP BY event_type ORDER BY event_type""")
  }

  /** x40_generated_columns — GENERATED ALWAYS AS (Delta's generated
    * columns): a derivation the TABLE owns. `gen.ep_day` attaches to
    * an existing column after ONE resident-validating scan (metadata-
    * only commit, `gencols` writer feature); from then on every write
    * route enforces `ep_day <=> (expr)` per row through the same
    * seams as CHECK constraints — the DSv2 task writer's bound
    * predicate, merge/update raise_error projections, the streaming
    * sink — so ingest jobs can neither drift the day derivation nor
    * skip it, and stats pruning on the derived clustering column
    * stays sound forever (the 100 TB point: the pruning column's
    * correctness is a TABLE invariant, not a per-job convention).
    * UPDATE recomputes: the SET below shifts the generation INPUT
    * (`ts`) forward one day and ep_day re-derives automatically
    * (Delta's rule — SET on the generated column itself refuses).
    * Oracle: DuckDB recomputes day-from-shifted-ts from the raw
    * events; equality proves attach-validate, enforced ingest, and
    * recompute all preserved the derivation exactly. */
  def x40GeneratedColumns(s: SparkSession, d: String): DataFrame = {
    if (!s.conf.getOption("spark.sql.catalog.gx").exists(_.nonEmpty)) {
      s.conf.set("spark.sql.catalog.gx", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gx.root", Engine.tmpDir("graft_warehouse"))
    }
    val ev = Tables.events(s, d)
      .filter(col("event_id") % X29Mod === 0)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .select("event_id", "user_id", "ts", "value", "ep_day")
    ev.filter(col("ep_day") <= X30Cut).createOrReplaceTempView("x40_head_src")
    ev.filter(col("ep_day") > X30Cut).createOrReplaceTempView("x40_tail_src")
    s.sql("DROP TABLE IF EXISTS gx.x40_ev")
    s.sql("CREATE TABLE gx.x40_ev AS SELECT * FROM x40_head_src")
    val root = Paths.get(Engine.tmpDir("graft_warehouse"), "x40_ev").toString
    // attach: ONE resident-validating scan, then a metadata-only commit
    s.sql("ALTER TABLE gx.x40_ev SET TBLPROPERTIES " +
      "('gen.ep_day' = '(ts div 1000000000) div 86400')")
    // enforced ingest: the tail's ep_day verifies per row inside the
    // DSv2 write tasks (a drifted derivation would fail the job)
    s.sql("INSERT INTO gx.x40_ev SELECT * FROM x40_tail_src")
    // the generation INPUT shifts; ep_day re-derives automatically
    s.sql(s"UPDATE '$root' SET ts = ts + 86400000000000 WHERE user_id % 37 = 3")
    s.read.format("graft-snapshot").load(root)
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("ep_day")
  }

  /** x41_row_tracking — ROW TRACKING (Delta 3.x's row IDs): every row
    * a stable numeric identity across DML. The proof is load-bearing:
    * the query captures (id, key, value) BEFORE a value-shifting
    * UPDATE and a DELETE, re-reads after, joins PRE to POST **on
    * `_row_id` alone**, and aggregates per day — survivor counts,
    * changed-value counts, key-consistency counts and the value delta
    * all come THROUGH the id join, so if one id moved, vanished or
    * crossed rows, the join drops or mismatches rows and the DuckDB
    * recompute (which derives the same numbers from the raw events)
    * diverges. The UPDATE is copy-on-write here, so ids survive only
    * because the rewrite MATERIALIZES them — exactly the machinery
    * under test. */
  def x41RowTracking(s: SparkSession, d: String): DataFrame = {
    val root = Engine.tmpDir("graft_x41_rt")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    val ev = Tables.events(s, d)
      .filter(col("event_id") % X29Mod === 0)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .select("event_id", "ep_day", "value")
    commitEntries(root, 0,
      writeDataFiles(ev.repartitionByRange(7, col("ep_day")), root, "seed")
        .map(footerEntry(root, _, "ep_day")),
      16, Map("statsCol" -> "ep_day"))
    enableRowTracking(s, root)
    val pre = readWithRowIds(s, root)
      .select(col("_row_id"), col("event_id").as("pre_eid"),
        col("value").as("pre_v")).localCheckpoint(true)
    update(s, root, Seq("value" -> "value + 50.0"), "event_id % 11 = 3")
    delete(s, root, "event_id % 13 = 5")
    readWithRowIds(s, root).join(pre, Seq("_row_id"))
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_survivors"),
        sum(when(col("value") =!= col("pre_v"), 1L).otherwise(0L)).as("n_updated"),
        sum(when(col("event_id") === col("pre_eid"), 1L).otherwise(0L))
          .as("n_key_consistent"),
        round(sum(col("value") - col("pre_v")), 2).as("delta_sum"))
      .orderBy("ep_day")
  }

  val x41Sql: String =
    s"""WITH e AS (SELECT event_id, value,
       |    CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day
       |  FROM events WHERE event_id % $X29Mod = 0),
       |s AS (SELECT * FROM e WHERE event_id % 13 != 5)
       |SELECT ep_day, COUNT(*) AS n_survivors,
       |  CAST(SUM(CASE WHEN event_id % 11 = 3 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_updated,
       |  COUNT(*) AS n_key_consistent,
       |  ROUND(SUM(CASE WHEN event_id % 11 = 3 THEN 50.0 ELSE 0 END), 2)
       |    AS delta_sum
       |FROM s GROUP BY ep_day ORDER BY ep_day""".stripMargin

  /** x43_identity — GENERATED ALWAYS AS IDENTITY (r15, Delta's
    * identity columns) riding the x41 high-water allocator: the column
    * IS the row-tracking id under a user-facing name, so every commit
    * claims a contiguous dense range [hw, hw+rows) with zero per-row
    * write cost, CAS-serialized against concurrent writers. The query
    * ingests THREE batches (seed + two sink appends) with a
    * copy-on-write UPDATE between them (ids materialize through the
    * rewrite), then proves uniqueness + density THROUGH the oracle:
    * per-batch COUNT/MIN/MAX/COUNT-DISTINCT of the identity must equal
    * the DuckDB row_number twin's cumulative offsets — a duplicated,
    * skipped or re-assigned id diverges min/max/distinct. */
  def x43Identity(s: SparkSession, d: String): DataFrame = {
    val root = Engine.tmpDir("graft_x43_ident")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    val ev = Tables.events(s, d)
      .filter(col("event_id") % X29Mod === 0)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .select("event_id", "ep_day", "value")
    val (cutA, cutB) = (19735L, 19745L)
    commitEntries(root, 0,
      writeDataFiles(ev.filter(col("ep_day") <= cutA)
        .repartitionByRange(3, col("ep_day")), root, "seed")
        .map(footerEntry(root, _, "ep_day")),
      16, Map("statsCol" -> "ep_day"))
    setIdentityColumn(s, root, "row_sk")
    graft.streaming.SnapshotSink.appendBatch(root,
      ev.filter(col("ep_day") > cutA && col("ep_day") <= cutB),
      batchId = 0L, keyCol = "ep_day")
    graft.streaming.SnapshotSink.appendBatch(root,
      ev.filter(col("ep_day") > cutB), batchId = 1L, keyCol = "ep_day")
    // a CoW UPDATE after ingest: survivors' ids materialize into the
    // rewritten files and MUST NOT move (the oracle's per-batch
    // min/max/distinct would diverge if one did). Density is an
    // INGEST property: a rewrite's files claim fresh base ranges (a
    // merge-inserted row resolves by base, so the ranges must be
    // virgin), leaving id-space gaps after DML — Delta's identity
    // contract too (uniqueness always; density between DML).
    update(s, root, Seq("value" -> "value + 50.0"),
      s"ep_day <= $cutA AND event_id % 11 = 3")
    read(s, root)
      .withColumn("batch", when(col("ep_day") <= cutA, "a")
        .when(col("ep_day") <= cutB, "b").otherwise("c"))
      .groupBy("batch")
      .agg(count(lit(1)).as("n_rows"),
        min(col("row_sk")).as("min_id"), max(col("row_sk")).as("max_id"),
        countDistinct(col("row_sk")).as("n_distinct"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("batch")
  }

  val x43Sql: String =
    s"""WITH e AS (SELECT event_id, value,
       |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events
       |  WHERE event_id % $X29Mod = 0),
       |t AS (SELECT
       |  CASE WHEN ep_day <= 19735 THEN 'a'
       |       WHEN ep_day <= 19745 THEN 'b' ELSE 'c' END AS batch,
       |  CASE WHEN ep_day <= 19735 AND event_id % 11 = 3
       |       THEN value + 50.0 ELSE value END AS value FROM e),
       |s AS (SELECT batch, COUNT(*) AS n_rows,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
       |  FROM t GROUP BY batch),
       |o AS (SELECT batch, n_rows, value_sum,
       |  CAST(SUM(n_rows) OVER (ORDER BY batch) - n_rows AS BIGINT) AS off FROM s)
       |SELECT batch, n_rows, off AS min_id, off + n_rows - 1 AS max_id,
       |  n_rows AS n_distinct, value_sum
       |FROM o ORDER BY batch""".stripMargin

  /** x44_nested_colmap — NESTED column mapping (r16, Delta's
    * struct-field mapping; arbitrary depth since r19 — this gate
    * fixture exercises depth 1, ColumnMappingSpec covers depth 2-3):
    * a table whose `props`
    * STRUCT column holds (event_type, value), evolved by
    * `ALTER TABLE '<path>' RENAME COLUMN props.value TO amount` and
    * `DROP COLUMN props.event_type` — both METADATA-ONLY commits
    * (dotted colmap entries; zero files move; the mint stamps the
    * `ncolmap` reader feature so a nested-ignorant binary refuses
    * instead of serving raw physical field names) — then a path-SQL
    * UPDATE whose predicate names the RENAMED field (`props.amount`,
    * DML read translation through the rebuilt struct projection) and
    * the day aggregate read back through the field mapping. The DuckDB
    * oracle derives the same answer functionally from the raw events
    * log — mapped struct reads ≡ the relational rewrite they avoid. */
  def x44NestedColmap(s: SparkSession, d: String): DataFrame = {
    val root = Engine.tmpDir("graft_x44_ncolmap")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    val ev = Tables.events(s, d)
      .filter(col("event_id") % X29Mod === 0)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .select(col("event_id"), col("ep_day"), lit(0.0).as("flag"),
        struct(col("event_type"), col("value")).as("props"))
    commitEntries(root, 0,
      writeDataFiles(ev.repartitionByRange(4, col("ep_day")), root, "seed")
        .map(footerEntry(root, _, "ep_day")),
      16, Map("statsCol" -> "ep_day"))
    s.sql(s"ALTER TABLE '$root' RENAME COLUMN props.value TO amount").collect()
    s.sql(s"ALTER TABLE '$root' DROP COLUMN props.event_type").collect()
    s.sql(s"UPDATE '$root' SET flag = 1.0 WHERE props.amount > 10.0").collect()
    read(s, root)
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("props.amount").cast("decimal(18,6)")).cast("double").as("amount_sum"),
        sum(col("flag").cast("decimal(18,6)")).cast("double").as("n_flagged"))
      .orderBy("ep_day")
  }

  val x44Sql: String =
    s"""WITH e AS (SELECT value AS amount,
       |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day
       |  FROM events WHERE event_id % $X29Mod = 0)
       |SELECT ep_day, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(amount AS DECIMAL(18,6))) AS DOUBLE) AS amount_sum,
       |  CAST(SUM(CAST(CASE WHEN amount > 10.0 THEN 1.0 ELSE 0.0 END
       |    AS DECIMAL(18,6))) AS DOUBLE) AS n_flagged
       |FROM e GROUP BY ep_day ORDER BY ep_day""".stripMargin

  /** x49_deep_colmap — NESTED column mapping at DEPTH 2 (r19, Delta's
    * arbitrary-depth struct-field mapping): a table whose `props`
    * STRUCT holds a nested struct `b(event_type, value)` beside a
    * scalar `e`, evolved by `RENAME COLUMN props.b.value TO amount`
    * and `DROP COLUMN props.b.event_type` (depth-2 dotted entries;
    * the mint stamps the `dcolmap` reader feature so a one-level
    * binary refuses instead of serving raw deep physical names) and
    * then `RENAME COLUMN props.b TO core` — an INTERMEDIATE-struct
    * rename whose deeper entries must re-key with it. A path-SQL
    * UPDATE predicated two levels down (`props.core.amount`, DML read
    * translation through the recursive struct rebuild + the dropped
    * deep field riding the rewrite) and the day aggregate read back
    * through the full mapping. The DuckDB oracle derives the same
    * answer functionally from the raw events log — deep-mapped reads
    * ≡ the relational rewrite they avoid. */
  def x49DeepColmap(s: SparkSession, d: String): DataFrame = {
    val root = Engine.tmpDir("graft_x49_dcolmap")
    Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
    val ev = Tables.events(s, d)
      .filter(col("event_id") % X29Mod === 0)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .select(col("event_id"), col("ep_day"), lit(0.0).as("flag"),
        struct(struct(col("event_type"), col("value")).as("b"),
          (col("value") * 2).as("e")).as("props"))
    commitEntries(root, 0,
      writeDataFiles(ev.repartitionByRange(4, col("ep_day")), root, "seed")
        .map(footerEntry(root, _, "ep_day")),
      16, Map("statsCol" -> "ep_day"))
    s.sql(s"ALTER TABLE '$root' RENAME COLUMN props.b.value TO amount").collect()
    s.sql(s"ALTER TABLE '$root' DROP COLUMN props.b.event_type").collect()
    s.sql(s"ALTER TABLE '$root' RENAME COLUMN props.b TO core").collect()
    s.sql(s"UPDATE '$root' SET flag = 1.0 WHERE props.core.amount > 10.0").collect()
    read(s, root)
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("props.core.amount").cast("decimal(18,6)")).cast("double").as("amount_sum"),
        sum(col("props.e").cast("decimal(18,6)")).cast("double").as("e_sum"),
        sum(col("flag").cast("decimal(18,6)")).cast("double").as("n_flagged"))
      .orderBy("ep_day")
  }

  val x49Sql: String =
    s"""WITH e AS (SELECT value AS amount, value * 2 AS ev2,
       |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day
       |  FROM events WHERE event_id % $X29Mod = 0)
       |SELECT ep_day, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(amount AS DECIMAL(18,6))) AS DOUBLE) AS amount_sum,
       |  CAST(SUM(CAST(ev2 AS DECIMAL(18,6))) AS DOUBLE) AS e_sum,
       |  CAST(SUM(CAST(CASE WHEN amount > 10.0 THEN 1.0 ELSE 0.0 END
       |    AS DECIMAL(18,6))) AS DOUBLE) AS n_flagged
       |FROM e GROUP BY ep_day ORDER BY ep_day""".stripMargin

  /** x45_convert_in_place — `CONVERT TO SNAPSHOT` (r16, Delta's
    * CONVERT TO DELTA): a pre-existing PLAIN parquet dataset (five
    * day-ranged files, exactly what a legacy pipeline leaves behind)
    * adopts in place — one manifest commit referencing the resident
    * files, zero bytes copied — and is immediately a full citizen:
    * the query runs a DML DELETE (copy-on-write over adopted entries)
    * and a day aggregate through the snapshot read, with v1 time
    * travel still serving the pre-DML content. The DuckDB oracle
    * derives the same answer functionally from the raw events log. */
  def x45ConvertInPlace(s: SparkSession, d: String): DataFrame = {
    val root = Engine.tmpDir("graft_x45_convert")
    Engine.deleteRecursively(Paths.get(root))
    val ev = Tables.events(s, d)
      .filter(col("event_id") % X29Mod === 0)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .select("event_id", "event_type", "value", "ep_day")
    ev.repartitionByRange(5, col("ep_day")).write.mode("overwrite").parquet(root)
    s.sql(s"CONVERT TO SNAPSHOT '$root' CLUSTER BY (ep_day)").collect()
    s.sql(s"DELETE FROM '$root' WHERE event_id % 5 = 1").collect()
    read(s, root)
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("ep_day")
  }

  val x45Sql: String =
    s"""WITH e AS (SELECT event_id, value,
       |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events
       |  WHERE event_id % $X29Mod = 0 AND event_id % 5 <> 1)
       |SELECT ep_day, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
       |FROM e GROUP BY ep_day ORDER BY ep_day""".stripMargin

  /** x46_column_defaults — COLUMN DEFAULT VALUES (r16, Delta's column
    * defaults / SQL standard DEFAULT): `CREATE TABLE (... src STRING
    * DEFAULT 'organic', boost DOUBLE DEFAULT 1.5)` on the catalog
    * route, an INSERT with a COLUMN LIST omitting both (the analyzer
    * fills from the table's CURRENT_DEFAULT metadata — the engine
    * stores `default.<col>` manifest state and re-exposes it; zero
    * write-path cost), an INSERT spelling the `DEFAULT` keyword
    * explicitly, then `ALTER TABLE ... ALTER COLUMN src SET DEFAULT`
    * re-pointing the default for LATER inserts only (SQL semantics —
    * no backfill; resident rows keep their values). The DuckDB oracle
    * derives the same grouped totals functionally. */
  def x46ColumnDefaults(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    if (!s.conf.getOption("spark.sql.catalog.gx").exists(_.nonEmpty)) {
      s.conf.set("spark.sql.catalog.gx", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gx.root", Engine.tmpDir("graft_warehouse"))
    }
    Tables.events(s, d)
      .filter(col("event_id") % X29Mod === 0)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .select("event_id", "ep_day", "value")
      .createOrReplaceTempView("x46_src")
    s.sql("DROP TABLE IF EXISTS gx.x46_t")
    s.sql("""CREATE TABLE gx.x46_t (event_id BIGINT, ep_day BIGINT,
      value DOUBLE, src STRING DEFAULT 'organic',
      boost DOUBLE DEFAULT 1.5)""")
    // column-list INSERT omitting both defaulted columns: the fill is
    // the analyzer's, off the table's exposed metadata
    s.sql("""INSERT INTO gx.x46_t (event_id, ep_day, value)
      SELECT event_id, ep_day, value FROM x46_src WHERE event_id % 2 = 0""")
    // the DEFAULT keyword spelling beside an explicit value
    s.sql("""INSERT INTO gx.x46_t
      SELECT event_id, ep_day, value, 'paid', DEFAULT
      FROM x46_src WHERE event_id % 2 = 1""")
    // re-point the default: later inserts take it, resident rows keep
    s.sql("ALTER TABLE gx.x46_t ALTER COLUMN src SET DEFAULT 'late'")
    s.sql("INSERT INTO gx.x46_t (event_id, ep_day, value) VALUES (-1, 19700, 2.0)")
    s.sql("""SELECT src, COUNT(*) AS n_events,
      CAST(SUM(CAST(value * boost AS DECIMAL(18,6))) AS DOUBLE) AS weighted
      FROM gx.x46_t GROUP BY src ORDER BY src""")
  }

  val x46Sql: String =
    s"""WITH e AS (SELECT event_id, value FROM events
       |  WHERE event_id % $X29Mod = 0),
       |t AS (
       |  SELECT value, 'organic' AS src, 1.5 AS boost FROM e WHERE event_id % 2 = 0
       |  UNION ALL
       |  SELECT value, 'paid', 1.5 FROM e WHERE event_id % 2 = 1
       |  UNION ALL
       |  SELECT 2.0, 'late', 1.5)
       |SELECT src, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value * boost AS DECIMAL(18,6))) AS DOUBLE) AS weighted
       |FROM t GROUP BY src ORDER BY src""".stripMargin

  /** x47_list_columns — ARRAY columns as full DSv2 connector citizens
    * (r17; structs joined in r16): CTAS an embedding-bearing table on
    * the CATALOG route (the connector's task writer emits the standard
    * 3-level parquet LIST encoding — byte-compatible with what Spark's
    * own writer produces, so DML rewrites sit uniformly beside CTAS
    * files), INSERT INTO as a second commit (plan-time nested-shape
    * compat against resident footers), DSv2 DELETE (copy-on-write
    * rewrite carrying the arrays), then SELECT back through the
    * connector with element access and per-element iteration. Arrays
    * are the native payload type of this engine's own domain —
    * embeddings, token ids, shingle lists — so this is the first gap a
    * real snapshot-table user hits. Oracle: DuckDB native LIST
    * functions over the same source slice. */
  def x47ListColumns(s: SparkSession, d: String): DataFrame = {
    if (!s.conf.getOption("spark.sql.catalog.gx").exists(_.nonEmpty)) {
      s.conf.set("spark.sql.catalog.gx", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gx.root", Engine.tmpDir("graft_warehouse"))
    }
    Tables.embeddings(s, d).createOrReplaceTempView("x47_emb_src")
    s.sql("DROP TABLE IF EXISTS gx.x47_emb")
    s.sql("""CREATE TABLE gx.x47_emb AS
      SELECT vec_id, embedding, label FROM x47_emb_src WHERE vec_id % 5 != 3""")
    s.sql("""INSERT INTO gx.x47_emb
      SELECT vec_id, embedding, label FROM x47_emb_src WHERE vec_id % 5 = 3""")
    s.sql("DELETE FROM gx.x47_emb WHERE label = 2")
    s.sql("""SELECT vec_id, label,
        size(embedding) AS emb_len,
        size(filter(embedding, x -> x > 0)) AS n_pos,
        CAST(try_element_at(embedding, 1) AS DOUBLE) AS e1,
        CAST(try_element_at(embedding, 8) AS DOUBLE) AS e8
      FROM gx.x47_emb ORDER BY vec_id""")
  }

  val x47Sql: String =
    """SELECT vec_id, label,
      |  len(embedding) AS emb_len,
      |  len(list_filter(embedding, x -> x > 0)) AS n_pos,
      |  CAST(embedding[1] AS DOUBLE) AS e1,
      |  CAST(embedding[8] AS DOUBLE) AS e8
      |FROM embeddings WHERE label IS DISTINCT FROM 2
      |ORDER BY vec_id""".stripMargin

  /** x48_map_columns — MAP columns as full DSv2 connector citizens
    * (r19; lists/structs already are): CTAS a table whose map column
    * has DATA-DEPENDENT cardinality (1 or 2 entries keyed on the row's
    * value, NULL map for a user slice — so null-vs-empty, per-entry
    * write plans and the variable-length key_value repetition all
    * exercise for real), INSERT INTO beside residents (plan-time map
    * SHAPE compat), DSv2 DELETE (copy-on-write rewrite carrying the
    * maps), then SELECT back through the connector with size() and
    * key lookups. Maps are the natural payload for sparse per-event
    * properties at 100 TB — a key lookup decodes positionally inside
    * the same one-file-one-partition scan as any primitive. Oracle:
    * DuckDB recomputes the extracted scalars from the raw events —
    * the map round-trip must be value-invisible. */
  def x48MapColumns(s: SparkSession, d: String): DataFrame = {
    if (!s.conf.getOption("spark.sql.catalog.gx").exists(_.nonEmpty)) {
      s.conf.set("spark.sql.catalog.gx", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gx.root", Engine.tmpDir("graft_warehouse"))
    }
    Tables.events(s, d).filter(col("event_id") % X29Mod === 0)
      .select("event_id", "user_id", "value")
      .createOrReplaceTempView("x48_src")
    s.sql("DROP TABLE IF EXISTS gx.x48_m")
    s.sql("""CREATE TABLE gx.x48_m AS
      SELECT event_id, user_id % 7 AS bucket,
        CASE WHEN user_id % 11 = 5 THEN NULL
             WHEN value > 100.0 THEN map('v', value, 'big', value - 100.0)
             ELSE map('v', value) END AS props
      FROM x48_src WHERE event_id % 5 != 3""")
    s.sql("""INSERT INTO gx.x48_m
      SELECT event_id, user_id % 7 AS bucket,
        CASE WHEN user_id % 11 = 5 THEN NULL
             WHEN value > 100.0 THEN map('v', value, 'big', value - 100.0)
             ELSE map('v', value) END AS props
      FROM x48_src WHERE event_id % 5 = 3""")
    s.sql("DELETE FROM gx.x48_m WHERE bucket = 2")
    s.sql("""SELECT event_id, bucket,
        size(props) AS n_keys,
        try_element_at(props, 'v') AS v,
        try_element_at(props, 'big') AS big
      FROM gx.x48_m ORDER BY event_id""")
  }

  val x48Sql: String =
    s"""SELECT event_id, user_id % 7 AS bucket,
       |  CASE WHEN user_id % 11 = 5 THEN NULL
       |       WHEN value > 100.0 THEN 2 ELSE 1 END AS n_keys,
       |  CASE WHEN user_id % 11 = 5 THEN NULL ELSE value END AS v,
       |  CASE WHEN user_id % 11 = 5 OR value <= 100.0 THEN NULL
       |       ELSE value - 100.0 END AS big
       |FROM events
       |WHERE event_id % $X29Mod = 0 AND user_id % 7 != 2
       |ORDER BY event_id""".stripMargin

  /** x50_optimized_write — CLUSTERED WRITES through Spark's own
    * channel (r19): after `ALTER TABLE ... SET TBLPROPERTIES
    * ('optimizewrite'='on')` the DSv2 Write declares an ORDERED
    * distribution on the stats column (RequiresDistributionAndOrdering
    * — Delta's optimized-write shape), so a deliberately
    * key-interleaved INSERT INTO re-clusters IN FLIGHT: landed files
    * carry disjoint day ranges and stats pruning works from the first
    * commit with no OPTIMIZE catch-up rewrite. The oracle proves the
    * shuffled write is content-invisible (the day aggregate ≡ the raw
    * log's); the spec proves the LAYOUT (disjoint post-insert ranges,
    * point reads open one file, refusal on stats-less tables). */
  def x50OptimizedWrite(s: SparkSession, d: String): DataFrame = {
    if (!s.conf.getOption("spark.sql.catalog.gx").exists(_.nonEmpty)) {
      s.conf.set("spark.sql.catalog.gx", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gx.root", Engine.tmpDir("graft_warehouse"))
    }
    Tables.events(s, d).filter(col("event_id") % X29Mod === 0)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .select("event_id", "value", "ep_day")
      .createOrReplaceTempView("x50_src")
    s.sql("DROP TABLE IF EXISTS gx.x50_t")
    s.sql("CREATE TABLE gx.x50_t AS SELECT * FROM x50_src WHERE event_id % 2 = 0")
    s.sql("OPTIMIZE gx.x50_t CLUSTER BY (ep_day) TARGET 4")
    s.sql("ALTER TABLE gx.x50_t SET TBLPROPERTIES ('optimizewrite'='on')")
    // the tail arrives deliberately key-INTERLEAVED (round-robin
    // repartition): the ordered distribution re-clusters it in flight
    s.sql("""INSERT INTO gx.x50_t
      SELECT /*+ REPARTITION(8) */ * FROM x50_src WHERE event_id % 2 = 1""")
    s.sql("""SELECT ep_day, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      FROM gx.x50_t GROUP BY ep_day ORDER BY ep_day""")
  }

  val x50Sql: String =
    s"""SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day,
       |  COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
       |FROM events WHERE event_id % $X29Mod = 0
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** x51 fixture — a `dvmode=on` day-clustered event log dirtied by two
    * sparse SQL DELETEs (ordinal sidecars, zero data bytes moved), then
    * purged through the SQL verb under test: `REORG TABLE ... APPLY
    * (PURGE)` rewrites ONLY the sidecar-carrying files and the resulting
    * version carries no deletion vectors at all. The fixture asserts
    * both halves (dv audit before, empty DV state + reorg audit after)
    * so the gate exercises the verb, not a silent no-op. */
  private val reorgMemo = new graft.SessionMemo[String]
  private[graft] def reorgTable(s: SparkSession, d: String): String =
    reorgMemo.getOrElseUpdate(s, d) {
      val root = Engine.tmpDir("graft_snap_reorg")
      Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
      commitEntries(root, 0, stageDayClustered(s, d, root), shardSize = 3,
        Map("statsCol" -> "ep_day"))
      enableDeletionVectors(root)
      s.sql(s"DELETE FROM '$root' WHERE event_id % 991 = 1").collect()
      s.sql(s"DELETE FROM '$root' WHERE event_id % 991 = 2").collect()
      val vDirty = currentVersion(root)
      val audit = manifestMeta(root, vDirty).getOrElse("delete", "")
      assert(audit.startsWith("dv:"),
        s"reorg fixture fell back to copy-on-write: audit=$audit")
      assert(dvState(root, vDirty).nonEmpty, "reorg fixture has no DVs to purge")
      s.sql(s"REORG TABLE '$root' APPLY (PURGE)").collect()
      val vClean = currentVersion(root)
      assert(vClean == vDirty + 1 &&
        manifestMeta(root, vClean).getOrElse("reorg", "").startsWith("cow:"),
        s"REORG did not commit: v=$vClean meta=${manifestMeta(root, vClean)}")
      assert(dvState(root, vClean).isEmpty, "REORG left deletion vectors behind")
      root
    }

  /** x51_reorg_purge — Delta's `REORG TABLE ... APPLY (PURGE)`:
    * physically rewrite ONLY the files dirtied by deletion-vector
    * sidecars (applying their vectors) while every clean file carries
    * by reference, byte-untouched — at 100 TB the cost is proportional
    * to the DIRT, not the table. The day aggregate reads the purged
    * table back through the DSv2 route; the DuckDB oracle recomputes
    * the same negated-filter answer from the raw log, proving purge ≡
    * the logical delete it materializes. ReorgSpec pins the physical
    * contract (untouched bytes, DV-state empty, change-feed
    * invisibility, no-op on clean tables, row-id stability). */
  def x51ReorgPurge(s: SparkSession, d: String): DataFrame = {
    val root = reorgTable(s, d)
    s.read.format("graft-snapshot").load(root)
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("ep_day")
  }

  val x51Sql: String =
    """WITH e AS (SELECT event_id, value,
      |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events)
      |SELECT ep_day, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM e WHERE event_id % 991 <> 1 AND event_id % 991 <> 2
      |GROUP BY ep_day ORDER BY ep_day""".stripMargin

  /** x52 fixture — two append commits (first 20 days, then the rest),
    * the SQL verb under test pinning v1 (`CREATE TAG m1_ingest AS OF
    * VERSION 1`), then a VACUUM whose keep floor is ABOVE the tagged
    * version: the tag must hold v1 addressable through the
    * reclamation (its manifest, files and shards all stay), which the
    * fixture asserts before handing the root to the gate query. */
  private val tagMemo = new graft.SessionMemo[String]
  private[graft] val X52Cut = 19742L
  private[graft] def tagTable(s: SparkSession, d: String): String =
    tagMemo.getOrElseUpdate(s, d) {
      val root = Engine.tmpDir("graft_snap_tags")
      Engine.listDir(Paths.get(root)).foreach(Engine.deleteRecursively)
      val ev = Tables.events(s, d)
        .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
        .select("event_id", "value", "ep_day")
      val r1 = writeDataFile(ev.filter(col("ep_day") <= X52Cut), root, "head")
      val e1 = Seq(footerEntry(root, r1, "ep_day"))
      commitEntries(root, 0, e1, shardSize = 2, Map("statsCol" -> "ep_day"))
      val r2 = writeDataFile(ev.filter(col("ep_day") > X52Cut), root, "tail")
      commitEntries(root, 1, e1 :+ footerEntry(root, r2, "ep_day"), shardSize = 2)
      s.sql(s"ALTER TABLE '$root' CREATE TAG m1_ingest AS OF VERSION 1").collect()
      // the CREATE TAG commit is v3; a keep floor of 3 would reclaim
      // v1 (the tagged snapshot) and v2 were the tag not honored
      s.sql(s"VACUUM '$root' KEEP FROM 3").collect()
      assert(!Files.exists(manifestPath(root, 2)),
        "fixture expected the untagged v2 below the keep floor to reclaim")
      assert(Files.exists(manifestPath(root, 1)),
        "VACUUM reclaimed the tagged version's manifest")
      assert(Files.exists(Paths.get(root, r1)),
        "VACUUM reclaimed the tagged version's data file")
      root
    }

  /** x53 fixture — a `dvmode=on` day-clustered log with one sparse DV
    * DELETE (so the copy set includes a SIDECAR, not just data files),
    * DEEP CLONE through the SQL verb, then the SOURCE DIRECTORY IS
    * DELETED OUTRIGHT — the strongest possible independence proof: a
    * shallow clone's `../` refs would all dangle; the deep clone must
    * keep serving every surviving row. */
  private val deepCloneMemo = new graft.SessionMemo[String]
  private[graft] def deepCloneTable(s: SparkSession, d: String): String =
    deepCloneMemo.getOrElseUpdate(s, d) {
      val src = Engine.tmpDir("graft_snap_dcsrc")
      val dst = Engine.tmpDir("graft_snap_dcdst")
      Seq(src, dst).foreach(p =>
        Engine.listDir(Paths.get(p)).foreach(Engine.deleteRecursively))
      commitEntries(src, 0, stageDayClustered(s, d, src), shardSize = 3,
        Map("statsCol" -> "ep_day"))
      enableDeletionVectors(src)
      s.sql(s"DELETE FROM '$src' WHERE event_id % 983 = 7").collect()
      assert(dvState(src, currentVersion(src)).nonEmpty,
        "deep-clone fixture expected DV sidecars in the copy set")
      s.sql(s"CREATE TABLE '$dst' DEEP CLONE '$src'").collect()
      assert(manifestMeta(dst, 1).getOrElse("clone", "").startsWith("deep:"),
        manifestMeta(dst, 1).toString)
      // the independence proof: the source table ceases to exist
      Engine.listDir(Paths.get(src)).foreach(Engine.deleteRecursively)
      dst
    }

  /** x53_deep_clone — DEEP CLONE (Delta's spelling): an INDEPENDENT
    * copy of one snapshot — data files AND deletion-vector sidecars
    * copy (distributed above 64 files), a fresh manifest lists them
    * locally, and the source's lifecycle can never orphan the clone
    * (the shallow clone's accepted hazard). The fixture DELETES THE
    * SOURCE DIRECTORY after cloning; the day aggregate through the
    * DSv2 route must still equal the DuckDB negated-filter recompute
    * — bytes, sidecars and stats all genuinely local. At 100 TB the
    * copy is one executor wave and the price of owning the data;
    * everything else stays manifest arithmetic. */
  def x53DeepClone(s: SparkSession, d: String): DataFrame = {
    val root = deepCloneTable(s, d)
    s.read.format("graft-snapshot").load(root)
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("ep_day")
  }

  val x53Sql: String =
    """WITH e AS (SELECT event_id, value,
      |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events)
      |SELECT ep_day, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM e WHERE event_id % 983 <> 7
      |GROUP BY ep_day ORDER BY ep_day""".stripMargin

  /** x52_table_tags — named refs (Iceberg's TAGS, the retention half
    * of branching): `CREATE TAG <name> AS OF VERSION <n>` pins a
    * snapshot against VACUUM and makes it addressable by NAME from
    * every read route. The gate reads the tag through the DSv2
    * `version` option AFTER a vacuum whose keep floor would have
    * reclaimed the version — the aggregate must equal the DuckDB
    * recompute of exactly the tagged commit's slice, proving both the
    * name resolution and the retention exemption. TagSpec pins the
    * rest (catalog VERSION AS OF '<name>', carry across commits,
    * drop-then-vacuum reclamation, re-point refusal, writer-feature
    * stamp, clone non-carry). At 100 TB a tag is one manifest line:
    * audit/repro anchors cost metadata, never copies. */
  def x52TableTags(s: SparkSession, d: String): DataFrame = {
    val root = tagTable(s, d)
    s.read.format("graft-snapshot").option("version", "m1_ingest").load(root)
      .groupBy(col("ep_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
      .orderBy("ep_day")
  }

  val x52Sql: String =
    s"""WITH e AS (SELECT value,
       |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events)
       |SELECT ep_day, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
       |FROM e WHERE ep_day <= ${X52Cut}
       |GROUP BY ep_day ORDER BY ep_day""".stripMargin

  /** x42_merge_evolution — `MERGE WITH SCHEMA EVOLUTION` (Delta 3.2's
    * per-statement autoMerge): the source carries a column the target
    * lacks (`score`), the statement's UPDATE SET writes it on matched
    * rows and INSERT * lands it on new rows, and the merge WIDENS the
    * target through the x30 capture machinery — existing rows surface
    * NULL history, untouched files stay byte-identical, the commit
    * stamps the evolution marker + all-nullable union capture. The
    * DuckDB twin derives the same end state from the raw log (CASE
    * overlay + union of the inserts, NULL score outside the touched
    * rows) — proving evolution ≡ the full-outer recompute it
    * abbreviates, while the plan still only rewrote the window's
    * day-clustered files. Without the spelling the same statement
    * REFUSES (the route-refusal spec pins that contract). */
  def x42MergeEvolution(s: SparkSession, d: String): DataFrame = {
    if (!s.conf.getOption("spark.sql.catalog.gx").exists(_.nonEmpty)) {
      s.conf.set("spark.sql.catalog.gx", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gx.root", Engine.tmpDir("graft_warehouse"))
    }
    val ev = Tables.events(s, d)
      .withColumn("ep_day", expr("(ts div 1000000000) div 86400"))
      .filter(col("event_id") % X29Mod === 0)
      .select("event_id", "value", "ep_day")
    ev.createOrReplaceTempView("x42_tgt_src")
    s.sql("DROP TABLE IF EXISTS gx.x42_t")
    s.sql("CREATE TABLE gx.x42_t AS SELECT * FROM x42_tgt_src")
    s.sql("OPTIMIZE gx.x42_t CLUSTER BY (ep_day) TARGET 7")
    val win = ev.filter(col("ep_day").between(X17Lo, X17Hi))
    val ups = win.filter(col("event_id") % 20 === 0)
      .select(col("event_id"), col("value"), col("ep_day"),
        (col("value") * 2).as("score"))
    val ins = win.filter(col("event_id") % 20 === 7)
      .select((col("event_id") + lit(10000000000L)).as("event_id"),
        col("value"), col("ep_day"), lit(-1.0).as("score"))
    ups.unionByName(ins).createOrReplaceTempView("x42_changes")
    s.sql("""MERGE WITH SCHEMA EVOLUTION INTO gx.x42_t AS t USING x42_changes AS s
      ON t.event_id = s.event_id
      WHEN MATCHED THEN UPDATE SET value = t.value + 100.0, score = s.score
      WHEN NOT MATCHED THEN INSERT *""")
    s.sql("""SELECT ep_day, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        CAST(SUM(CAST(COALESCE(score, 0.0) AS DECIMAL(18,6))) AS DOUBLE) AS score_sum,
        SUM(CASE WHEN score IS NOT NULL THEN 1 ELSE 0 END) AS n_scored
      FROM gx.x42_t GROUP BY ep_day ORDER BY ep_day""")
  }

  val x42Sql: String =
    s"""WITH e AS (SELECT event_id, value,
       |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events
       |  WHERE event_id % $X29Mod = 0),
       |m AS (
       |  SELECT event_id,
       |    CASE WHEN ep_day BETWEEN $X17Lo AND $X17Hi AND event_id % 20 = 0
       |      THEN value + 100.0 ELSE value END AS value,
       |    CASE WHEN ep_day BETWEEN $X17Lo AND $X17Hi AND event_id % 20 = 0
       |      THEN value * 2 ELSE NULL END AS score,
       |    ep_day
       |  FROM e
       |  UNION ALL
       |  SELECT event_id + 10000000000 AS event_id, value,
       |    -1.0 AS score, ep_day
       |  FROM e WHERE ep_day BETWEEN $X17Lo AND $X17Hi AND event_id % 20 = 7)
       |SELECT ep_day, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
       |  CAST(SUM(CAST(COALESCE(score, 0.0) AS DECIMAL(18,6))) AS DOUBLE) AS score_sum,
       |  CAST(SUM(CASE WHEN score IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_scored
       |FROM m GROUP BY ep_day ORDER BY ep_day""".stripMargin

  val x40Sql: String =
    s"""WITH e AS (SELECT user_id, value,
       |    CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day
       |  FROM events WHERE event_id % $X29Mod = 0),
       |s AS (SELECT value,
       |    CASE WHEN user_id % 37 = 3 THEN ep_day + 1 ELSE ep_day END AS ep_day
       |  FROM e)
       |SELECT ep_day, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
       |FROM s GROUP BY ep_day ORDER BY ep_day""".stripMargin

  val x39Sql: String =
    s"""WITH e AS (SELECT event_type,
       |  CAST(FLOOR(value * 1000) AS BIGINT) AS q_i,
       |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events
       |  WHERE event_id % $X29Mod = 0),
       |w AS (SELECT event_type,
       |  CASE WHEN ep_day > $X30Cut THEN q_i + 3000000000 ELSE q_i END AS q_i
       |  FROM e)
       |SELECT event_type, COUNT(*) AS n_events,
       |  CAST(SUM(q_i) AS BIGINT) AS q_sum
       |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin

  val x37Sql: String =
    """WITH e AS (SELECT event_id,
      |  CASE WHEN event_id % 1009 = 7 THEN value + 1000.0
      |       WHEN event_id % 1009 = 11 THEN value - 500.0
      |       ELSE value END AS value,
      |  CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS ep_day FROM events)
      |SELECT ep_day, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      |FROM e GROUP BY ep_day ORDER BY ep_day""".stripMargin

}
