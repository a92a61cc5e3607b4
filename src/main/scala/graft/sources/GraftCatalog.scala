package graft.sources

import java.io.{BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.nio.file.{Files, Path, Paths}
import java.util
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.similarity.IndexStore

/** The WRITE face of the DSv2 connector tier (round 17, VERDICT r16 #1):
  * a catalog-registered table a SQL user can `CREATE TABLE` /
  * `INSERT INTO` / `INSERT OVERWRITE` / `SELECT` — the last missing face
  * of the source/sink surface (the read-only [[SyntheticDocsSource]]
  * proved scan + pushdown; every write previously exited through parquet
  * paths or foreachBatch).
  *
  * Each table is a MINI TABLE FORMAT with the essentials a 100 TB
  * deployment's formats (Delta/Iceberg) are built from:
  *
  *  - an immutable DATA-FILE POOL (`data/`): writer tasks stream rows
  *    into uniquely-named staged files that are INVISIBLE until a
  *    manifest references them — task retries and speculative duplicates
  *    just leave unreferenced orphans;
  *  - versioned MANIFESTS (`.v/<token>/manifest`, one line per data file
  *    with its row count): a commit writes a NEW manifest = (previous
  *    files unless truncating) ++ (this write's staged files) — append
  *    never rewrites data, truncate never deletes it (the old version
  *    still references it until GC'd);
  *  - an ATOMIC VERSION POINTER (`current`) through the SAME
  *    [[graft.similarity.SnapshotPointer]] seam the index store publishes
  *    through — readers resolve it ONCE at scan planning and read an
  *    immutable snapshot; a reader mid-scan across a concurrent commit
  *    keeps its files (version GC keeps current + previous + grace);
  *  - FAILURE ATOMICITY: `BatchWrite.commit` runs only when every task
  *    committed; `abort` unlinks the staged files it knows of and a
  *    grace-aged ORPHAN SWEEP at the next successful commit collects the
  *    rest — a failed or crashed write can never surface a row, because
  *    no manifest names its files (spec-pinned).
  *
  * Storage format: a row-oriented binary codec (null byte + fixed/
  * length-prefixed value per field — [[GraftRowCodec]]) over the scalar
  * types a catalog DDL declares. Column pruning is projection-level (a
  * row format must parse every field; the scan still reports and emits
  * only the required columns). At 100 TB the data pool would be parquet
  * on object storage and the manifest a transaction-log append; the
  * commit protocol — stage invisibly, publish by pointer swap, GC by
  * grace — is exactly what this connector exercises end to end.
  *
  * Identifiers are single-part (`catalog.table`); namespaces are
  * rejected loudly rather than silently flattened.
  *
  * Tables are deliberately UNPARTITIONED (CREATE with a PARTITIONED BY
  * clause is a loud error): per-file min/max stats + planning-time file
  * skipping subsume identity-partition pruning at file granularity
  * (`src_dsv2_skipping`), and the clustered-rewrite path
  * (`src_dsv2_cluster`) gives the layout control partitioning would —
  * without the small-file explosion hash/time partitioning inflicts on
  * a format whose commit unit is the file.
  *
  * Usage: `spark.sql.catalog.<name> = graft.sources.GraftCatalog`,
  * `spark.sql.catalog.<name>.root = <dir>`.
  */
class GraftCatalog extends TableCatalog {

  private var catalogName: String = _
  private var root: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Paths.get(options.getOrDefault("root", "/tmp/graft_catalog"))
    Files.createDirectories(root)
  }

  override def name(): String = catalogName

  private def requireFlat(ident: Identifier): Unit =
    if (ident.namespace().nonEmpty)
      throw new UnsupportedOperationException(
        s"graft catalog tables are single-part names; got ${ident.toString}")

  private def dirFor(ident: Identifier): Path = {
    requireFlat(ident)
    root.resolve(ident.name())
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    if (namespace.nonEmpty) Array.empty
    else {
      val listing = Files.list(root)
      try listing.iterator().asScala
        .filter(p => Files.exists(p.resolve(GraftCatalog.SchemaFile)))
        .map(p => Identifier.of(Array.empty, p.getFileName.toString))
        .toArray
      finally listing.close()
    }

  /** (dir, committed schema) of an existing table — the shared preamble
    * of the three loadTable overloads; throws NoSuchTable otherwise. */
  private def resolved(ident: Identifier): (Path, StructType) = {
    val dir = dirFor(ident)
    val schemaFile = dir.resolve(GraftCatalog.SchemaFile)
    if (!Files.exists(schemaFile)) throw new NoSuchTableException(ident)
    (dir, DataType.fromJson(Files.readString(schemaFile))
      .asInstanceOf[StructType])
  }

  override def loadTable(ident: Identifier): Table = {
    val (dir, schema) = resolved(ident)
    new GraftTable(ident.name(), dir.toString, schema)
  }

  /** TIME TRAVEL (`SELECT ... FROM t VERSION AS OF <seq>`): every commit
    * stamps a monotone sequence number inside its immutable version dir;
    * this resolves the requested seq to that version and returns a table
    * PINNED to its manifest. Only versions still on disk resolve — a
    * version GC'd past its grace is gone, exactly the table-format
    * contract (history retention is the GC window). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val (dir, schema) = resolved(ident)
    val want = version.trim
    val found = GraftCatalog.findVersionBySeq(dir, want).getOrElse(
      throw new NoSuchTableException(ident))
    new GraftTable(s"${ident.name()}@v$want", dir.toString, schema,
      pinnedVersion = Some(found))
  }

  /** TIME TRAVEL by instant (`SELECT ... FROM t TIMESTAMP AS OF <ts>`):
    * resolves to the highest-seq surviving version PUBLISHED at or
    * before the instant (each commit stamps its publish time inside the
    * immutable version dir — the dir mtime is unusable, being re-stamped
    * at supersession for the grace clock). Spark hands the instant in
    * MICROseconds. Same retention contract as `VERSION AS OF`: history
    * reaches only as far as the GC grace. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val (dir, schema) = resolved(ident)
    val found = GraftCatalog.findVersionByTime(dir, timestampMicros / 1000L)
      .getOrElse(throw new NoSuchTableException(ident))
    new GraftTable(s"${ident.name()}@t$timestampMicros", dir.toString, schema,
      pinnedVersion = Some(found))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    requireFlat(ident)
    if (partitions.nonEmpty) throw new UnsupportedOperationException(
      "graft catalog tables are unpartitioned")
    val bad = schema.fields.filterNot(f => GraftRowCodec.supported(f.dataType))
    if (bad.nonEmpty) throw new UnsupportedOperationException(
      s"unsupported column types: ${bad.map(f => s"${f.name}: ${f.dataType.sql}").mkString(", ")}")
    // `_file` is the table's metadata column AND the row-level
    // operations' group-filter attribute — a data column of that name
    // would shadow it and desynchronize the COW write path's metadata
    // projection; the change feed's three output columns would collide
    // with a data column of the same name (the feed reader resolves by
    // name and would emit tag/seq/ts over the user's data). Reserve all
    // four loudly at DDL time.
    schema.fieldNames.find(n => GraftCatalog.ReservedCols.exists(
        n.equalsIgnoreCase)).foreach { n =>
      throw new UnsupportedOperationException(
        s"$n is a reserved column name (metadata/change-feed)")
    }
    // CHECK constraints arrive as TBLPROPERTIES — parse them NOW so a
    // defective predicate is a CREATE-time error, never a latent one
    // the first commit trips over (nothing to validate: table is empty)
    val declaredProps = properties.asScala.toMap
    GraftConstraints.fromProperties(declaredProps, schema)
    val dir = dirFor(ident)
    // creation serializes on the same per-table lock commits use, so two
    // racing CREATEs collapse to one winner + one loud AlreadyExists
    IndexStore.withArtifactLock(GraftCatalog.lockName(dir)) {
      if (Files.exists(dir.resolve(GraftCatalog.SchemaFile)))
        throw new TableAlreadyExistsException(ident)
      Files.createDirectories(dir.resolve(GraftCatalog.DataDir))
      Files.createDirectories(dir.resolve(GraftCatalog.VersionsDir))
      // schema lands via temp + atomic move: a reader can never observe
      // a half-written schema file
      val tmp = dir.resolve(s".${GraftCatalog.SchemaFile}.${UUID.randomUUID().toString.take(8)}")
      Files.writeString(tmp, schema.json)
      Files.move(tmp, dir.resolve(GraftCatalog.SchemaFile),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      if (declaredProps.nonEmpty)
        GraftCatalog.writePropsLocked(dir, declaredProps)
    }
    new GraftTable(ident.name(), dir.toString, schema)
  }

  /** SCHEMA EVOLUTION, the additive-only discipline (what survives at
    * 100 TB where a rewrite of every file is off the table): `ALTER
    * TABLE ADD COLUMN` appends a NULLABLE column to the end of the
    * schema; no data file is touched. Every manifest entry records its
    * write-time width (`cols`), so readers parse old files as the
    * schema's cols-wide prefix and null-fill the tail. Everything
    * non-additive — positioned adds, NOT NULL adds, drops, renames, type
    * changes — is rejected loudly: those require a rewrite (or a
    * name-mapping layer) this format deliberately does not fake. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirFor(ident)
    val schemaFile = dir.resolve(GraftCatalog.SchemaFile)
    if (!Files.exists(schemaFile)) throw new NoSuchTableException(ident)
    IndexStore.withArtifactLock(GraftCatalog.lockName(dir)) {
      val schema = DataType.fromJson(Files.readString(schemaFile))
        .asInstanceOf[StructType]
      // property changes (SET/UNSET TBLPROPERTIES) ride the same ALTER
      // verb: setting a CHECK constraint parses it against the CURRENT
      // schema and VALIDATES THE EXISTING DATA first (stats-cleared
      // files free, the rest scanned) — a constraint the table already
      // violates is refused, never silently recorded-but-false
      val (propChanges, schemaChanges) = changes.partition {
        case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
        case _ => false
      }
      if (propChanges.nonEmpty) {
        val prior = GraftCatalog.readProps(dir)
        val updated = propChanges.foldLeft(prior) {
          (p, change) => change match {
            case set: TableChange.SetProperty =>
              p.updated(set.property(), set.value())
            case rm: TableChange.RemoveProperty => p - rm.property()
            case other => throw new IllegalStateException(s"unreachable $other")
          }
        }
        val newChecks = GraftConstraints.fromProperties(updated, schema)
          .filterNot(c =>
            prior.get(GraftConstraints.Prefix + c.name).contains(c.text))
        if (newChecks.nonEmpty)
          GraftConstraints.validateEntries(dir, schema,
            GraftCatalog.currentManifest(dir), newChecks)
        GraftCatalog.writePropsLocked(dir, updated)
      }
      val evolved = schemaChanges.foldLeft(schema) { (s, change) =>
        change match {
          case add: TableChange.AddColumn =>
            if (add.fieldNames().length != 1)
              throw new UnsupportedOperationException(
                "graft tables have flat schemas; nested ADD COLUMN is not supported")
            val name = add.fieldNames().head
            if (s.fieldNames.exists(_.equalsIgnoreCase(name)))
              throw new IllegalArgumentException(s"column $name already exists")
            if (GraftCatalog.ReservedCols.exists(name.equalsIgnoreCase))
              throw new UnsupportedOperationException(
                s"$name is a reserved column name (metadata/change-feed)")
            if (!add.isNullable)
              throw new UnsupportedOperationException(
                "ADD COLUMN must be nullable: existing files null-fill the new column")
            if (add.position() != null)
              throw new UnsupportedOperationException(
                "ADD COLUMN is append-only: a positioned add would shift the " +
                  "ordinal-encoded files under every reader")
            if (!GraftRowCodec.supported(add.dataType()))
              throw new UnsupportedOperationException(
                s"unsupported column type: $name: ${add.dataType().sql}")
            s.add(StructField(name, add.dataType(), nullable = true,
              metadata = Option(add.comment()).map(c =>
                new MetadataBuilder().putString("comment", c).build())
                .getOrElse(Metadata.empty)))
          case other =>
            throw new UnsupportedOperationException(
              s"unsupported ALTER TABLE change: $other (graft tables evolve " +
                "by nullable ADD COLUMN only)")
        }
      }
      // refuse while any surviving manifest entry predates the width
      // ledger: a legacy (cols = -1) entry means "full schema as of
      // today", which stops being well-defined the moment the schema
      // widens under it
      val vroot = dir.resolve(GraftCatalog.VersionsDir)
      if (schemaChanges.nonEmpty && Files.isDirectory(vroot)) {
        val listing = Files.list(vroot)
        val legacy =
          try listing.iterator().asScala
            .flatMap(v => GraftCatalog.readManifest(v))
            .exists(_.cols < 0)
          finally listing.close()
        if (legacy) throw new UnsupportedOperationException(
          "table has pre-evolution manifest entries (no width ledger); " +
            "compact before altering")
      }
      val tmp = dir.resolve(
        s".${GraftCatalog.SchemaFile}.${UUID.randomUUID().toString.take(8)}")
      Files.writeString(tmp, evolved.json)
      Files.move(tmp, schemaFile,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      new GraftTable(ident.name(), dir.toString, evolved)
    }
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirFor(ident)
    if (!Files.exists(dir.resolve(GraftCatalog.SchemaFile))) false
    else {
      IndexStore.withArtifactLock(GraftCatalog.lockName(dir)) {
        IndexStore.deleteRecursively(dir)
      }
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = dirFor(oldIdent)
    val to = dirFor(newIdent)
    if (!Files.exists(from.resolve(GraftCatalog.SchemaFile)))
      throw new NoSuchTableException(oldIdent)
    if (Files.exists(to.resolve(GraftCatalog.SchemaFile)))
      throw new TableAlreadyExistsException(newIdent)
    IndexStore.withArtifactLock(GraftCatalog.lockName(from)) {
      // the current-version pointer stores an ABSOLUTE target; moving
      // the directory would leave it dangling (resolve → None → the
      // renamed table silently reads as EMPTY). Capture the current
      // version's token before the move and re-swap against the new
      // path after — same atomic-pointer discipline as a commit.
      val token = IndexStore.pointer.resolve(from, GraftCatalog.PointerName)
        .map(_.getFileName.toString)
      Files.move(from, to)
      token.foreach { t =>
        IndexStore.pointer.swap(to, GraftCatalog.PointerName,
          to.resolve(GraftCatalog.VersionsDir).resolve(t))
      }
    }
  }
}

object GraftCatalog {
  val SchemaFile = "schema.json"
  /** Table properties (java.util.Properties text format — JDK-native
    * escaping; atomic tmp+move writes like the schema). `graft.check.
    * <name>` keys are CHECK constraints ([[GraftConstraints]]) enforced
    * on every commit. */
  val PropsFile = "table.properties"
  val DataDir = "data"
  val VersionsDir = ".v"
  val ManifestFile = "manifest"
  val PointerName = "current"
  /** Monotone commit sequence number, stamped inside each version dir —
    * the identifier `VERSION AS OF` resolves (tokens are random; users
    * name history by ordinal, like a table format's snapshot id). */
  val SeqFile = "_GRAFT_SEQ"
  /** Idempotency tag of the commit (absent for plain batch writes) —
    * the streaming sink's replay guard: a foreachBatch retry of the
    * batch the CURRENT version already carries is a no-op. */
  val TagFile = "_GRAFT_TAG"
  /** PUBLISH time of the commit in epoch millis — `TIMESTAMP AS OF`
    * resolves against this marker, NOT the dir mtime (mtime is
    * re-stamped at supersession so grace measures "since replaced"). */
  val TsFile = "_GRAFT_TS"
  /** Written immediately AFTER the pointer swap: its presence means the
    * version was ONCE CURRENT. The history faces (`VERSION AS OF`,
    * `TIMESTAMP AS OF`, DESCRIBE HISTORY) resolve only committed
    * versions — a crashed writer's pre-swap dir (manifest + seq + ts
    * already on disk) must never serve as table state (review finding,
    * this round). The pointer target itself counts as committed even if
    * the crash window between swap and marker was hit. */
  val CommittedFile = "_GRAFT_COMMITTED"
  /** COMMIT KIND of the version — what operation published it. The
    * change-feed faces ([[GraftChangeFeed]]) need it to (a) label the
    * manifest diff (an UPDATE's removed/added rows are pre/post images,
    * a MERGE's are retract pairs) and (b) recognize DATA-CHANGE-FALSE
    * commits (compaction / clustered rewrite move bytes, not rows — the
    * feed must emit NOTHING for them, or every OPTIMIZE would replay the
    * whole table to downstream consumers). Versions predating the marker
    * are readable as table state but only serve the change feed when
    * their diff is pure-append (anything else fails loudly rather than
    * guess). */
  val KindFile = "_GRAFT_KIND"
  /** The [[KindFile]] values. `Compact` is the only DATA-CHANGE-FALSE
    * kind: content identity is enforced by the compaction row-conservation
    * check, so the change feed may skip the version entirely. */
  object Kind {
    val Append = "append"
    val Truncate = "truncate"
    val Delete = "delete"
    val Update = "update"
    val Merge = "merge"
    val Compact = "compact"
  }
  /** Name of the file-lineage metadata column every graft table exposes. */
  val FileMetaCol = "_file"
  /** Column names a graft table may not declare: the metadata column
    * plus the change feed's three output columns (the feed reader
    * resolves by name — a data column of the same name would silently
    * receive tag/seq/ts instead of its data). */
  val ReservedCols: Seq[String] =
    Seq(FileMetaCol, "_change_type", "_commit_seq", "_commit_ts")

  /** Superseded versions (and unreferenced data-file orphans) younger
    * than this are never collected — a reader that resolved the pointer
    * before a swap keeps its files, exactly the index store's grace
    * discipline. Spec-tunable. */
  @volatile var GraceMs: Long = 10L * 60L * 1000L

  /** A data file's DELETION VECTOR: `file` holds the sorted PHYSICAL row
    * ordinals masked out of its data file, `masked` their count. DV
    * files are immutable — a further delete writes the UNION as a new
    * DV file, so every manifest version pins its exact mask and time
    * travel needs no bookkeeping. */
  final case class Dv(file: String, masked: Long)

  /** One data file of one committed version.
    *
    * Manifest line format (tab-separated; the v1 2-field and v2 5-field
    * forms are still parsed):
    * `file \t rows \t cols \t bytes \t stats \t dv`.
    *
    *  - `cols`: how many leading schema fields the file was WRITTEN with —
    *    the schema-evolution ledger (a file written before an ADD COLUMN
    *    is narrower than the current schema; readers null-fill the tail).
    *    -1 = pre-evolution legacy, meaning "the full schema as of today"
    *    (ALTER refuses to run while any such entry survives, so the
    *    ambiguity can never become real).
    *  - `bytes`: exact on-disk size, the scan's statistics report (the
    *    input to Catalyst's broadcast decision). -1 = unknown (legacy).
    *  - `stats`: base64 per-column min/max/nullCount ([[GraftStats]]) —
    *    the file-skipping index. "-" = absent (legacy).
    */
  final case class ManifestEntry(file: String, rows: Long,
      cols: Int = -1, bytes: Long = -1L,
      stats: Option[GraftStats.FileStats] = None,
      dv: Option[Dv] = None) {
    def colsOr(schemaWidth: Int): Int = if (cols < 0) schemaWidth else cols
    /** Rows a reader actually sees: physical minus the DV mask. The
      * per-file stats stay the PHYSICAL rows' (a superset's bounds —
      * sound for skipping, conservative never wrong). */
    def liveRows: Long = rows - dv.map(_.masked).getOrElse(0L)
  }

  private[sources] def lockName(tableDir: Path): String =
    "gcat_" + tableDir.toAbsolutePath.toString
      .replaceAll("[^A-Za-z0-9._-]", "_").takeRight(80)

  private[sources] def readManifest(version: Path): Seq[ManifestEntry] = {
    val f = version.resolve(ManifestFile)
    if (!Files.exists(f)) Nil
    else Files.readAllLines(f).asScala.toSeq.filter(_.nonEmpty).map { line =>
      line.split('\t') match {
        case Array(name, rows) => ManifestEntry(name, rows.toLong)
        case Array(name, rows, cols, bytes, stats) =>
          ManifestEntry(name, rows.toLong, cols.toInt, bytes.toLong,
            if (stats == "-") None else Some(GraftStats.decode(stats)))
        case Array(name, rows, cols, bytes, stats, dv) =>
          ManifestEntry(name, rows.toLong, cols.toInt, bytes.toLong,
            if (stats == "-") None else Some(GraftStats.decode(stats)),
            if (dv == "-") None else dv.split(':') match {
              case Array(f, n) => Some(Dv(f, n.toLong))
              case _ => throw new IllegalStateException(s"corrupt dv field: $dv")
            })
        case other => throw new IllegalStateException(
          s"corrupt manifest line (${other.length} fields): $line")
      }
    }
  }

  private def manifestLine(e: ManifestEntry): String =
    s"${e.file}\t${e.rows}\t${e.cols}\t${e.bytes}\t" +
      e.stats.map(GraftStats.encode).getOrElse("-") + "\t" +
      e.dv.map(d => s"${d.file}:${d.masked}").getOrElse("-")

  private[graft] def currentManifest(tableDir: Path): Seq[ManifestEntry] =
    IndexStore.pointer.resolve(tableDir, PointerName)
      .map(readManifest).getOrElse(Nil)

  private def marker(version: Path, name: String): Option[String] =
    try {
      val f = version.resolve(name)
      if (Files.exists(f)) Some(Files.readString(f).trim) else None
    } catch { case NonFatal(_) => None }

  /** Commit sequence number of a version dir (0 for a pre-seq legacy
    * version — none exist in practice; first real commit is 1). */
  private[sources] def seqOf(version: Path): Long =
    marker(version, SeqFile).flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(0L)

  /** Idempotency tag of a version dir, if its commit carried one. */
  private[sources] def tagOf(version: Path): Option[String] =
    marker(version, TagFile)

  /** Commit kind of a version dir (None: pre-marker legacy — the change
    * feed then accepts only a pure-append diff for it). */
  private[graft] def kindOf(version: Path): Option[String] =
    marker(version, KindFile)

  private[sources] def readProps(tableDir: Path): Map[String, String] = {
    val f = tableDir.resolve(PropsFile)
    if (!Files.exists(f)) Map.empty
    else {
      val p = new java.util.Properties()
      val in = Files.newInputStream(f)
      try p.load(in) finally in.close()
      p.stringPropertyNames().asScala.map(k => k -> p.getProperty(k)).toMap
    }
  }

  /** Atomic (tmp+move) property write; caller holds the table lock. */
  private[sources] def writePropsLocked(tableDir: Path,
      props: Map[String, String]): Unit = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    val tmp = tableDir.resolve(s".$PropsFile.${UUID.randomUUID().toString.take(8)}")
    val out = Files.newOutputStream(tmp)
    try p.store(out, null) finally out.close()
    Files.move(tmp, tableDir.resolve(PropsFile),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The commit-time CHECK/NOT NULL gate over this commit's NEW files:
    * parse the table's constraints and validate `added` (stats-cleared
    * files cost nothing). Throwing here aborts the commit BEFORE any
    * version is published — the caller's abort path (or the orphan
    * sweep) reclaims the staged files; the table is unchanged. */
  private[sources] def enforceConstraints(tableDir: Path,
      added: Seq[ManifestEntry]): Unit =
    if (added.nonEmpty) {
      val schema = tableSchema(tableDir)
      GraftConstraints.validateEntries(tableDir, schema, added,
        GraftConstraints.fromProperties(readProps(tableDir), schema))
    }

  /** Publish time of a version dir in epoch millis (None: pre-marker
    * legacy — such a version never resolves by timestamp). */
  private[sources] def tsOf(version: Path): Option[Long] =
    marker(version, TsFile).flatMap(s => scala.util.Try(s.toLong).toOption)

  /** Resolve `TIMESTAMP AS OF t` to the highest-seq surviving COMMITTED
    * version published at or before `t` — the table as a reader at that
    * instant saw it. None when the table had no version yet (or the one
    * it had was GC'd past its grace: retention is the history window). */
  private[sources] def findVersionByTime(tableDir: Path,
      epochMs: Long): Option[Path] = {
    val vroot = tableDir.resolve(VersionsDir)
    if (!Files.isDirectory(vroot)) None
    else {
      val cur = currentToken(tableDir)
      val listing = Files.list(vroot)
      try listing.iterator().asScala
        .filter(p => committed(p, cur) && tsOf(p).exists(_ <= epochMs))
        .toSeq.maxByOption(seqOf)
      finally listing.close()
    }
  }

  /** Was this version ever CURRENT (post-swap marker, or it IS the
    * pointer target — covering the swap-to-marker crash window)? Only
    * committed versions may serve through the history faces. */
  private def committed(version: Path, current: Option[String]): Boolean =
    Files.exists(version.resolve(CommittedFile)) ||
      current.contains(version.getFileName.toString)

  private def currentToken(tableDir: Path): Option[String] =
    IndexStore.pointer.resolve(tableDir, PointerName)
      .map(_.getFileName.toString)

  /** Resolve `VERSION AS OF seq` to a surviving COMMITTED version dir
    * (a crashed writer's pre-swap dir carries a seq too — never it). */
  private[sources] def findVersionBySeq(tableDir: Path, seq: String): Option[Path] = {
    val vroot = tableDir.resolve(VersionsDir)
    if (!Files.isDirectory(vroot)) None
    else {
      val cur = currentToken(tableDir)
      val listing = Files.list(vroot)
      try listing.iterator().asScala
        .find(p => marker(p, SeqFile).contains(seq) && committed(p, cur))
      finally listing.close()
    }
  }

  /** The commit critical section: under the per-table lock, publish a
    * new manifest version = (previous entries unless truncating/
    * replacing) ++ `added`, swap the pointer, then GC grace-expired
    * superseded versions and grace-expired unreferenced data-file
    * orphans (failed writes' leftovers, speculative duplicates).
    *
    * @param replaceWith when set, the new manifest is EXACTLY this list
    *        (the delete path's rewritten survivor set) — `added` and
    *        `truncate` are ignored.
    * @param tag idempotency tag: when the CURRENT version already
    *        carries this tag, the commit is a NO-OP (the streaming
    *        sink's batch-replay guard — foreachBatch retries the last
    *        batch wholesale after an unacknowledged success).
    * @return the published (or already-current) version's seq. */
  private[sources] def commitVersion(tableDir: Path,
      added: Seq[ManifestEntry], truncate: Boolean,
      tag: Option[String] = None): Long =
    IndexStore.withArtifactLock(lockName(tableDir)) {
      val previous = IndexStore.pointer.resolve(tableDir, PointerName)
      val replay = tag.isDefined && previous.exists(p => tagOf(p) == tag)
      if (replay) seqOf(previous.get)
      else {
        enforceConstraints(tableDir, added)
        val base =
          if (truncate) Nil else previous.map(readManifest).getOrElse(Nil)
        publishLocked(tableDir, base ++ added, tag,
          if (truncate) Kind.Truncate else Kind.Append)
      }
    }

  /** FILE SKIPPING for the maintenance paths: a delete predicate that
    * provably matches nothing in a file (by its manifest stats) lets the
    * file carry over WITHOUT the per-row scan — the same pruning the
    * read path does at planning time. */
  private def statsProveNoMatch(e: ManifestEntry, schema: StructType,
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    e.stats.exists(st => filters.exists(f =>
      GraftStatsSkip.canSkip(f, schema, st, e.rows)))

  /** Row-level DELETE (driver-orchestrated here; at 100 TB the per-file
    * rewrite is a distributed job — the PROTOCOL is identical): under
    * the commit lock, scan each referenced pool file the stats cannot
    * skip once for its matched live ordinals. A file with no match
    * carries over BY REFERENCE in the new manifest, a fully matched one
    * drops out, and the rest follow `graft.delete.mode`:
    *
    *  - COPY-ON-WRITE (the default): the file's rows outside (old mask ∪
    *    matched) stream into a fresh `part-delete-…` pool file during the
    *    same scan that finds the matches, so the fresh file carries no DV
    *    (an unmatched file's copy is discarded);
    *  - MERGE-ON-READ (`dv`, the deletion-vector design every modern
    *    format grew for exactly this reason): a delete touching k rows of
    *    an f-row file writes a DV of the union mask instead of rewriting
    *    f rows — cost O(matched rows) + one scan of unskippable files,
    *    ZERO data-file writes. The new manifest carries the SAME data
    *    files with fattened masks (a further delete unions into a fresh
    *    immutable DV file, so each version pins its exact mask and time
    *    travel is free). Readers pay a forward cursor per file;
    *    `OPTIMIZE` materializes masks away.
    *
    * The survivor manifest publishes as a new version. The superseded
    * version still references the pre-delete files, so in-flight readers
    * and `VERSION AS OF` keep working until GC. */
  private[sources] def deleteWhere(tableDir: Path, schema: StructType,
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    IndexStore.withArtifactLock(lockName(tableDir)) {
      val dvMode = readProps(tableDir).get("graft.delete.mode").contains("dv")
      def hit(row: InternalRow): Boolean =
        filters.forall(f => GraftFilterEval.matches(f, row, schema))
      var changed = false
      val updated = currentManifest(tableDir).flatMap { e =>
        if (statsProveNoMatch(e, schema, filters)) Some(e)
        else {
          // COW streams the survivors out in the same pass that collects
          // the matches; the copy is discarded unless it is needed
          val out =
            if (dvMode) None
            else Some(new GraftPool.Writer(tableDir, "part-delete", schema))
          val matched = Array.newBuilder[Long]
          try GraftPool.foreachRow(tableDir, e, schema) { (pos, row) =>
            if (hit(row)) matched += pos else out.foreach(_.write(row))
          } catch { case NonFatal(t) => out.foreach(_.abort()); throw t }
          val fresh = matched.result()
          if (fresh.isEmpty) { out.foreach(_.abort()); Some(e) }
          else {
            changed = true
            val union = (GraftPool.mask(tableDir, e) ++ fresh).sorted
            if (union.length.toLong >= e.rows) { // fully masked: drop
              out.foreach(_.abort()); None
            } else out match {
              case Some(w) => w.finish()
              case None =>
                Some(e.copy(dv = Some(GraftPool.writeMask(tableDir, union))))
            }
          }
        }
      }
      if (changed)
        publishLocked(tableDir, updated, kind = Kind.Delete)
    }

  /** Schema of the table at `tableDir` (from its committed schema.json). */
  private[sources] def tableSchema(tableDir: Path): StructType =
    DataType.fromJson(Files.readString(tableDir.resolve(SchemaFile)))
      .asInstanceOf[StructType]

  /** COMPACTION (the OPTIMIZE face every table format ships): coalesce
    * the current manifest's pool files into ONE file and publish the
    * result as a new version — content identical, small-file count gone.
    * Driver-orchestrated here (files are test-sized); at 100 TB the same
    * protocol runs as a distributed bin-packing job whose output files
    * replace their inputs in the new manifest. The superseded version
    * still references the small files (in-flight readers, time travel)
    * until the grace GC; the orphan sweep reclaims them after. No-op
    * (current seq returned, no new version) when the table already has
    * ≤1 file. Readers are never blocked: this is one more staged commit
    * behind the same pointer swap. */
  private[graft] def compact(tableDir: Path): Long =
    IndexStore.withArtifactLock(lockName(tableDir)) {
      val previous = IndexStore.pointer.resolve(tableDir, PointerName)
      val entries = previous.map(readManifest).getOrElse(Nil)
      // a single UNMASKED file is already optimal; a masked one still
      // compacts (materializing its deletion vector away)
      if (entries.size <= 1 && entries.forall(_.dv.isEmpty))
        previous.map(seqOf).getOrElse(0L)
      else {
        val schema = tableSchema(tableDir)
        val merged = GraftPool.write(tableDir, "part-compact", schema) { w =>
          entries.foreach(e =>
            GraftPool.foreachRow(tableDir, e, schema)((_, row) => w.write(row)))
        }
        val rows = merged.map(_.rows).getOrElse(0L)
        // masks are MATERIALIZED here: conservation counts live rows
        require(rows == entries.map(_.liveRows).sum,
          s"compaction row conservation violated: $rows vs ${entries.map(_.liveRows).sum}")
        publishLocked(tableDir, merged.toSeq, kind = Kind.Compact)
      }
    }

  /** Z-ORDER compaction (`OPTIMIZE <t> ZORDER BY (c1, ...)`): rewrite
    * the table MULTI-DIMENSIONALLY clustered so the per-file min/max
    * stats prune on EVERY named column at once — the layout-management
    * verb a 100 TB deployment runs when one sort key isn't enough.
    * Each column is bucketized into 256 QUANTILE buckets (equal-height,
    * so skew cannot collapse the curve), bucket ids are BIT-INTERLEAVED
    * into a z-value, rows are written in z order split into `outFiles`
    * chunks — each chunk then covers a tight range in every dimension.
    * Content-identical (live-row conservation enforced) and published
    * as a DATA-CHANGE-FALSE compact commit: invisible to the change
    * feed, masks materialized away. Driver-orchestrated here like
    * [[compact]] (files are test-sized); at scale the same protocol is
    * a range-partitioned distributed sort — the quantile step is
    * `approxQuantile`, the rest identical. */
  private[graft] def compactZorder(tableDir: Path, zcols: Seq[String],
      outFiles: Int = 16): Long =
    IndexStore.withArtifactLock(lockName(tableDir)) {
      val schema = tableSchema(tableDir)
      require(zcols.nonEmpty, "ZORDER BY requires at least one column")
      // 8 bits per dimension in a 64-bit z-value: more than 8 columns
      // would shift the leading dimensions' bits out and silently
      // destroy the clustering — refuse loudly instead
      require(zcols.length <= 8,
        s"ZORDER BY supports at most 8 columns, got ${zcols.length}")
      val ords = zcols.map { c =>
        val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
        if (i < 0) throw new IllegalArgumentException(
          s"ZORDER BY column $c does not exist")
        if (!GraftStats.supported(schema.fields(i).dataType))
          throw new IllegalArgumentException(
            s"ZORDER BY column $c: ${schema.fields(i).dataType.sql} has no " +
              "stats order (boolean/int/bigint/float/double/string only)")
        i
      }
      val previous = IndexStore.pointer.resolve(tableDir, PointerName)
      val entries = previous.map(readManifest).getOrElse(Nil)
      if (entries.isEmpty) previous.map(seqOf).getOrElse(0L)
      else {
        // read every live row (masks materialized by the rewrite)
        val rows = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        entries.foreach(e =>
          GraftPool.foreachRow(tableDir, e, schema)((_, row) => rows += row))
        require(rows.length.toLong == entries.map(_.liveRows).sum,
          s"zorder read lost rows: ${rows.length} vs ${entries.map(_.liveRows).sum}")
        // 256 equal-height bucket boundaries per dimension (nulls sort
        // below everything and take bucket 0)
        val boundaries: Seq[Array[Any]] = ords.map { o =>
          val dt = schema.fields(o).dataType
          val vals = rows.iterator.filterNot(_.isNullAt(o))
            .map(r => GraftFilterEval.external(r, schema, o)).toArray
          java.util.Arrays.sort(vals.asInstanceOf[Array[AnyRef]],
            new java.util.Comparator[AnyRef] {
              override def compare(a: AnyRef, b: AnyRef): Int =
                GraftStats.cmp(dt, a, b)
            })
          if (vals.isEmpty) Array.empty[Any] // all-null dimension
          else (1 until 256).map(k => vals((k.toLong * vals.length / 256).toInt
            .min(vals.length - 1))).toArray[Any]
        }
        def bucket(r: InternalRow, dim: Int): Int = {
          val o = ords(dim)
          if (r.isNullAt(o)) 0
          else {
            val dt = schema.fields(o).dataType
            val v = GraftFilterEval.external(r, schema, o)
            val bs = boundaries(dim)
            // first boundary > v == this value's bucket
            var lo = 0; var hi = bs.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (GraftStats.cmp(dt, bs(mid), v) <= 0) lo = mid + 1 else hi = mid
            }
            lo
          }
        }
        def zval(r: InternalRow): Long = {
          // bucketize each dimension ONCE per row, then interleave
          val bk = new Array[Int](ords.length)
          var d = 0
          while (d < ords.length) { bk(d) = bucket(r, d); d += 1 }
          var z = 0L
          var bit = 0
          while (bit < 8) { // 8 bits per dim, MSB-first interleave
            d = 0
            while (d < ords.length) {
              z = (z << 1) | ((bk(d) >> (7 - bit)) & 1)
              d += 1
            }
            bit += 1
          }
          z
        }
        val sorted = rows.map(r => (zval(r), r)).sortBy(_._1).map(_._2)
        val nOut = math.max(1, math.min(outFiles, sorted.length))
        val out = (0 until nOut).flatMap { i =>
          val lo = (i.toLong * sorted.length / nOut).toInt
          val hi = ((i + 1).toLong * sorted.length / nOut).toInt
          GraftPool.write(tableDir, "part-zorder", schema)(w =>
            (lo until hi).foreach(j => w.write(sorted(j))))
        }
        require(out.map(_.rows).sum == sorted.length.toLong,
          "zorder rewrite must conserve rows")
        publishLocked(tableDir, out, kind = Kind.Compact)
      }
    }

  /** The row-level (COW) commit's publish seam: caller MUST hold the
    * per-table lock — it verifies its no-conflict precondition and
    * replaces the scanned files' entries in the same critical section. */
  private[sources] def replaceFiles(tableDir: Path,
      entries: Seq[ManifestEntry], kind: String): Long =
    publishLocked(tableDir, entries, kind = kind)

  /** Publish `entries` as the complete new manifest version. Caller MUST
    * hold the per-table lock ([[IndexStore.withArtifactLock]]) — the
    * POSIX channel lock does not re-enter, so this is the shared inner
    * body of [[commitVersion]] and [[deleteWhere]], never called bare. */
  private def publishLocked(tableDir: Path, entries: Seq[ManifestEntry],
      tag: Option[String] = None, kind: String = Kind.Append): Long = {
    val previous = IndexStore.pointer.resolve(tableDir, PointerName)
    val seq = previous.map(seqOf).getOrElse(0L) + 1L
    val token = UUID.randomUUID().toString.take(12)
    val vdir = tableDir.resolve(VersionsDir).resolve(token)
    Files.createDirectories(vdir)
    Files.writeString(vdir.resolve(ManifestFile),
      entries.map(manifestLine).mkString("\n"))
    Files.writeString(vdir.resolve(SeqFile), seq.toString)
    // strictly MONOTONE publish stamps that NEVER run ahead of the wall
    // clock: a stamp in the future would break read-your-writes for
    // `TIMESTAMP AS OF now()` (review finding). Two commits in the same
    // clock millisecond instead WAIT for the next tick — bounded by 1 ms
    // per same-ms predecessor, under a lock where a commit already costs
    // a Spark job.
    val floor = previous.flatMap(tsOf).getOrElse(Long.MinValue)
    var publishMs = System.currentTimeMillis()
    while (publishMs <= floor) {
      try Thread.sleep(1L)
      catch { case _: InterruptedException => Thread.currentThread().interrupt() }
      publishMs = System.currentTimeMillis()
    }
    Files.writeString(vdir.resolve(TsFile), publishMs.toString)
    Files.writeString(vdir.resolve(KindFile), kind)
    tag.foreach(t => Files.writeString(vdir.resolve(TagFile), t))
    IndexStore.pointer.swap(tableDir, PointerName, vdir)
    // committed marker AFTER the swap: only versions that were once
    // current resolve through the history faces
    try Files.writeString(vdir.resolve(CommittedFile), "1")
    catch { case NonFatal(_) => () }
    // stamp SUPERSESSION time so grace measures "since replaced"
    previous.foreach { p =>
      try Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      catch { case NonFatal(_) => () }
    }
    gcVersions(tableDir, keep = Set(token) ++
      previous.map(_.getFileName.toString), GraceMs)
    sweepOrphans(tableDir, GraceMs)
    seq
  }

  /** One surviving version's audit row ([[describeHistory]]). */
  private[graft] final case class VersionInfo(seq: Long, modifiedMs: Long,
      files: Int, rows: Long, tag: Option[String], isCurrent: Boolean,
      kind: Option[String] = None)

  /** Audit listing of every SURVIVING version, newest first — the
    * `DESCRIBE HISTORY` verb's body. What this lists is exactly what
    * `VERSION AS OF` can still resolve (retention = the GC window). */
  private[graft] def describeHistory(tableDir: Path): Seq[VersionInfo] = {
    val current = currentToken(tableDir)
    val vroot = tableDir.resolve(VersionsDir)
    if (!Files.isDirectory(vroot)) Nil
    else {
      val listing = Files.list(vroot)
      try listing.iterator().asScala
        .filter(v => committed(v, current)).map { v =>
        val entries = readManifest(v)
        // publish time from the immutable marker (the mtime is re-stamped
        // at supersession for the grace clock); legacy fallback: mtime
        VersionInfo(seqOf(v),
          tsOf(v).getOrElse(
            try Files.getLastModifiedTime(v).toMillis
            catch { case NonFatal(_) => 0L }),
          entries.size, entries.map(_.liveRows).sum, tagOf(v),
          current.contains(v.getFileName.toString), kindOf(v))
      }.toSeq.sortBy(-_.seq)
      finally listing.close()
    }
  }

  /** EXPLICIT GC — the `VACUUM <table> [RETAIN n HOURS]` verb: under the
    * table lock, collect superseded versions and unreferenced pool files
    * older than `retainMs` (the CURRENT version is always kept). The
    * in-flight-READER protection is the retention window — `RETAIN 0`
    * reclaims all superseded history, including time travel, exactly
    * the table-format contract (and why formats warn on zero retention).
    *
    * The ORPHAN sweep additionally floors the retention at [[GraceMs]]:
    * an "unreferenced" pool file younger than the grace may be an
    * IN-FLIGHT WRITER'S staged file (tasks stage without the table
    * lock; only the driver's commit references them) — sweeping it
    * would let that commit publish a manifest over deleted bytes
    * (review finding, this round). Version GC has no such hazard
    * (version dirs are only ever created under the lock).
    * Returns (versions removed, orphan files removed). */
  private[graft] def vacuum(tableDir: Path, retainMs: Long): (Int, Int) =
    IndexStore.withArtifactLock(lockName(tableDir)) {
      val keep = IndexStore.pointer.resolve(tableDir, PointerName)
        .map(_.getFileName.toString).toSet
      val v = gcVersions(tableDir, keep, retainMs)
      val o = sweepOrphans(tableDir, math.max(retainMs, GraceMs))
      (v, o)
    }

  /** Best-effort removal of superseded versions past the grace window;
    * versions named in `keep` (the freshly published one and its
    * immediate predecessor on the commit path — in-flight readers) are
    * always kept. Returns how many versions were removed. */
  private def gcVersions(tableDir: Path, keep: Set[String],
      graceMs: Long): Int = {
    val vroot = tableDir.resolve(VersionsDir)
    val now = System.currentTimeMillis()
    var removed = 0
    if (Files.isDirectory(vroot)) {
      val listing = Files.list(vroot)
      try listing.forEach { p =>
        val expired =
          try now - Files.getLastModifiedTime(p).toMillis >= graceMs
          catch { case NonFatal(_) => false }
        if (!keep.contains(p.getFileName.toString) && expired)
          try { IndexStore.deleteRecursively(p); removed += 1 }
          catch { case NonFatal(_) => () }
      } finally listing.close()
    }
    removed
  }

  /** Best-effort removal of data-pool files REFERENCED BY NO surviving
    * manifest and older than the grace window — the leftovers of aborted
    * writes, crashed drivers, and speculative task duplicates. Runs
    * under the commit lock, so no concurrent commit can be mid-way to
    * referencing a file this sweep looks at (a not-yet-committed
    * writer's files are younger than any realistic grace anyway).
    * Returns how many files were unlinked. */
  private def sweepOrphans(tableDir: Path, graceMs: Long): Int = {
    val vroot = tableDir.resolve(VersionsDir)
    val referenced: Set[String] =
      if (!Files.isDirectory(vroot)) Set.empty
      else {
        val listing = Files.list(vroot)
        // deletion-vector files are pool citizens too: referenced by the
        // manifest entry that carries them, swept once no version does
        try listing.iterator().asScala
          .flatMap(v => readManifest(v).flatMap(e =>
            e.file +: e.dv.map(_.file).toSeq)).toSet
        finally listing.close()
      }
    val dataDir = tableDir.resolve(DataDir)
    val now = System.currentTimeMillis()
    var removed = 0
    if (Files.isDirectory(dataDir)) {
      val listing = Files.list(dataDir)
      try listing.forEach { p =>
        val expired =
          try now - Files.getLastModifiedTime(p).toMillis >= graceMs
          catch { case NonFatal(_) => false }
        if (!referenced.contains(p.getFileName.toString) && expired)
          try { Files.deleteIfExists(p); removed += 1 }
          catch { case NonFatal(_) => () }
      } finally listing.close()
    }
    removed
  }
}

/** One catalog table: batch read of the current (or time-travel-pinned)
  * manifest snapshot, staged-commit batch write (append or truncate),
  * and filter-based SQL DELETE that rewrites ONLY the data files
  * containing matches. A pinned (historical) table is read-only. */
private[sources] class GraftTable(tableName: String, tableDir: String,
    tableSchema: StructType, pinnedVersion: Option[Path] = None)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_file`: which pool file a row lives in — the file-granular lineage
    * every table format exposes. Doubles as the row-level operations'
    * required metadata attribute: its presence makes Spark take the
    * metadata-aware write path, which hands carried-over rows to the
    * two-arg `DataWriter.write(metadata, row)` and projected row parts
    * to the one-arg path (without it, ReplaceDataExec feeds the writer
    * UNPROJECTED rows with the leading `__row_operation` column). */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftCatalog.FileMetaCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "data-pool file containing the row"
    })

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  /** Stored table properties (SHOW TBLPROPERTIES / DESCRIBE EXTENDED);
    * `graft.check.*` entries are the live CHECK constraints. */
  override def properties(): util.Map[String, String] =
    GraftCatalog.readProps(Paths.get(tableDir)).asJava
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(tableDir, tableSchema, pinnedVersion)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (pinnedVersion.isDefined) throw new UnsupportedOperationException(
      s"$tableName is a historical snapshot (VERSION AS OF); writes go to the current table")
    // commitTag (write option): idempotency tag for exactly-once sinks —
    // a replayed commit whose tag the CURRENT version already carries is
    // a no-op (the foreachBatch batch-id guard)
    new GraftWriteBuilder(tableDir, tableSchema,
      Option(info.options.get("commitTag")), info.queryId())
  }

  /** SQL `DELETE FROM t WHERE ...` (filter-convertible predicates on the
    * supported comparable types): rewrites only the pool files with ≥1
    * matching row — survivors stream into fresh pool files, untouched
    * files carry over by reference — and publishes the survivor manifest
    * as a new version through the same staged-commit path. Cost is
    * O(files containing matches), the `src_forget_*` discipline. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    pinnedVersion.isEmpty &&
      filters.forall(f => GraftFilterEval.supported(f, tableSchema))

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(canDeleteWhere(filters), "unsupported DELETE predicate")
    GraftCatalog.deleteWhere(Paths.get(tableDir), tableSchema, filters)
  }

  /** SQL `UPDATE` / `MERGE INTO` (and `DELETE` with predicates the
    * metadata path can't express, e.g. `<>` under three-valued logic):
    * GROUP-BASED COPY-ON-WRITE at file granularity. Spark's rewrite
    * plans read back the affected groups IN FULL through the operation's
    * scan (its pushed filters prune at file granularity — false
    * positives read extra rows, never lose one), compute the replacement
    * rows, and the operation's write swaps exactly the scanned files out
    * of the manifest in one staged commit. A commit that raced in
    * between is detected by sequence number and fails loudly
    * (serializable, not lost-update). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (pinnedVersion.isDefined) throw new UnsupportedOperationException(
      s"$tableName is a historical snapshot (VERSION AS OF); DML goes to the current table")
    () => new GraftRowLevelOperation(tableDir, tableSchema, info.command())
  }
}

/** One group-based (copy-on-write) row-level operation: the scan pins
  * the manifest snapshot and records which files survived file skipping
  * (= the REPLACED groups); the write publishes (manifest − scanned) ++
  * staged as one version, refusing if any other commit landed since the
  * scan pinned its snapshot. */
private class GraftRowLevelOperation(tableDir: String, schema: StructType,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
  extends org.apache.spark.sql.connector.write.RowLevelOperation {
  import GraftCatalog.ManifestEntry

  /** (seq at scan, full manifest, files the scan planned) — pinned by
    * the FIRST scan build and reused if planning builds the scan again,
    * so every face of the rewrite plan sees one immutable snapshot. */
  @volatile private var pinned: Option[(Long, Seq[ManifestEntry], Seq[ManifestEntry])] = None

  private[sources] def pinScan(live: Seq[ManifestEntry],
      all: Seq[ManifestEntry], seq: Long): Seq[ManifestEntry] =
    synchronized {
      pinned match {
        case Some((_, _, scanned)) =>
          // group-based planning builds ONE scan and reuses it across
          // the rewrite plan; a rebuild with a DIFFERENT file set would
          // desynchronize "rows read" from "files replaced" — fail loud
          // rather than lose rows
          if (live.map(_.file).toSet != scanned.map(_.file).toSet)
            throw new IllegalStateException(
              "row-level scan rebuilt with a different file set; " +
                "unsupported plan shape")
          scanned
        case None => pinned = Some((seq, all, live)); live
      }
    }

  /** Runtime group filtering callback ([[GraftCowScan.filter]]): shrink
    * the pinned replace set to the files the runtime filter kept. */
  private[sources] def narrowScanned(keep: Set[String]): Unit =
    synchronized {
      pinned = pinned.map { case (seq, all, scanned) =>
        (seq, all, scanned.filter(e => keep.contains(e.file)))
      }
    }

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftCowScanBuilder(this, tableDir, schema)

  /** Requiring `_file` routes ReplaceDataExec through the metadata-aware
    * writing task, which applies the ROW PROJECTION before handing rows
    * to the writer (see [[GraftTable.metadataColumns]]). */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftCatalog.FileMetaCol))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
            new GraftWriterFactory(tableDir, schema)
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            val (scanSeq, all, scanned) = pinned.getOrElse(
              throw new IllegalStateException(
                "row-level write committed without a pinned scan"))
            val staged = GraftFileMsg.staged(messages)
            // a fully-skipped operation (stats proved no file could
            // match) replaces nothing — publish no version at all
            if (scanned.isEmpty && staged.isEmpty) return
            val dir = Paths.get(tableDir)
            IndexStore.withArtifactLock(GraftCatalog.lockName(dir)) {
              val curSeq = IndexStore.pointer
                .resolve(dir, GraftCatalog.PointerName)
                .map(GraftCatalog.seqOf).getOrElse(0L)
              if (curSeq != scanSeq) {
                // loud serializable-conflict abort: unlink our staged
                // files, leave the table exactly as the winner left it
                GraftPool.unlinkStaged(dir, staged.map(_.file))
                throw new IllegalStateException(
                  s"concurrent commit detected: table moved from version " +
                    s"$scanSeq to $curSeq during the row-level operation; retry")
              }
              // CHECK/NOT NULL gate over the rewritten rows: an UPDATE/
              // MERGE that would land a violating row aborts here, before
              // any manifest moves (the engine's abort unlinks the staged
              // files; the winner-visible table is unchanged)
              GraftCatalog.enforceConstraints(dir, staged)
              val scannedNames = scanned.map(_.file).toSet
              import org.apache.spark.sql.connector.write.RowLevelOperation.Command
              val kind = cmd match {
                case Command.UPDATE => GraftCatalog.Kind.Update
                case Command.DELETE => GraftCatalog.Kind.Delete
                case _ => GraftCatalog.Kind.Merge
              }
              GraftCatalog.replaceFiles(dir,
                all.filterNot(e => scannedNames.contains(e.file)) ++ staged, kind)
            }
            ()
          }
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            GraftPool.unlinkStaged(Paths.get(tableDir),
              GraftFileMsg.staged(messages).map(_.file))
        }
        override def description(): String =
          s"graft_table_cow dir=$tableDir cmd=$cmd"
      }
    }
  }

  override def description(): String = s"graft COW $cmd on $tableDir"
}

/** The COW operation's scan builder: same pushdown + file skipping as
  * the read path, but build() pins the operation's snapshot and records
  * the surviving files as the groups the write will replace. */
private class GraftCowScanBuilder(op: GraftRowLevelOperation,
    tableDir: String, schema: StructType)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = schema
  private var skippingFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    skippingFilters = filters.filter(f => GraftStatsSkip.usable(f, schema))
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    skippingFilters
  override def build(): Scan = {
    val dir = Paths.get(tableDir)
    val (seq, all) = IndexStore.pointer.resolve(dir, GraftCatalog.PointerName)
      .map(v => (GraftCatalog.seqOf(v), GraftCatalog.readManifest(v)))
      .getOrElse((0L, Nil))
    val live =
      if (skippingFilters.isEmpty) all
      else all.filterNot(e => e.stats.exists(st =>
        skippingFilters.exists(f =>
          GraftStatsSkip.canSkip(f, schema, st, e.rows))))
    val scanned = op.pinScan(live, all, seq)
    new GraftCowScan(op, tableDir, schema, required, scanned, all.size)
  }
}

/** The COW scan: a [[GraftTableScan]] that additionally accepts
  * RUNTIME GROUP FILTERING (the selective-MERGE optimization): Spark's
  * RowLevelOperationRuntimeGroupFiltering computes the DISTINCT `_file`
  * values of rows matching the operation's condition (via a separate
  * plain scan of the table) and pushes them here as an IN filter before
  * execution — files proven match-free shrink BOTH the scan and the
  * operation's replace set, so a MERGE touching one file rewrites one
  * file even when no static predicate exists to skip on. */
private class GraftCowScan(op: GraftRowLevelOperation, tableDir: String,
    schema: StructType, required: StructType,
    scanned: Seq[GraftCatalog.ManifestEntry], totalFiles: Int)
  extends GraftTableScan(tableDir, schema, required, scanned, totalFiles)
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  import org.apache.spark.sql.sources.{EqualTo, Filter, In}

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftCatalog.FileMetaCol))

  override def filter(filters: Array[Filter]): Unit = {
    // only _file filters narrow; anything else is ignored (conservative)
    val keep: Option[Set[String]] = filters.collectFirst {
      case In(a, vs) if a == GraftCatalog.FileMetaCol =>
        vs.collect { case s: String => s }.toSet
      case EqualTo(a, v: String) if a == GraftCatalog.FileMetaCol => Set(v)
    }
    keep.foreach { names =>
      files = files.filter(e => names.contains(e.file))
      // the replace set must shrink WITH the scan: runtime-filtered-out
      // files are never read, so their rows are never written back —
      // they carry over by reference instead of being lost
      op.narrowScanned(names)
    }
  }
}

private class GraftScanBuilder(tableDir: String, schema: StructType,
    pinnedVersion: Option[Path])
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = schema
  private var skippingFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  /** File skipping is INEXACT (whole-file granularity): every filter is
    * returned as a residual for Spark to re-evaluate per row; the usable
    * ones are additionally kept to prune manifest entries at build time
    * (and reported via `pushedFilters` so EXPLAIN shows them). */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    skippingFilters = filters.filter(f => GraftStatsSkip.usable(f, schema))
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    skippingFilters
  override def build(): Scan = {
    // resolve the pointer ONCE (or read the PINNED version's manifest):
    // the scan reads an immutable snapshot — a commit racing this query
    // cannot swap files mid-scan
    val files = pinnedVersion match {
      case Some(v) => GraftCatalog.readManifest(v)
      case None => GraftCatalog.currentManifest(Paths.get(tableDir))
    }
    // PLANNING-TIME file skipping: drop every file one of the pushed
    // (conjunctive) filters proves empty; files without stats survive
    val live =
      if (skippingFilters.isEmpty) files
      else files.filterNot(e => e.stats.exists(st =>
        skippingFilters.exists(f =>
          GraftStatsSkip.canSkip(f, schema, st, e.rows))))
    new GraftTableScan(tableDir, schema, required, live, files.size)
  }
}

private class GraftTableScan(tableDir: String, schema: StructType,
    required: StructType, initialFiles: Seq[GraftCatalog.ManifestEntry],
    totalFiles: Int)
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  /** Live file set — the COW subclass narrows it at RUNTIME (group
    * filtering); the base scan never mutates it after construction. */
  @volatile protected var files: Seq[GraftCatalog.ManifestEntry] =
    initialFiles
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_table dir=$tableDir files=${files.size}/$totalFiles " +
      s"rows=${files.map(_.liveRows).sum} cols=${required.fieldNames.mkString(",")}"
  override def planInputPartitions(): Array[InputPartition] =
    files.map(e => GraftFileSplit(
      Paths.get(tableDir, GraftCatalog.DataDir, e.file).toString,
      e.colsOr(schema.length),
      e.dv.map(d => Paths.get(tableDir, GraftCatalog.DataDir, d.file).toString)))
      .toArray[InputPartition]
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(schema, required.fieldNames)

  /** Post-skipping size/rows off the manifest — the numbers Catalyst's
    * join planning consumes (a small graft table under the broadcast
    * threshold is broadcast WITHOUT a hint; spec-pinned). Legacy entries
    * without recorded bytes fall back to the live file size. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override val numRows: java.util.OptionalLong =
        java.util.OptionalLong.of(files.map(_.liveRows).sum)
      override val sizeInBytes: java.util.OptionalLong =
        java.util.OptionalLong.of(files.map { e =>
          if (e.bytes >= 0L) e.bytes
          else try Files.size(
            Paths.get(tableDir, GraftCatalog.DataDir, e.file))
          catch { case NonFatal(_) => 0L }
        }.sum)
    }

  /** The TABLE-AS-STREAM face (the Delta-streaming-source shape):
    * offsets are COMMIT SEQUENCE numbers, each trigger admits ONE
    * version's worth of newly-appended files (the manifest DIFF between
    * the two seqs — append-only history required; a truncate/delete in
    * the offset range fails loudly rather than silently replaying or
    * dropping rows). Recovery replays any (start, end] deterministically
    * from the surviving version dirs, so the history a streaming reader
    * may still need is bounded by the GC grace — exactly a table
    * format's stream-source retention contract. */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
    val dir = Paths.get(tableDir)
    new MicroBatchStream with SupportsAdmissionControl
      with SupportsTriggerAvailableNow {
      // freeze-at-start for Trigger.AvailableNow: the backfill drains
      // versions up to the seq LATCHED at prepare time and terminates —
      // a commit landing mid-drain is the NEXT run's work, exactly the
      // SyntheticDocsSource latch contract on the table's seq axis
      @volatile private var latchedSeq: Long = -1L
      override def prepareForTriggerAvailableNow(): Unit =
        latchedSeq = currentSeq
      private def currentSeq: Long =
        IndexStore.pointer.resolve(dir, GraftCatalog.PointerName)
          .map(GraftCatalog.seqOf).getOrElse(0L)
      private def filesAt(seq: Long): Seq[GraftCatalog.ManifestEntry] =
        if (seq <= 0L) Nil
        else GraftCatalog.readManifest(GraftCatalog.findVersionBySeq(dir, seq.toString)
          .getOrElse(throw new IllegalStateException(
            s"version $seq of $tableDir is gone (GC'd past the grace window); " +
              "a streaming reader's lag must stay inside the retention grace")))
      override def initialOffset(): Offset = GraftSeqOffset(0L)
      override def latestOffset(): Offset =
        throw new UnsupportedOperationException(
          "admission-controlled source: engine must call latestOffset(start, limit)")
      // one committed VERSION per trigger — the replayable unit; under
      // AvailableNow, admission additionally never passes the latch
      override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
        val cap =
          if (latchedSeq >= 0L) math.min(latchedSeq, currentSeq)
          else currentSeq
        GraftSeqOffset(math.min(start.asInstanceOf[GraftSeqOffset].seq + 1L, cap))
      }
      override def getDefaultReadLimit: ReadLimit = ReadLimit.maxFiles(1)
      override def reportLatestOffset(): Offset = GraftSeqOffset(currentSeq)
      override def deserializeOffset(json: String): Offset =
        GraftSeqOffset(json.trim.toLong)
      override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
        val s = start.asInstanceOf[GraftSeqOffset].seq
        val e = end.asInstanceOf[GraftSeqOffset].seq
        val before = filesAt(s)
        val after = filesAt(e)
        val beforeNames = before.map(_.file).toSet
        // append-only contract: every pre-existing file must survive
        val lost = beforeNames -- after.map(_.file).toSet
        if (lost.nonEmpty) throw new IllegalStateException(
          s"streaming a graft table requires append-only history; version " +
            s"range ($s, $e] removed files: ${lost.take(3).mkString(", ")}")
        // a deletion-vector delete removes ROWS without removing files —
        // equally append-only-violating, equally loud (the change feed is
        // the face that can follow it)
        val beforeDv = before.map(f => f.file -> f.dv).toMap
        val masked = after.filter(f =>
          beforeDv.get(f.file).exists(_ != f.dv))
        if (masked.nonEmpty) throw new IllegalStateException(
          s"streaming a graft table requires append-only history; version " +
            s"range ($s, $e] grew deletion vectors on: " +
            masked.take(3).map(_.file).mkString(", ") +
            " — use the change feed (GraftChangeFeed) to follow deletes")
        after.filterNot(f => beforeNames.contains(f.file))
          .map(f => GraftFileSplit(
            dir.resolve(GraftCatalog.DataDir).resolve(f.file).toString,
            f.colsOr(schema.length),
            f.dv.map(d =>
              dir.resolve(GraftCatalog.DataDir).resolve(d.file).toString)))
          .toArray[InputPartition]
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new GraftReaderFactory(schema, required.fieldNames)
      override def commit(end: Offset): Unit = ()
      override def stop(): Unit = ()
    }
  }
}

private case class GraftSeqOffset(seq: Long)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = seq.toString
}

/** `cols` = the file's write-time schema width (manifest ledger): a
  * file written before an ADD COLUMN parses as the schema's cols-wide
  * prefix and the reader null-fills the evolved tail. `dvPath` = the
  * file's deletion vector, if any — the reader masks those ordinals. */
private case class GraftFileSplit(path: String, cols: Int,
    dvPath: Option[String] = None)
  extends InputPartition

private class GraftReaderFactory(schema: StructType,
    requiredNames: Array[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val split = partition.asInstanceOf[GraftFileSplit]
    // a file WIDER than this reader's schema means the table object was
    // resolved before a concurrent ALTER+INSERT — silently clamping
    // would desynchronize the codec stream mid-row; fail loud instead
    if (split.cols > schema.length) throw new IllegalStateException(
      s"data file written with ${split.cols} columns but this reader's " +
        s"table snapshot has ${schema.length}; re-resolve the table " +
        "(stale relation across a concurrent ALTER TABLE)")
    val fileSchema = StructType(schema.fields.take(split.cols))
    // ordinal ≥ 0: data column; FileOrd: the _file metadata column (a
    // declared table column of that name shadows the metadata column)
    val FileOrd = -1
    val ordinals: Array[Int] = requiredNames.map { n =>
      if (schema.fieldNames.contains(n)) schema.fieldIndex(n)
      else if (n == GraftCatalog.FileMetaCol) FileOrd
      else schema.fieldIndex(n) // throws the standard missing-field error
    }
    val fileName = UTF8String.fromString(
      Paths.get(split.path).getFileName.toString)
    val pool = new GraftPool.Reader(Paths.get(split.path), fileSchema,
      new GraftDv.Cursor(GraftPool.mask(split.dvPath.map(Paths.get(_)))))
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        val full = pool.next()
        if (full == null) false
        else {
          // projection-level pruning: the row format parses every field,
          // but only the REQUIRED ordinals are emitted; ordinals past the
          // file's write-time width are the evolved tail — null by
          // definition (ADD COLUMN is nullable-only)
          val out = new GenericInternalRow(ordinals.length)
          var i = 0
          while (i < ordinals.length) {
            val o = ordinals(i)
            if (o == FileOrd) out.update(i, fileName)
            else if (o < split.cols)
              out.update(i, full.get(o, schema.fields(o).dataType))
            i += 1
          }
          current = out
          true
        }
      }
      override def get(): InternalRow = current
      override def close(): Unit = pool.close()
    }
  }
}

private class GraftWriteBuilder(tableDir: String, schema: StructType,
    commitTag: Option[String], queryId: String)
  extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new GraftBatchWrite(tableDir, schema, truncateFirst, commitTag)
    /** NATIVE STREAMING SINK (`df.writeStream.toTable(...)`): every epoch
      * is one staged manifest commit tagged `(queryId, epochId)`, so an
      * epoch REPLAYED after an unacknowledged success (the exactly-once
      * failure mode) is a catalog-level no-op against the version it
      * already published — the same TagFile guard the foreachBatch sink
      * uses, without the user writing any sink code. Complete-mode
      * streams arrive with truncate(): each epoch then REPLACES the
      * table (truncate + stage) in its one atomic commit. */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
        override def createStreamingWriterFactory(info: PhysicalWriteInfo)
            : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
          new GraftStreamingWriterFactory(tableDir, schema)
        override def commit(epochId: Long,
            messages: Array[WriterCommitMessage]): Unit = {
          GraftCatalog.commitVersion(Paths.get(tableDir),
            GraftFileMsg.staged(messages), truncateFirst,
            Some(s"epoch-$queryId-$epochId"))
          ()
        }
        override def abort(epochId: Long,
            messages: Array[WriterCommitMessage]): Unit =
          GraftPool.unlinkStaged(Paths.get(tableDir),
            GraftFileMsg.staged(messages).map(_.file))
      }
    override def description(): String =
      s"graft_table dir=$tableDir truncate=$truncateFirst"
  }
}

private class GraftStreamingWriterFactory(tableDir: String,
    schema: StructType)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(tableDir, schema, partitionId, taskId)
}

/** One staged file's identity, sent back from a committed writer task:
  * name, rows, write-time schema width, exact bytes, and the base64
  * per-column stats the manifest persists for file skipping. */
private case class GraftFileMsg(file: String, rows: Long, cols: Int,
    bytes: Long, statsB64: String)
  extends WriterCommitMessage {
  def toEntry: GraftCatalog.ManifestEntry =
    GraftCatalog.ManifestEntry(file, rows, cols, bytes,
      Some(GraftStats.decode(statsB64)))
}

private object GraftFileMsg {
  /** The files committed tasks staged (an empty task staged none). */
  def staged(messages: Array[WriterCommitMessage]): Seq[GraftCatalog.ManifestEntry] =
    messages.toSeq.collect { case m: GraftFileMsg if m.file.nonEmpty => m.toEntry }
}

private class GraftBatchWrite(tableDir: String, schema: StructType,
    truncateFirst: Boolean, commitTag: Option[String]) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(tableDir, schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    GraftCatalog.commitVersion(Paths.get(tableDir),
      GraftFileMsg.staged(messages), truncateFirst, commitTag)
    ()
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    // unlink what committed tasks staged; files of FAILED tasks were
    // already unlinked by their writer's abort(), and anything a crash
    // left behind is unreferenced and falls to the grace-aged sweep
    GraftPool.unlinkStaged(Paths.get(tableDir),
      GraftFileMsg.staged(messages).map(_.file))
}

private class GraftWriterFactory(tableDir: String, schema: StructType)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(tableDir, schema, partitionId, taskId)
}

/** One task's staged-file writer: a uniquely-named pool file, invisible
  * until the driver's commit references it from a manifest. */
private class GraftDataWriter(tableDir: String, schema: StructType,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {
  private val pool = new GraftPool.Writer(Paths.get(tableDir),
    s"part-$partitionId-$taskId", schema, idChars = 8)

  override def write(row: InternalRow): Unit = pool.write(row)
  /** Metadata-carrying write (the row-level operations' carried-over
    * rows arrive here with their origin `_file`): the metadata is
    * lineage, not content — the row lands in THIS writer's file. */
  override def write(metadata: InternalRow, row: InternalRow): Unit =
    write(row)
  override def commit(): WriterCommitMessage = pool.finish() match {
    case Some(e) =>
      GraftFileMsg(e.file, e.rows, e.cols, e.bytes, GraftStats.encode(e.stats.get))
    // an empty task (common under local[32] fan-out) contributes
    // nothing: its file is unlinked, "no file" is an empty name, so the
    // manifest never accumulates zero-row entries
    case None => GraftFileMsg("", 0L, schema.length, 0L, "")
  }
  override def abort(): Unit = pool.abort()
  override def close(): Unit = pool.close()
}

/** Evaluates pushed v1 [[org.apache.spark.sql.sources.Filter]]s against
  * codec rows for the DELETE path. Supported: And/Or, the comparison
  * family, In, IsNull/IsNotNull, and the string predicates, over the
  * comparable scalar types. `Not` is deliberately UNSUPPORTED: under
  * three-valued SQL logic `NOT (x = v)` is UNKNOWN (row kept) for a
  * null x, but a two-valued evaluator would return TRUE (row deleted) —
  * rejecting it keeps `DELETE ... WHERE col <> v` a loud error instead
  * of a silent null-row deletion. Null semantics of the supported
  * leaves: a null operand never matches (SQL comparison contract), so
  * "unknown" degrades to "kept", which is exactly DELETE's behavior. */
private[sources] object GraftFilterEval {
  import org.apache.spark.sql.sources._

  private def comparable(dt: DataType): Boolean = dt match {
    case BooleanType | IntegerType | LongType | FloatType | DoubleType |
         StringType => true
    case _ => false
  }

  def supported(f: Filter, schema: StructType): Boolean = {
    def col(a: String, strOnly: Boolean = false): Boolean =
      schema.fieldNames.contains(a) &&
        (if (strOnly) schema(a).dataType == StringType
         else comparable(schema(a).dataType))
    f match {
      case And(l, r) => supported(l, schema) && supported(r, schema)
      case Or(l, r) => supported(l, schema) && supported(r, schema)
      case EqualTo(a, v) => v != null && col(a)
      case EqualNullSafe(a, _) => col(a) // <=> is two-valued by definition
      case GreaterThan(a, v) => v != null && col(a)
      case GreaterThanOrEqual(a, v) => v != null && col(a)
      case LessThan(a, v) => v != null && col(a)
      case LessThanOrEqual(a, v) => v != null && col(a)
      case In(a, vs) => vs != null && col(a)
      case IsNull(a) => schema.fieldNames.contains(a)
      case IsNotNull(a) => schema.fieldNames.contains(a)
      case StringStartsWith(a, v) => v != null && col(a, strOnly = true)
      case StringEndsWith(a, v) => v != null && col(a, strOnly = true)
      case StringContains(a, v) => v != null && col(a, strOnly = true)
      case _ => false
    }
  }

  /** Row value of column `a` as an external scalar; None when null. */
  private def value(row: InternalRow, schema: StructType, a: String): Option[Any] = {
    val i = schema.fieldIndex(a)
    if (row.isNullAt(i)) None else Some(external(row, schema, i))
  }

  /** Non-null row value at ordinal `i` as an external scalar (caller
    * checks isNullAt) — shared with the z-order bucketizer. */
  private[sources] def external(row: InternalRow, schema: StructType,
      i: Int): Any =
    schema.fields(i).dataType match {
      case BooleanType => row.getBoolean(i)
      case IntegerType => row.getInt(i)
      case LongType => row.getLong(i)
      case FloatType => row.getFloat(i)
      case DoubleType => row.getDouble(i)
      case StringType => row.getUTF8String(i).toString
      case other => throw new IllegalStateException(s"uncomparable $other")
    }

  /** x (row) vs v (filter literal), under the column's type family —
    * delegated to [[GraftStats.cmp]] so the row evaluator, the stats
    * collector, and the skip evaluator share ONE Spark-consistent order
    * (UTF-8 binary strings, -0.0 == 0.0 doubles). */
  private def cmp(schema: StructType, a: String, x: Any, v: Any): Int =
    GraftStats.cmp(schema(a).dataType, x, v)

  def matches(f: Filter, row: InternalRow, schema: StructType): Boolean = f match {
    case And(l, r) => matches(l, row, schema) && matches(r, row, schema)
    case Or(l, r) => matches(l, row, schema) || matches(r, row, schema)
    case EqualTo(a, v) => value(row, schema, a).exists(cmp(schema, a, _, v) == 0)
    case EqualNullSafe(a, v) => value(row, schema, a) match {
      case None => v == null
      case Some(x) => v != null && cmp(schema, a, x, v) == 0
    }
    case GreaterThan(a, v) => value(row, schema, a).exists(cmp(schema, a, _, v) > 0)
    case GreaterThanOrEqual(a, v) =>
      value(row, schema, a).exists(cmp(schema, a, _, v) >= 0)
    case LessThan(a, v) => value(row, schema, a).exists(cmp(schema, a, _, v) < 0)
    case LessThanOrEqual(a, v) =>
      value(row, schema, a).exists(cmp(schema, a, _, v) <= 0)
    case In(a, vs) => value(row, schema, a).exists(x =>
      vs.exists(v => v != null && cmp(schema, a, x, v) == 0))
    case IsNull(a) => value(row, schema, a).isEmpty
    case IsNotNull(a) => value(row, schema, a).isDefined
    case StringStartsWith(a, v) =>
      value(row, schema, a).exists(_.toString.startsWith(v))
    case StringEndsWith(a, v) =>
      value(row, schema, a).exists(_.toString.endsWith(v))
    case StringContains(a, v) =>
      value(row, schema, a).exists(_.toString.contains(v))
    case other => throw new IllegalStateException(s"unsupported filter $other")
  }
}

/** The POOL FILE of the graft table format, read and written in one
  * place. A pool file is a [[GraftRowCodec]] row stream written at a
  * recorded column width (its manifest entry's `cols`), masked by a
  * deletion-vector ordinal cursor ([[GraftDv]]), padded to the table's
  * width on read, and summarised by a [[GraftStats.Collector]] into its
  * [[GraftCatalog.ManifestEntry]]. The scan and change-feed partition
  * readers, deletes, compaction, the constraint validator and the task
  * writers all go through [[Reader]] and [[Writer]]. */
private[sources] object GraftPool {
  import GraftCatalog.{DataDir, Dv, ManifestEntry}

  private def file(tableDir: Path, name: String): Path =
    tableDir.resolve(DataDir).resolve(name)

  /** One pool file's rows in physical order, at the file's write-time
    * width. `next()` returns the next row whose ordinal `skip` does not
    * hold — with `keepSkipped`, the next one it does hold — or null at
    * EOF; `pos` is that row's physical ordinal. */
  final class Reader(path: Path, fileSchema: StructType,
      skip: GraftDv.Cursor, keepSkipped: Boolean = false) {
    private val in = new DataInputStream(new java.io.BufferedInputStream(
      Files.newInputStream(path)))
    private var ordinal = -1L
    def pos: Long = ordinal
    def next(): InternalRow = {
      var row = GraftRowCodec.read(in, fileSchema)
      ordinal += 1
      while (row != null && skip.masked(ordinal) != keepSkipped) {
        row = GraftRowCodec.read(in, fileSchema)
        ordinal += 1
      }
      row
    }
    def close(): Unit = in.close()
  }

  /** The sorted ordinals of a DV file (empty without one). */
  def mask(dvFile: Option[Path]): Array[Long] =
    dvFile.map(GraftDv.read).getOrElse(Array.emptyLongArray)

  /** The DV mask of a manifest entry. */
  def mask(tableDir: Path, e: ManifestEntry): Array[Long] =
    mask(e.dv.map(d => file(tableDir, d.file)))

  /** Writes `sortedOrdinals` as a new immutable DV file. */
  def writeMask(tableDir: Path, sortedOrdinals: Array[Long]): Dv = {
    val name = s"part-dv-${UUID.randomUUID().toString.take(12)}.gdv"
    GraftDv.write(file(tableDir, name), sortedOrdinals)
    Dv(name, sortedOrdinals.length.toLong)
  }

  /** Row of the table's FULL current width from a file row of prefix
    * width `cols` — the evolved tail stays null (ADD COLUMN contract). */
  private def padded(row: InternalRow, cols: Int,
      schema: StructType): InternalRow =
    if (cols == schema.length) row
    else {
      val out = new GenericInternalRow(schema.length)
      var i = 0
      while (i < cols) {
        out.update(i, row.get(i, schema.fields(i).dataType))
        i += 1
      }
      out
    }

  /** Calls `f(pos, row)` for every row of `e` its DV mask does not hold,
    * padded to `schema`'s width. */
  def foreachRow(tableDir: Path, e: ManifestEntry, schema: StructType)(
      f: (Long, InternalRow) => Unit): Unit = {
    val cols = e.colsOr(schema.length)
    val r = new Reader(file(tableDir, e.file),
      StructType(schema.fields.take(cols)),
      new GraftDv.Cursor(mask(tableDir, e)))
    try {
      var row = r.next()
      while (row != null) {
        f(r.pos, padded(row, cols, schema))
        row = r.next()
      }
    } finally r.close()
  }

  /** One new pool file `<namePrefix>-<id>.gbin` in the table's data dir,
    * written at `schema`'s full width. `finish()` closes it and returns
    * its manifest entry, or unlinks it and returns None when it holds no
    * row; `abort()` closes and unlinks it. */
  final class Writer(tableDir: Path, namePrefix: String, schema: StructType,
      idChars: Int = 12) {
    private val name =
      s"$namePrefix-${UUID.randomUUID().toString.take(idChars)}.gbin"
    private val path = file(tableDir, name)
    Files.createDirectories(path.getParent)
    private var out = new DataOutputStream(new BufferedOutputStream(
      Files.newOutputStream(path)))
    private val types = schema.fields.map(_.dataType)
    private val stats = new GraftStats.Collector(schema)
    private var rows = 0L

    def write(row: InternalRow): Unit = {
      GraftRowCodec.write(out, types, row)
      stats.update(row)
      rows += 1
    }
    def finish(): Option[ManifestEntry] = {
      out.close(); out = null
      if (rows == 0L) { Files.deleteIfExists(path); None }
      else Some(ManifestEntry(name, rows, schema.length, Files.size(path),
        Some(stats.result())))
    }
    def abort(): Unit = { close(); Files.deleteIfExists(path) }
    def close(): Unit =
      if (out != null) { try out.close() catch { case NonFatal(_) => () }; out = null }
  }

  /** Fills one new pool file on the driver; a failure unlinks it. */
  def write(tableDir: Path, namePrefix: String, schema: StructType)(
      fill: Writer => Unit): Option[ManifestEntry] = {
    val w = new Writer(tableDir, namePrefix, schema)
    try { fill(w); w.finish() }
    catch { case NonFatal(t) => w.abort(); throw t }
  }

  /** Unlinks pool files a commit staged but will not publish (an abort
    * or a conflict). Best effort: the orphan sweep reclaims the rest. */
  def unlinkStaged(tableDir: Path, names: Seq[String]): Unit =
    names.foreach(n =>
      try Files.deleteIfExists(file(tableDir, n))
      catch { case NonFatal(_) => () })
}

/** DELETION-VECTOR codec + streaming mask cursor. A DV file is a count
  * followed by that many SORTED physical row ordinals (longs). Readers
  * stream rows in physical order, so masking is a single forward cursor
  * — O(1) amortized per row, no per-row lookup structure. */
private[sources] object GraftDv {
  def write(path: Path, sortedOrdinals: Array[Long]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(
      Files.newOutputStream(path)))
    try {
      out.writeLong(sortedOrdinals.length.toLong)
      var i = 0
      while (i < sortedOrdinals.length) { out.writeLong(sortedOrdinals(i)); i += 1 }
    } finally out.close()
  }

  def read(path: Path): Array[Long] = {
    val in = new DataInputStream(new java.io.BufferedInputStream(
      Files.newInputStream(path)))
    try {
      val n = in.readLong().toInt
      val a = new Array[Long](n)
      var i = 0
      while (i < n) { a(i) = in.readLong(); i += 1 }
      a
    } finally in.close()
  }

  /** Forward cursor over a sorted mask: call with ascending ordinals. */
  final class Cursor(sorted: Array[Long]) {
    private var i = 0
    def masked(ordinal: Long): Boolean = {
      while (i < sorted.length && sorted(i) < ordinal) i += 1
      i < sorted.length && sorted(i) == ordinal
    }
  }
}

/** Row codec of the graft table format: per row, per field in schema
  * order, one null byte then the value — fixed-width scalars inline,
  * strings/binary length-prefixed. A row starts with a presence byte so
  * EOF detection is unambiguous. */
private[sources] object GraftRowCodec {

  def supported(dt: DataType): Boolean = dt match {
    case BooleanType | IntegerType | LongType | FloatType | DoubleType |
         StringType | BinaryType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }

  def write(out: DataOutputStream, types: Array[DataType], row: InternalRow): Unit = {
    out.writeByte(1)
    var i = 0
    while (i < types.length) {
      if (row.isNullAt(i)) out.writeBoolean(true)
      else {
        out.writeBoolean(false)
        types(i) match {
          case BooleanType => out.writeBoolean(row.getBoolean(i))
          case IntegerType | DateType => out.writeInt(row.getInt(i))
          case LongType | TimestampType | TimestampNTZType =>
            out.writeLong(row.getLong(i))
          case FloatType => out.writeFloat(row.getFloat(i))
          case DoubleType => out.writeDouble(row.getDouble(i))
          case StringType =>
            val b = row.getUTF8String(i).getBytes
            out.writeInt(b.length); out.write(b)
          case BinaryType =>
            val b = row.getBinary(i)
            out.writeInt(b.length); out.write(b)
          case other =>
            throw new IllegalStateException(s"unsupported type $other")
        }
      }
      i += 1
    }
  }

  /** Next full row, or null at clean EOF. A torn trailing row (the file
    * of a crashed UNCOMMITTED writer — never referenced by a manifest,
    * so never legitimately read) would surface as EOFException, loudly.
    * `schema` is the file's WRITE-TIME schema (its manifest `cols`-wide
    * prefix of the table schema under evolution). */
  def read(in: DataInputStream, schema: StructType): InternalRow = {
    val marker = in.read()
    if (marker < 0) return null
    if (marker != 1) throw new EOFException(s"corrupt row marker $marker")
    val row = new GenericInternalRow(schema.length)
    var i = 0
    while (i < schema.length) {
      if (!in.readBoolean()) {
        schema.fields(i).dataType match {
          case BooleanType => row.setBoolean(i, in.readBoolean())
          case IntegerType | DateType => row.setInt(i, in.readInt())
          case LongType | TimestampType | TimestampNTZType =>
            row.setLong(i, in.readLong())
          case FloatType => row.setFloat(i, in.readFloat())
          case DoubleType => row.setDouble(i, in.readDouble())
          case StringType =>
            val b = new Array[Byte](in.readInt()); in.readFully(b)
            row.update(i, UTF8String.fromBytes(b))
          case BinaryType =>
            val b = new Array[Byte](in.readInt()); in.readFully(b)
            row.update(i, b)
          case other =>
            throw new IllegalStateException(s"unsupported type $other")
        }
      }
      i += 1
    }
    row
  }
}

/** Per-file column statistics of the graft table format — the FILE
  * SKIPPING index (what a table format's manifest min/max columns are
  * for: at 100 TB a selective predicate must prune files at PLANNING
  * time, not feed them to executors to filter row by row).
  *
  * Per stats-supported column (the comparable scalars — boolean, int,
  * long, float, double, string): null count plus min/max of the non-null
  * values. String bounds are TRUNCATED to [[MaxStringBound]] chars —
  * a truncated min is still a valid lower bound as-is, a truncated max
  * is rounded UP to its prefix successor (or dropped when no successor
  * exists), so every persisted bound stays conservative. Float/double
  * bounds use `java.lang.Double.compare` total order (NaN above
  * everything) on BOTH the collect and the skip side, so NaN-carrying
  * files are never skipped incorrectly.
  *
  * Encoding: a tag-typed binary stream (same discipline as
  * [[GraftRowCodec]]) base64'd into one manifest field — immune to the
  * tab/newline collisions a JSON string bound could smuggle into the
  * line-oriented manifest. */
private[sources] object GraftStats {

  /** Bounds are truncated to this many UTF-16 units before persisting. */
  val MaxStringBound = 64

  /** One column's file-level stats. `min`/`max` are external scalars
    * (Boolean/Int/Long/Float/Double/String), None when the file has no
    * non-null value (or a string max with no valid rounded-up bound). */
  final case class ColStats(nulls: Long, min: Option[Any], max: Option[Any])

  /** Column name → stats. Keyed by NAME, not ordinal: a file written
    * before an ADD COLUMN simply has no entry for the new column. */
  type FileStats = Map[String, ColStats]

  def supported(dt: DataType): Boolean = dt match {
    case BooleanType | IntegerType | LongType | FloatType | DoubleType |
         StringType => true
    case _ => false
  }

  /** Total-order compare of two stat/literal values under the column's
    * type family — the single comparator shared by the collector, the
    * skip evaluator, and the row-level filter evaluator. It must agree
    * with SPARK'S OWN evaluation order, or a stats bound becomes a
    * wrong bound and skipping silently drops matching rows:
    *
    *  - strings compare as UTF-8 BYTES (Spark's `UTF8String` binary
    *    order) — UTF-16 `String.compareTo` disagrees for supplementary
    *    characters vs [U+E000, U+FFFF] (review finding, this round);
    *  - floats/doubles normalize `-0.0 == 0.0` first (Spark's
    *    SQLOrderingUtil contract) — raw `Double.compare` puts
    *    -0.0 < 0.0, which would let `max = -0.0` skip a `>= 0.0`
    *    predicate Spark evaluates as true. NaN stays greatest and
    *    equal to itself, matching Spark. */
  def cmp(dt: DataType, x: Any, y: Any): Int = dt match {
    case IntegerType | LongType =>
      java.lang.Long.compare(x.asInstanceOf[Number].longValue(),
        y.asInstanceOf[Number].longValue())
    case FloatType | DoubleType =>
      val a = x.asInstanceOf[Number].doubleValue()
      val b = y.asInstanceOf[Number].doubleValue()
      if (a == b) 0 else java.lang.Double.compare(a, b)
    case BooleanType =>
      java.lang.Boolean.compare(x.asInstanceOf[Boolean], y.asInstanceOf[Boolean])
    case StringType =>
      UTF8String.fromString(x.toString).compareTo(
        UTF8String.fromString(y.toString))
    case other => throw new IllegalStateException(s"no stats order for $other")
  }

  /** Smallest string > every string with prefix `s` under UTF-8 BINARY
    * order. Sound only when the prefix is pure ASCII (byte order ==
    * char order, and the bumped char stays single-byte); None otherwise
    * — a None just means "no upper bound", which skipping treats
    * conservatively. (Bumping a UTF-16 unit is NOT sound in general: a
    * bump can land in the surrogate range, whose lone-char UTF-8
    * encoding collapses to '?' and sorts BELOW the prefix.) */
  private[sources] def prefixSuccessor(s: String): Option[String] = {
    if (!s.forall(c => c < 0x80)) None
    else {
      var i = s.length - 1
      while (i >= 0 && s(i) >= 0x7f) i -= 1
      if (i < 0) None
      else Some(s.substring(0, i) + (s(i) + 1).toChar)
    }
  }

  /** `s` truncated to at most [[MaxStringBound]] UTF-16 units WITHOUT
    * splitting a surrogate pair — the kept prefix's UTF-8 bytes are a
    * strict prefix of the original's, so it is a valid binary-order
    * LOWER bound (a split pair would encode as '?', breaking that). */
  private def truncateForMin(s: String): String = {
    val t = s.take(MaxStringBound)
    if (t.nonEmpty && Character.isHighSurrogate(t.last)) t.dropRight(1) else t
  }

  /** Streaming stats collector over the write-time schema — one per
    * writer task (and one per driver-side rewrite stream). */
  final class Collector(schema: StructType) {
    private val n = schema.length
    private val nulls = new Array[Long](n)
    private val mins = new Array[Any](n)
    private val maxs = new Array[Any](n)
    private val track: Array[Boolean] =
      schema.fields.map(f => supported(f.dataType))

    def update(row: InternalRow): Unit = {
      var i = 0
      while (i < n) {
        if (row.isNullAt(i)) nulls(i) += 1
        else if (track(i)) {
          val dt = schema.fields(i).dataType
          val v: Any = dt match {
            case BooleanType => row.getBoolean(i)
            case IntegerType => row.getInt(i)
            case LongType => row.getLong(i)
            case FloatType => row.getFloat(i)
            case DoubleType => row.getDouble(i)
            case StringType => row.getUTF8String(i).toString
            case other => throw new IllegalStateException(s"untracked $other")
          }
          if (mins(i) == null || cmp(dt, v, mins(i)) < 0) mins(i) = v
          if (maxs(i) == null || cmp(dt, v, maxs(i)) > 0) maxs(i) = v
        }
        i += 1
      }
    }

    def result(): FileStats =
      schema.fields.zipWithIndex.collect {
        case (f, i) if track(i) =>
          val (lo, hi) = f.dataType match {
            case StringType =>
              val lo = Option(mins(i)).map(s => truncateForMin(s.toString))
              val hi = Option(maxs(i)).map(_.toString).flatMap { s =>
                if (s.length <= MaxStringBound) Some(s)
                else prefixSuccessor(s.take(MaxStringBound))
              }
              (lo: Option[Any], hi: Option[Any])
            case _ => (Option(mins(i)), Option(maxs(i)))
          }
          f.name -> ColStats(nulls(i), lo, hi)
      }.toMap
  }

  // ---- codec: tag-typed binary, base64'd into one manifest field ----

  private val TagBool = 1; private val TagInt = 2; private val TagLong = 3
  private val TagFloat = 4; private val TagDouble = 5; private val TagString = 6

  private def writeValue(out: DataOutputStream, v: Any): Unit = v match {
    case b: Boolean => out.writeByte(TagBool); out.writeBoolean(b)
    case i: Int => out.writeByte(TagInt); out.writeInt(i)
    case l: Long => out.writeByte(TagLong); out.writeLong(l)
    case f: Float => out.writeByte(TagFloat); out.writeFloat(f)
    case d: Double => out.writeByte(TagDouble); out.writeDouble(d)
    case s: String => out.writeByte(TagString); out.writeUTF(s)
    case other => throw new IllegalStateException(s"unencodable stat $other")
  }

  private def readValue(in: DataInputStream): Any = in.readByte().toInt match {
    case TagBool => in.readBoolean()
    case TagInt => in.readInt()
    case TagLong => in.readLong()
    case TagFloat => in.readFloat()
    case TagDouble => in.readDouble()
    case TagString => in.readUTF()
    case other => throw new IllegalStateException(s"corrupt stat tag $other")
  }

  def encode(stats: FileStats): String = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(stats.size)
    stats.toSeq.sortBy(_._1).foreach { case (name, cs) =>
      out.writeUTF(name)
      out.writeLong(cs.nulls)
      out.writeBoolean(cs.min.isDefined); cs.min.foreach(writeValue(out, _))
      out.writeBoolean(cs.max.isDefined); cs.max.foreach(writeValue(out, _))
    }
    out.flush()
    java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
  }

  def decode(s: String): FileStats = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(
      java.util.Base64.getDecoder.decode(s)))
    val n = in.readInt()
    (0 until n).map { _ =>
      val name = in.readUTF()
      val nulls = in.readLong()
      val min = if (in.readBoolean()) Some(readValue(in)) else None
      val max = if (in.readBoolean()) Some(readValue(in)) else None
      name -> ColStats(nulls, min, max)
    }.toMap
  }
}

/** The file-skipping evaluator: given one pushed v1 Filter and one
  * manifest entry's stats, decides whether NO row of that file can
  * satisfy the filter. STRICTLY CONSERVATIVE: any missing stat, unknown
  * column, unsupported leaf, or null literal answers "cannot skip".
  * Filters arrive as a conjunction (Spark splits on And before pushing),
  * so a file is skipped when ANY single pushed filter proves it empty;
  * inside one filter, And skips if either side does, Or only if both do.
  *
  * This is also the GROUP-SKIPPING contract of the row-level-operation
  * scan ([[GraftRowLevelOperation]]): group-based copy-on-write requires
  * whole files containing ANY possible match to be read back in full —
  * file-granular, false-positive-tolerant, false-negative-free pruning
  * is exactly what min/max skipping provides. */
private[sources] object GraftStatsSkip {
  import org.apache.spark.sql.sources._
  import GraftStats.{ColStats, FileStats, cmp}

  /** Can this filter contribute to file skipping at all (worth reporting
    * as pushed)? Same leaf set `canSkip` understands. */
  def usable(f: Filter, schema: StructType): Boolean = {
    def col(a: String): Boolean =
      schema.fieldNames.contains(a) && GraftStats.supported(schema(a).dataType)
    f match {
      case And(l, r) => usable(l, schema) || usable(r, schema)
      case Or(l, r) => usable(l, schema) && usable(r, schema)
      case EqualTo(a, v) => v != null && col(a)
      case EqualNullSafe(a, _) => col(a)
      case GreaterThan(a, v) => v != null && col(a)
      case GreaterThanOrEqual(a, v) => v != null && col(a)
      case LessThan(a, v) => v != null && col(a)
      case LessThanOrEqual(a, v) => v != null && col(a)
      case In(a, vs) => vs != null && col(a)
      case IsNull(a) => col(a)
      case IsNotNull(a) => col(a)
      case StringStartsWith(a, v) =>
        v != null && schema.fieldNames.contains(a) &&
          schema(a).dataType == StringType
      case _ => false
    }
  }

  /** True ⇒ provably no row of the file matches `f`. `rows` is the
    * file's manifest row count (for the all-null test). */
  def canSkip(f: Filter, schema: StructType, stats: FileStats,
      rows: Long): Boolean = {
    def st(a: String): Option[(ColStats, DataType)] =
      if (!schema.fieldNames.contains(a)) None
      else stats.get(a).filter(_ => GraftStats.supported(schema(a).dataType))
        .map(cs => (cs, schema(a).dataType))
    // a column written before an ADD COLUMN has no stats entry BUT is
    // all-null by construction in this file — indistinguishable here
    // from "legacy no-stats", so absence stays "cannot skip" and the
    // evolution path keeps correctness without extra bookkeeping
    def allNull(cs: ColStats): Boolean = cs.nulls == rows
    def noNonNullBelowEq(cs: ColStats, dt: DataType, v: Any): Boolean =
      allNull(cs) || cs.min.exists(lo => cmp(dt, lo, v) > 0) // min > v
    def noNonNullAboveEq(cs: ColStats, dt: DataType, v: Any): Boolean =
      allNull(cs) || cs.max.exists(hi => cmp(dt, hi, v) < 0) // max < v
    def outsideRange(cs: ColStats, dt: DataType, v: Any): Boolean =
      allNull(cs) ||
        cs.min.exists(lo => cmp(dt, v, lo) < 0) ||
        cs.max.exists(hi => cmp(dt, v, hi) > 0)
    f match {
      case And(l, r) =>
        canSkip(l, schema, stats, rows) || canSkip(r, schema, stats, rows)
      case Or(l, r) =>
        canSkip(l, schema, stats, rows) && canSkip(r, schema, stats, rows)
      case EqualTo(a, v) =>
        v != null && st(a).exists { case (cs, dt) => outsideRange(cs, dt, v) }
      case EqualNullSafe(a, v) =>
        st(a).exists { case (cs, dt) =>
          if (v == null) cs.nulls == 0L else outsideRange(cs, dt, v)
        }
      case GreaterThan(a, v) => // need some x > v: skip if max <= v
        v != null && st(a).exists { case (cs, dt) =>
          allNull(cs) || cs.max.exists(hi => cmp(dt, hi, v) <= 0)
        }
      case GreaterThanOrEqual(a, v) =>
        v != null && st(a).exists { case (cs, dt) => noNonNullAboveEq(cs, dt, v) }
      case LessThan(a, v) => // need some x < v: skip if min >= v
        v != null && st(a).exists { case (cs, dt) =>
          allNull(cs) || cs.min.exists(lo => cmp(dt, lo, v) >= 0)
        }
      case LessThanOrEqual(a, v) =>
        v != null && st(a).exists { case (cs, dt) => noNonNullBelowEq(cs, dt, v) }
      case In(a, vs) =>
        vs != null && st(a).exists { case (cs, dt) =>
          allNull(cs) || vs.forall(v => v == null || outsideRange(cs, dt, v))
        }
      case IsNull(a) =>
        st(a).exists { case (cs, _) => cs.nulls == 0L }
      case IsNotNull(a) =>
        st(a).exists { case (cs, _) => allNull(cs) }
      case StringStartsWith(a, p) =>
        // matches live in [p, prefixSuccessor(p)): skip if max < p or
        // min >= the successor (when one exists)
        p != null && st(a).exists { case (cs, dt) =>
          allNull(cs) ||
            cs.max.exists(hi => cmp(dt, hi, p) < 0) ||
            GraftStats.prefixSuccessor(p).exists(u =>
              cs.min.exists(lo => cmp(dt, lo, u) >= 0))
        }
      case _ => false
    }
  }
}
