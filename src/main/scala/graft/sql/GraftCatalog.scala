package graft.sql

import java.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{VersionedTable, VersionedTableOps}

/** SQL entry point to the versioned-table layer (SURVEY.md §2.7): a
  * DataSource-V2 [[TableCatalog]] so plain-SQL users — and BI tools
  * that only speak SQL — reach the same commit-log snapshots the
  * Scala API serves, with the same zone-map file skipping.
  *
  * Activation mirrors the shape every comparable lakehouse layer
  * (Delta, Iceberg) uses — one catalog config plus one extensions
  * config:
  * {{{
  *   spark.sql.catalog.graft   = graft.sql.GraftCatalog
  *   spark.sql.catalog.graft.root = /path/to/warehouse   (or set at runtime)
  *   spark.sql.extensions      = graft.sql.GraftSqlExtensions
  * }}}
  * after which `SELECT … FROM graft.db.t`, `… VERSION AS OF 3`,
  * `… TIMESTAMP AS OF '…'`, `SHOW TABLES IN graft.db` and
  * `DESCRIBE TABLE graft.db.t` all work. Identifiers map to
  * directories: `graft.a.b.t` → `<root>/a/b/t`, each table directory
  * being an ordinary [[VersionedTable]] (a `_commits/` log next to
  * immutable data files).
  *
  * Read path: `loadTable` pins the table's CURRENT version (so one
  * statement referencing a table twice sees one snapshot), and the
  * [[GraftSqlRule]] resolution rule swaps the DSv2 relation for
  * [[VersionedTableOps.read]]'s plan — a parquet file-source
  * relation over [[graft.sources.ZoneMapFileIndex]], so query
  * predicates prune manifest files at PLANNING time and the scan
  * keeps every file-source optimization (parquet pushdown on
  * survivors, column pruning, whole-stage codegen). The rule-based
  * swap is the same design Delta uses (DeltaCatalog +
  * DeltaSparkSessionExtension): the catalog resolves NAMES and pins
  * VERSIONS; the extensions rule owns the plan.
  *
  * Scale: every catalog operation here is O(manifest) driver-side
  * metadata — no data job. The data work happens in the swapped-in
  * scan, which is the already-audited zone-map read path.
  *
  * Write path (round 10, second half): the SQL statements whose
  * semantics map EXACTLY onto one transactional-API commit are
  * supported — each SQL statement is one commit through the same
  * CAS'd log, so SQL writers and Scala writers interleave safely:
  *
  *  - `INSERT INTO graft.db.t SELECT …` → [[VersionedTableOps.append]]
  *    (V1Write fallback: the fully-planned insert frame is handed to
  *    the append path, which stages data once and CAS-commits —
  *    schema-on-write checks, constraints, id mapping all apply);
  *  - `INSERT OVERWRITE graft.db.t SELECT …` →
  *    [[VersionedTableOps.overwrite]] (the truncate-capable builder);
  *  - `DELETE FROM graft.db.t WHERE …` → [[VersionedTableOps.delete]]
  *    (copy-on-write) for conditions expressible as DSv2 filters —
  *    anything else refuses loudly rather than approximating;
  *  - `CREATE TABLE graft.db.t (…)` / `CREATE TABLE … AS SELECT` →
  *    an empty [[VersionedTableOps.overwrite]] commit (+ the CTAS
  *    insert). Partition transforms refuse with a pointer at
  *    overwritePartitioned (SQL cannot name graft's value-directory
  *    layout yet);
  *  - `ALTER TABLE … RENAME COLUMN` / `DROP COLUMN` → the
  *    metadata-only [[VersionedTableOps.renameColumn]] /
  *    [[VersionedTableOps.dropColumn]] commits.
  *
  * Statements whose semantics do NOT collapse to one commit closure
  * (UPDATE/MERGE row-level rewrites, DROP TABLE's physical removal)
  * still throw with a pointer at the transactional Scala API — a SQL
  * surface that silently half-implements a mutation is worse than
  * one that refuses.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog {

  private var catalogName: String = _
  private var initRoot: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initRoot = Option(options.get("root"))
  }

  override def name(): String = catalogName

  /** CHECK-constraint DDL is allowed through (write-time enforcement
    * is a first-class versioned-table feature).
    */
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** Store backend for this catalog name — POSIX by default; tests
    * (and embedders) may register an object-store-backed ops under a
    * second catalog name via [[GraftCatalog.setOps]].
    */
  private def ops: VersionedTableOps = GraftCatalog.opsFor(catalogName)

  /** The backend, for the maintenance procedures ([[GraftProcedures]]). */
  private[sql] def opsRef: VersionedTableOps = ops

  /** 'db.t' → warehouse directory — the procedures' table-argument
    * resolution, same mapping as SQL identifiers.
    */
  private[sql] def resolveDotted(dotted: String): String =
    dotted.split('.').foldLeft(java.nio.file.Paths.get(root)) {
      (p, seg) => p.resolve(seg)
    }.toString

  /** Warehouse root, re-read from the session conf on EVERY lookup so
    * `spark.conf.set("spark.sql.catalog.<name>.root", …)` takes
    * effect immediately — catalog instances are cached per session,
    * but the warehouse location must not be frozen at first use.
    */
  private def root: String = {
    val conf = SparkSession.active.conf
    conf.getOption(s"spark.sql.catalog.$catalogName.root")
      .orElse(initRoot)
      .getOrElse(throw new IllegalStateException(
        s"graft catalog '$catalogName' has no warehouse root — set " +
          s"spark.sql.catalog.$catalogName.root"))
  }

  private def tablePath(ident: Identifier): String =
    (ident.namespace :+ ident.name).foldLeft(java.nio.file.Paths.get(root)) {
      (p, seg) => p.resolve(seg)
    }.toString

  private def nsPath(namespace: Array[String]): java.nio.file.Path =
    namespace.foldLeft(java.nio.file.Paths.get(root))((p, seg) => p.resolve(seg))

  // a head-dropped table is "no table" to every SQL surface; its
  // retained pre-drop versions stay reachable through the Scala API
  // until vacuum (the DROP TABLE two-step, round 12)
  private def isTable(path: String): Boolean =
    ops.versions(path).nonEmpty && !ops.isDropped(path)

  override def tableExists(ident: Identifier): Boolean = isTable(tablePath(ident))

  override def loadTable(ident: Identifier): Table = {
    val path = tablePath(ident)
    // pin the head NOW: every scan of this statement sees one snapshot;
    // a head-dropped table is gone from SQL (tombstone, round 12)
    val head = ops.versions(path).lastOption.map(v => ops.snapshot(path, Some(v)))
      .filter(_.op != "drop_table")
      .getOrElse(throw new NoSuchTableException(ident))
    new GraftSqlTable(ops, path, head.version, ident)
  }

  /** `VERSION AS OF <v>` — the SQL twin of `read(…, Some(v))`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = tablePath(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new NoSuchTableException(
        ident.toString, s"version '$version' is not a graft version number")
    }
    if (!ops.versions(path).contains(v)) throw new NoSuchTableException(
      ident.toString, s"version $v does not exist (or was vacuumed)")
    new GraftSqlTable(ops, path, v, ident)
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands micros; the commit log
    * resolves AS-OF on manifest publish times (millis).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val path = tablePath(ident)
    if (ops.versions(path).isEmpty) throw new NoSuchTableException(ident)
    new GraftSqlTable(ops, path,
      ops.versionAsOf(path, Math.floorDiv(timestampMicros, 1000L)), ident)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!java.nio.file.Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.list(dir))(
      _.iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) && isTable(p.toString))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray)
  }

  override def invalidateTable(ident: Identifier): Unit = ()

  /** `CREATE TABLE` (and the create half of CTAS): version 0 is an
    * empty overwrite commit carrying the declared schema in its
    * manifest — the same bootstrap the Scala API produces, so every
    * later reader/writer (either surface) sees an ordinary versioned
    * table.
    *
    * `PARTITIONED BY (col, …)` — identity transforms on top-level
    * columns — creates the value-directory layout
    * ([[VersionedTableOps.overwritePartitioned]]): every later
    * INSERT routes rows into value directories, keyed MERGE takes
    * the partition-scoped path, and dropPartition /
    * filesForPartition address values by segment. Version 0 of a
    * partitioned table carries ZERO files (a zero-row file cannot be
    * value-routed, and an unrouted file would force every routing
    * check to refuse forever); the recorded schema makes the empty
    * read well-typed. Non-identity transforms (bucket, days, …)
    * refuse — the layout has no spec for them.
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val spark = SparkSession.active
    // resolve through the session's resolver (case-insensitive by
    // default, matching how every other identifier binds) and use the
    // SCHEMA's canonical spelling — `PARTITIONED BY (GRP)` on column
    // `grp` must route, not refuse (round-10 advice)
    val resolver = spark.sessionState.conf.resolver
    val partCols = partitions.toSeq.map { t =>
      val refs = t.references
      if (t.name != "identity" || refs.length != 1 || refs.head.fieldNames.length != 1)
        throw new UnsupportedOperationException(
          s"graft SQL PARTITIONED BY supports identity transforms on " +
            s"top-level columns only, not ${t.describe}")
      val c = refs.head.fieldNames.head
      val canonical = schema.fieldNames.filter(resolver(_, c))
      require(canonical.length == 1,
        if (canonical.isEmpty) s"PARTITIONED BY column $c is not in the table schema"
        else s"PARTITIONED BY column $c is ambiguous in the table schema " +
          s"(${canonical.mkString(", ")})")
      canonical.head
    }
    val path = tablePath(ident)
    if (isTable(path)) throw new TableAlreadyExistsException(ident)
    // DROP-RECREATE GRACE-WINDOW EXPOSURE (round-12 advice, now
    // documented and gateable): CREATE over a tombstoned head
    // CONTINUES that table's commit history, so until vacuum truncates
    // it, `SELECT … VERSION AS OF` on the recreated name reaches the
    // PREVIOUS owner's pre-drop snapshots — deliberate forensics
    // (SqlCatalogSpec pins it), but a data-exposure surprise for shops
    // expecting Delta/Iceberg drop-recreate isolation. Opt into strict
    // isolation with `spark.sql.catalog.<name>.strictRecreate = true`:
    // CREATE then refuses until `vacuum(retain = 1)` has reclaimed the
    // dropped history (rename the old table away, or vacuum, first).
    if (ops.versions(path).size > 1 && // > 1: pre-drop snapshots retained
        spark.conf.getOption(s"spark.sql.catalog.$catalogName.strictRecreate")
          .contains("true"))
      throw new IllegalStateException(
        s"${ident.toString} was dropped but its pre-drop history is still " +
          "retained — time travel on the recreated name would reach the " +
          "previous owner's data (strictRecreate is on). Run " +
          s"CALL $catalogName.system.vacuum('<table>', 1, <graceMs>) first")
    // Column-mapping mode (round 12): `TBLPROPERTIES
    // ('graft.columnMapping' = 'id')` starts the table in ID mode —
    // RENAME with no name-burn, DROP + immediate re-ADD with old
    // bytes dead ([[VersionedTableOps.overwriteIdMapped]]'s Iceberg
    // property) — with a per-catalog conf default
    // (`spark.sql.catalog.<name>.columnMapping = id`) for shops that
    // want every SQL-born table id-mapped. 'name' (the default)
    // keeps the transparent-physical-names mode.
    val mapping = Option(properties.get("graft.columnMapping"))
      .orElse(spark.conf.getOption(s"spark.sql.catalog.$catalogName.columnMapping"))
      .getOrElse("name")
    val idMapped = mapping match {
      case "id" => true
      case "name" => false
      case other => throw new IllegalArgumentException(
        s"graft.columnMapping must be 'id' or 'name', got '$other'")
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    if (partCols.isEmpty) {
      // one empty partition → one zero-row parquet file, so version 0
      // is an ordinary manifest (no zero-file snapshot edge anywhere)
      if (idMapped) ops.overwriteIdMapped(path, empty.repartition(1))
      else ops.overwrite(spark, path, empty.repartition(1))
    } else
      ops.overwritePartitioned(path, empty, partCols, idMapped = idMapped)
    // Bloom index at birth (round 13): `TBLPROPERTIES
    // ('graft.bloom.columns' = 'c1,c2' [, 'graft.bloom.fpp' =
    // '0.001'])` declares the per-file equality-skipping index as a
    // second commit — every INSERT from then on indexes its files
    // inside the stage (nothing to backfill: the table is empty).
    Option(properties.get("graft.bloom.columns"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty).foreach { cols =>
        val fpp = Option(properties.get("graft.bloom.fpp"))
          .map(_.toDouble).getOrElse(0.01)
        ops.setBloomIndex(spark, path, cols.map((_, fpp)), backfill = false)
      }
    loadTable(ident)
  }

  /** `ALTER TABLE` for the single-commit changes the layer already
    * owns: the three metadata-only column commits (ADD — round 12 —
    * plus RENAME and DROP), and CHECK-constraint ADD/DROP (write-time
    * enforcement — ADD validates the existing data inside its commit
    * closure, the Delta-shaped scan). Every other change refuses.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = tablePath(ident)
    if (!isTable(path)) throw new NoSuchTableException(ident)
    val spark = SparkSession.active
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "graft adds top-level columns only")
        require(a.isNullable,
          "graft ADD COLUMN is metadata-only: existing rows read the new " +
            "column as NULL, so it must be nullable")
        ops.addColumn(spark, path, a.fieldNames.head, a.dataType)
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "graft renames top-level columns only")
        ops.renameColumn(spark, path, r.fieldNames.head, r.newName)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "graft drops top-level columns only")
        ops.dropColumn(spark, path, d.fieldNames.head)
      case a: TableChange.AddConstraint => a.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          ops.addCheckConstraint(spark, path, c.name(), c.predicateSql())
        case other => throw new UnsupportedOperationException(
          s"graft enforces CHECK constraints only, not ${other.toDDL}")
      }
      case d: TableChange.DropConstraint =>
        if (!d.ifExists ||
            ops.checkConstraints(path).exists(_._1 == d.name()))
          ops.dropCheckConstraint(spark, path, d.name())
      case other => throw new UnsupportedOperationException(
        s"graft SQL ALTER TABLE supports ADD/RENAME/DROP COLUMN and ADD/DROP " +
          s"CONSTRAINT … CHECK only, not $other — use the VersionedTable API")
    }
    loadTable(ident)
  }

  /** DROP TABLE = the metadata-only tombstone commit
    * ([[VersionedTableOps.dropTable]]): the name disappears from
    * every SQL surface immediately; bytes are reclaimed by step two
    * (`CALL <cat>.system.vacuum(..., retain => 1)` after the grace
    * window — physical removal of a 100 TB table is not one commit,
    * and pinned readers keep their snapshots until then). PURGE
    * (`DROP TABLE … PURGE`) still refuses for exactly that reason.
    *
    * Grace-window exposure: a CREATE of the same name before vacuum
    * CONTINUES this history, so `VERSION AS OF` on the recreated name
    * reaches the dropped table's data — deliberate forensics, but set
    * `spark.sql.catalog.<name>.strictRecreate = true` to refuse such
    * a CREATE until vacuum has truncated the history (see
    * [[createTable]]).
    */
  override def dropTable(ident: Identifier): Boolean = {
    val path = tablePath(ident)
    if (!isTable(path)) return false
    ops.dropTable(SparkSession.active, path)
    true
  }

  override def purgeTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "graft DROP TABLE PURGE is not one commit at 100 TB — DROP TABLE " +
        "(tombstone) then CALL <catalog>.system.vacuum(retain => 1) after " +
        "the retention grace")

  /** ALTER TABLE … RENAME TO: a metadata-only namespace move — the
    * commit-log directory is the identity and manifests reference
    * data relatively, so the move carries the FULL version history
    * (time travel keeps working under the new name) and zero data
    * bytes. The old name is immediately free for an unrelated
    * re-CREATE with no resurrection hazard. See
    * [[VersionedTableOps.renameTable]] for the no-concurrent-writers
    * contract.
    */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tablePath(oldIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    val to = tablePath(newIdent)
    if (ops.versions(to).nonEmpty) throw new TableAlreadyExistsException(newIdent)
    ops.renameTable(from, to)
  }

  // ---- ProcedureCatalog: SQL maintenance via CALL ----

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(GraftProcedures.Namespace))
      GraftProcedures.names.map(Identifier.of(namespace, _))
    else Array.empty

  // ---- SupportsNamespaces: namespaces are directories under root ----

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = nsPath(namespace)
    if (!java.nio.file.Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.list(dir))(
      _.iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) && !isTable(p.toString))
        .map(p => namespace :+ p.getFileName.toString)
        .toArray)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || (java.nio.file.Files.isDirectory(nsPath(namespace)) &&
      !isTable(nsPath(namespace).toString))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    java.nio.file.Files.createDirectories(nsPath(namespace))
    ()
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")

  /** DROP NAMESPACE removes an EMPTY namespace directory — one
    * filesystem entry, mirroring createNamespace. CASCADE refuses
    * honestly: dropping N member tables is N tombstone commits plus
    * N vacuums (the DROP TABLE two-step), never one atomic statement
    * at 100 TB — run the drops explicitly.
    */
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val hasChildren = listNamespaces(namespace).nonEmpty || listTables(namespace).nonEmpty
    if (hasChildren) {
      if (cascade) throw new UnsupportedOperationException(
        "graft DROP NAMESPACE … CASCADE is not one commit — DROP each member " +
          "table (tombstone + vacuum), then drop the emptied namespace")
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty")
    }
    // empty of tables and child namespaces; dropped-but-retained
    // tables (tombstoned heads) still hold history — refuse those too
    import scala.jdk.CollectionConverters._
    val residue = scala.util.Using.resource(
      java.nio.file.Files.list(nsPath(namespace)))(_.iterator().asScala.toSeq)
    if (residue.nonEmpty) throw new IllegalStateException(
      s"namespace ${namespace.mkString(".")} holds dropped-table history — " +
        "vacuum (retain=1) and remove the directories before dropping it")
    java.nio.file.Files.delete(nsPath(namespace))
    true
  }
}

object GraftCatalog {
  /** Per-catalog-name store-backend selection: the POSIX-linked store
    * by default; a test (or an embedder fronting a real object store)
    * registers its [[VersionedTableOps]] under the catalog name it
    * configures. Delegates to [[VersionedTable.registerOps]] — the
    * shared by-name registry every string-instantiated entry point
    * (this catalog, the catalog stream source) resolves through.
    */
  def setOps(catalogName: String, ops: VersionedTableOps): Unit =
    VersionedTable.registerOps(catalogName, ops)

  def opsFor(catalogName: String): VersionedTableOps =
    VersionedTable.opsNamed(catalogName)
}

/** One pinned snapshot of one versioned table, as a DSv2 [[Table]].
  * The version is fixed at `loadTable` time — the SQL reader's
  * snapshot-isolation point — and [[GraftSqlRule]] turns the relation
  * into the zone-map-indexed scan. `newScanBuilder` exists to satisfy
  * SupportsRead but refuses loudly: without the extensions rule the
  * session would otherwise plan a scan that bypasses deletion
  * vectors and column renames, i.e. return WRONG rows — refusal is
  * the only safe fallback (same posture as the manifest
  * format-version check).
  */
class GraftSqlTable(val ops: VersionedTableOps, val path: String,
    val pinnedVersion: Long, ident: Identifier)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsPartitionManagement {

  override def name(): String = s"graft:${ident}@v$pinnedVersion"

  // SQL MATERIALIZED VIEWs surface their DECLARED schema: AVG columns
  // derive from the count+sum state, internal state sums are hidden
  // (GraftMatView.derivedRead — a pass-through for every ordinary
  // table and every AVG-less view)
  override lazy val schema: StructType = GraftMatView.derivedRead(path,
    ops.read(SparkSession.active, path, Some(pinnedVersion))).schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  /** The pinned version's manifest, decoded once: it is immutable. */
  private lazy val pinned = ops.snapshot(path, Some(pinnedVersion))

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("provider", "graft")
    m.put(TableCatalog.PROP_LOCATION, path)
    m.put("graft.version", pinnedVersion.toString)
    if (pinned.partitionBy.nonEmpty) m.put("partitionBy", pinned.partitionBy.mkString(","))
    // surfaced so SHOW CREATE TABLE's rendered DDL round-trips the
    // bloom declaration (logical names; one fpp — the SQL surface
    // declares a single rate for the whole list)
    val blooms = pinned.logicalBloomBy
    if (blooms.nonEmpty) {
      m.put("graft.bloom.columns", blooms.map(_._1).mkString(","))
      m.put("graft.bloom.fpp", blooms.head._2.toString)
    }
    m
  }

  private lazy val partCols: Seq[String] = pinned.logicalPartitionBy

  override def partitioning(): Array[Transform] =
    partCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c)).toArray

  /** SHOW PARTITIONS / ALTER TABLE … DROP PARTITION, through the
    * DSv2 partition-management interface. Listings are metadata-only
    * (distinct manifest path segments); DROP PARTITION is the
    * metadata-only retention commit ([[VersionedTableOps
    * .dropPartition]] — files leave the manifest, zero data bytes
    * move). Value↔segment translation is byte-pinned for the same
    * type set the keyed MERGE trusts (integral, string, date,
    * boolean); single-column layouts only (the value-directory spec
    * the layer writes today). ADD PARTITION refuses: value
    * directories come into existence on write.
    */
  override def partitionSchema(): StructType =
    StructType(partCols.map(c => schema(schema.fieldIndex(c))))

  private def onePartCol(): (String, org.apache.spark.sql.types.DataType) = {
    require(partCols.size == 1,
      s"graft SQL partition management supports single-column layouts, " +
        s"this table partitions on ${partCols.mkString(", ")}")
    (partCols.head, schema(schema.fieldIndex(partCols.head)).dataType)
  }

  private def segOf(dt: org.apache.spark.sql.types.DataType,
      identRow: org.apache.spark.sql.catalyst.InternalRow): String = {
    import org.apache.spark.sql.types._
    require(!identRow.isNullAt(0), "null partition values are not addressable")
    dt match {
      case LongType => identRow.getLong(0).toString
      case IntegerType => identRow.getInt(0).toString
      case ShortType => identRow.getShort(0).toString
      case ByteType => identRow.getByte(0).toString
      case StringType => identRow.getUTF8String(0).toString
      case BooleanType => identRow.getBoolean(0).toString
      case DateType => java.time.LocalDate.ofEpochDay(identRow.getInt(0)).toString
      case other => throw new UnsupportedOperationException(
        s"partition values of type ${other.simpleString} are not segment-addressable")
    }
  }

  private def rowOf(dt: org.apache.spark.sql.types.DataType,
      seg: String): org.apache.spark.sql.catalyst.InternalRow = {
    import org.apache.spark.sql.types._
    val v: Any = dt match {
      case LongType => seg.toLong
      case IntegerType => seg.toInt
      case ShortType => seg.toShort
      case ByteType => seg.toByte
      case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(seg)
      case BooleanType => seg.toBoolean
      case DateType => java.time.LocalDate.parse(seg).toEpochDay.toInt
      case other => throw new UnsupportedOperationException(
        s"partition values of type ${other.simpleString} are not segment-addressable")
    }
    org.apache.spark.sql.catalyst.InternalRow(v)
  }

  override def listPartitionIdentifiers(names: Array[String],
      identRow: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val (col, dt) = onePartCol()
    val all = ops.partitionValues(path, col, Some(pinnedVersion))
    val wanted =
      if (names.isEmpty) all
      else {
        require(names.sameElements(Array(col)), s"unknown partition column ${names.mkString(",")}")
        all.filter(_ == segOf(dt, identRow))
      }
    wanted.map(rowOf(dt, _)).toArray
  }

  override def dropPartition(
      identRow: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    val (col, dt) = onePartCol()
    val seg = segOf(dt, identRow)
    if (!ops.partitionValues(path, col).contains(seg)) return false
    ops.dropPartition(SparkSession.active, path, col, seg)
    true
  }

  override def createPartition(
      identRow: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft value directories come into existence on write — " +
        "ADD PARTITION has nothing to create")

  override def replacePartitionMetadata(
      identRow: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft partitions carry no mutable metadata")

  override def loadPartitionMetadata(
      identRow: org.apache.spark.sql.catalyst.InternalRow)
      : util.Map[String, String] = {
    // the SupportsPartitionManagement contract: existence checks go
    // through this, so a missing partition must throw, not read as an
    // empty (present) map — mirror dropPartition's existence probe
    // (round-10 advice)
    val (col, dt) = onePartCol()
    val seg = segOf(dt, identRow)
    if (!ops.partitionValues(path, col, Some(pinnedVersion)).contains(seg))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchPartitionException(
        path, identRow, partitionSchema())
    new util.HashMap[String, String]()
  }

  /** A shape-only ScanBuilder: row-level commands (DELETE FROM) run
    * the optimizer's scan planning over the target relation purely to
    * fix its output attributes — that path must succeed. EXECUTING
    * the scan is what would bypass deletion vectors and column
    * renames, so the refusal lives in `toBatch` (reached only by a
    * session missing the extensions rule; with the rule installed,
    * read relations are swapped at analysis and never get here).
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.Scan {
          override def readSchema(): StructType = schema
          override def toBatch: org.apache.spark.sql.connector.read.Batch =
            throw new IllegalStateException(
              "graft SQL reads require the extensions rule (set spark.sql.extensions=" +
                "graft.sql.GraftSqlExtensions, or graft.plans.GraftExtensions): a raw " +
                "DSv2 scan would bypass deletion vectors and column renames")
        }
    }

  /** The plan the relation becomes: the zone-map-indexed read of this
    * pinned version (predicates prune manifest files at planning),
    * with a SQL materialized view's derived columns projected on top
    * (see [[GraftMatView.derivedRead]] — identity for plain tables).
    */
  def resolve(spark: SparkSession): org.apache.spark.sql.DataFrame =
    GraftMatView.derivedRead(path,
      ops.read(spark, path, Some(pinnedVersion)))

  /** INSERT INTO → append; INSERT OVERWRITE (truncating) → overwrite.
    * The V1Write fallback hands the fully-analyzed insert frame to
    * the SAME transactional entry points the Scala API uses — one SQL
    * statement = one CAS'd commit, with schema-on-write checks, CHECK
    * constraints and id mapping enforced by the entry point, not
    * re-implemented here. Writes land on the LIVE head (the commit
    * loop re-reads it), not this reader's pinned version — a write
    * has no snapshot to pin.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              val spark = data.sparkSession
              if (replace || overwrite) ops.overwrite(spark, path, data)
              else { ops.append(spark, path, data); () }
            }
          }
      }
    }

  /** DELETE FROM … WHERE … → the copy-on-write [[VersionedTableOps
    * .delete]], for conditions that arrive whole as DSv2 filters.
    * `canDeleteWhere` is honest: a condition with any untranslatable
    * conjunct refuses the WHOLE statement (Spark then errors instead
    * of silently deleting a superset/subset — the only safe answer).
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    GraftSqlTable.filtersToColumn(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val cond = GraftSqlTable.filtersToColumn(filters).getOrElse(
      throw new UnsupportedOperationException(
        s"graft DELETE cannot express ${filters.mkString(", ")} — use " +
          "VersionedTable.delete with a Column condition"))
    ops.delete(SparkSession.active, path, cond)
    ()
  }
}

object GraftSqlTable {
  /** DSv2 [[Filter]]s → one [[Column]] conjunction; None when any
    * node falls outside the translatable subset. Attribute names
    * arrive dot-joined for nested fields — `col` resolves those
    * natively, so no quoting is applied.
    */
  private[sql] def filtersToColumn(filters: Array[Filter]): Option[Column] =
    filters.foldLeft(Option(lit(true))) { (acc, f) =>
      for (a <- acc; c <- filterToColumn(f)) yield a && c
    }

  private def filterToColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case sources.And(l, r) =>
      for (cl <- filterToColumn(l); cr <- filterToColumn(r)) yield cl && cr
    case sources.Or(l, r) =>
      for (cl <- filterToColumn(l); cr <- filterToColumn(r)) yield cl || cr
    case sources.Not(c) => filterToColumn(c).map(not)
    case _ => None
  }
}

/** Resolution rule: DSv2 relation over a [[GraftSqlTable]] → the
  * pinned version's [[VersionedTableOps.read]] plan, with a
  * Project re-binding the relation's attribute ids onto the
  * replacement's output so every already-resolved reference upstream
  * keeps resolving.
  */
class GraftSqlRule(spark: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, MergeIntoTable, UpdateTable}

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // row-level commands hold the DSv2 relation as their CHILD: the
    // swap would strip the table the planner needs. Once resolved,
    // each converts to a RunnableCommand over the transactional API
    // (GraftDml); until then — and for non-graft targets, which are
    // other connectors' business — the subtree stays untouched.
    // (Write commands are immune either way — V2WriteCommand.table is
    // a field, not a child, and the INSERT's source query SHOULD be
    // swapped.) MERGE's source subtree is swapped EAGERLY inside the
    // conversion: the command materializes it at run time, when the
    // analyzed-flag would stop this rule from reaching it.
    case a: org.apache.spark.sql.catalyst.plans.logical.AddCheckConstraint =>
      GraftDml.convertAddCheck(a).getOrElse(a)
    case d: DeleteFromTable if d.resolved =>
      GraftDml.convertDelete(d).getOrElse(d)
    case u: UpdateTable if u.resolved =>
      GraftDml.convertUpdate(u).getOrElse(u)
    case m: MergeIntoTable if m.resolved =>
      GraftDml.convertMerge(m, p => GraftSqlRule.swap(spark, p)).getOrElse(m)
    case _: DeleteFromTable | _: UpdateTable | _: MergeIntoTable => plan
    case _ => plan.resolveOperatorsUp(GraftSqlRule.swapPF(spark))
  }
}

object GraftSqlRule {
  import org.apache.spark.sql.catalyst.expressions.Alias
  import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  /** The relation swap both entry points share: DSv2 relation over a
    * [[GraftSqlTable]] → the pinned version's read plan, with
    * a Project re-binding the relation's attribute ids onto the
    * replacement's output so already-resolved upstream references
    * keep resolving.
    */
  private[sql] def swapPF(spark: SparkSession): PartialFunction[LogicalPlan, LogicalPlan] = {
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftSqlTable] =>
      val table = r.table.asInstanceOf[GraftSqlTable]
      val replacement = table.resolve(spark).queryExecution.analyzed
      val resolver = spark.sessionState.conf.resolver
      val out = replacement.output
      Project(r.output.map { a =>
        val src = out.find(o => resolver(o.name, a.name)).getOrElse(
          throw new IllegalStateException(
            s"graft table ${table.path}@v${table.pinnedVersion} lost column ${a.name}"))
        Alias(src, a.name)(exprId = a.exprId, qualifier = a.qualifier)
      }, replacement)
  }

  /** [[swapPF]] via transformUp — bypasses the analyzed-subtree skip,
    * for plans this rule could not reach during analysis (a MERGE
    * source materialized at command run time).
    */
  private[sql] def swap(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    plan.transformUp(swapPF(spark))
}

/** Minimal extensions: ONLY the catalog resolution rule — safe to set
  * on any session (the rule matches nothing but graft catalog
  * relations). [[graft.plans.GraftExtensions]] includes this rule too,
  * alongside the native functions and planner strategies.
  */
class GraftSqlExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(session => new GraftSqlRule(session))
    // the two MATERIALIZED VIEW statements; everything else delegates.
    // Idempotent: a session configured with BOTH extension classes
    // must not wrap the delegate twice (round-11 advice — the double
    // wrap was harmless but paid the MV regex match per statement
    // twice).
    ext.injectParser((_, delegate) => GraftSqlParser.wrap(delegate))
  }
}
