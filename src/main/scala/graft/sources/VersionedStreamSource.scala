package graft.sources

import org.apache.spark.sql.{DataFrame, GraftStreamingBridge, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Structured Streaming READ over a [[VersionedTable]] commit log —
  * the consumer half of the lakehouse loop (the CDC SINK
  * `Streams.cdcIngestVersioned` writes through the log; this tails
  * it):
  * {{{
  *   spark.readStream
  *     .format("graft.sources.VersionedStreamProvider") // or "graft-versioned"
  *     .option("path", tableDir)
  *     .load()
  * }}}
  *
  * Offsets ARE version numbers: `getOffset` is the manifest head (one
  * O(1) driver-side listing, no data job), and a micro-batch is
  * exactly [[VersionedTableOps.streamBatch]] over `(lastVersion,
  * head]` — append commits stream their staged files (O(added
  * bytes)), row-preserving rewrites (compact / optimize) emit
  * nothing, and non-append rewrites fail the query unless
  * `skipRewrites=true` (see streamBatch's contract). Batches are pure
  * functions of the immutable manifests, so checkpoint recovery
  * replays them byte-identically — exactly-once end to end with an
  * idempotent or transactional sink.
  *
  * Options: `path` (table dir, required); `startingVersion` (exclusive
  * low bound, default 0 = from the table's beginning); `skipRewrites`
  * (default false).
  *
  * Scale: the driver-side cost per trigger is one commit-log listing
  * plus one manifest diff — independent of table size; executors read
  * only the appended files. A 100 TB table with GB-scale appends
  * streams each append once, never rescanning the snapshot.
  */
class VersionedStreamProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-versioned"

  private def tableDir(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-versioned stream needs option 'path' (the table directory)"))

  // Schema resolution happens at every (re)start against the table
  // HEAD: a restart after add-column evolution therefore delivers the
  // evolved schema for all batches, including a replayed one (pre-
  // evolution files read the new columns as null). A long-lived
  // pipeline that needs a byte-stable shape across evolution should
  // pass an explicit .schema(...) — the projection is spec-pinned.
  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val t = tableDir(parameters)
    val s = schema.getOrElse(VersionedTable.read(sqlContext.sparkSession, t).schema)
    (s"graft-versioned:$t", s)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val t = tableDir(parameters)
    val s = sourceSchema(sqlContext, schema, providerName, parameters)._2
    new VersionedStreamSource(sqlContext, t, s,
      parameters.get("startingVersion").map(_.toLong).getOrElse(0L),
      parameters.get("skipRewrites").exists(_.toBoolean))
  }
}

/** Structured Streaming READ over a CATALOG commit log — the read
  * half of the multi-table atomicity story ([[Streams.fanoutStreamCatalog]]
  * commits N tables in one catalog transaction; this tails the
  * catalog so a consumer sees those N deltas TOGETHER):
  * {{{
  *   spark.readStream
  *     .format("graft.sources.CatalogStreamProvider") // or "graft-catalog"
  *     .option("path", catalogDir)
  *     .load()
  * }}}
  *
  * Offsets are CATALOG versions. A micro-batch for catalog range
  * `(from, to]` diffs each consecutive pin map
  * ([[VersionedTableOps.catalogPins]]) and emits, per catalog
  * transaction, every member's table-delta for exactly the
  * table-version span that transaction pinned — tagged `_table` /
  * `_catalog_version`. Batch boundaries can only fall BETWEEN catalog
  * versions, never inside one, so a two-table transaction always
  * arrives whole: the cross-table consistency the atomic commit wrote
  * is the consistency the stream reads.
  *
  * Schema: `_catalog_version LONG, _table STRING` ++ the BY-NAME
  * UNION of the member schemas at stream start (same-name fields must
  * agree on type — refused loudly otherwise); each member's rows are
  * null-extended to the union. Members are FIXED at start (the
  * catalog head's pin set, or the `tables` option): a member enrolled
  * later needs a stream restart to pick up (documented contract — a
  * silent mid-stream schema change would corrupt the checkpoint).
  *
  * Exactly-once: batches are pure functions of immutable manifests
  * (the per-member delta is [[VersionedTableOps.streamBatch]], the
  * same replay-stable read the single-table source uses), so
  * checkpoint recovery replays byte-identically.
  *
  * Options: `path` (catalog dir, required); `tables` (comma-separated
  * member subset, default = all members at start); `startingVersion`
  * (exclusive catalog low bound, default 0); `skipRewrites` (per-
  * member, default false).
  *
  * Scale: per trigger, one catalog listing + one manifest read per
  * elapsed catalog version — O(commits), independent of member table
  * sizes; executors read only the appended files of changed members.
  */
class CatalogStreamProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-catalog"

  private def catalogDir(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-catalog stream needs option 'path' (the catalog directory)"))

  /** Store backend: the shared by-name registry
    * ([[VersionedTable.opsNamed]]) keyed by the `ops` option — an
    * object-store-backed ops carries instance state a format string
    * cannot construct, so it registers first and names itself here.
    * Unset/unregistered → the default POSIX ops.
    */
  private def ops(parameters: Map[String, String]): VersionedTableOps =
    VersionedTable.opsNamed(parameters.getOrElse("ops", ""))

  private def members(parameters: Map[String, String]): Seq[String] = {
    val cat = catalogDir(parameters)
    parameters.get("tables") match {
      case Some(list) => list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None =>
        val pins = ops(parameters).catalogSnapshot(cat)
        require(pins.nonEmpty,
          s"catalog $cat has no members and no 'tables' option: cannot infer a schema")
        pins.map(_._1).sorted
    }
  }

  /** `_catalog_version, _table` ++ by-name union of member schemas;
    * same-name fields must agree on type across members.
    */
  private def unionSchema(spark: org.apache.spark.sql.SparkSession,
      ops: VersionedTableOps, tables: Seq[String]): StructType = {
    val merged = scala.collection.mutable.LinkedHashMap
      .empty[String, org.apache.spark.sql.types.StructField]
    tables.foreach { t =>
      ops.read(spark, t).schema.fields.foreach { f =>
        merged.get(f.name) match {
          case Some(prev) => require(prev.dataType == f.dataType,
            s"member schemas conflict on '${f.name}': " +
              s"${prev.dataType.simpleString} vs ${f.dataType.simpleString} ($t)")
          case None => merged(f.name) = f.copy(nullable = true)
        }
      }
    }
    StructType(
      Seq(org.apache.spark.sql.types.StructField("_catalog_version",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("_table",
          org.apache.spark.sql.types.StringType, nullable = false)) ++
        merged.values.toSeq)
  }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val s = schema.getOrElse(
      unionSchema(sqlContext.sparkSession, ops(parameters), members(parameters)))
    (s"graft-catalog:${catalogDir(parameters)}", s)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val cat = catalogDir(parameters)
    val tables = members(parameters)
    val s = sourceSchema(sqlContext, schema, providerName, parameters)._2
    new CatalogStreamSource(sqlContext, ops(parameters), cat, tables, s,
      parameters.get("startingVersion").map(_.toLong).getOrElse(0L),
      parameters.get("skipRewrites").exists(_.toBoolean))
  }
}

class CatalogStreamSource(sqlContext: SQLContext, ops: VersionedTableOps,
    catalog: String, tables: Seq[String], override val schema: StructType,
    startingVersion: Long, skipRewrites: Boolean) extends Source {

  import org.apache.spark.sql.functions.{col, lit}

  private def version(o: V1Offset): Long = o.json.toLong

  // per-member schema = the union schema's fields that member carries,
  // resolved ONCE (stream schemas are fixed; the delta read projects
  // each member's files onto exactly these names)
  private lazy val memberSchemas: Map[String, StructType] = {
    val spark = sqlContext.sparkSession
    tables.map { t =>
      val names = ops.read(spark, t).schema.fieldNames.toSet
      t -> StructType(schema.fields.filter(f => names.contains(f.name)))
    }.toMap
  }

  override def getOffset: Option[V1Offset] = {
    // publish-then-roll-forward can race a trigger: roll forward so
    // every catalog version up to the offset has its member manifests
    ops.multiRollForward(catalog)
    ops.catalogVersions(catalog).lastOption.map(LongOffset(_))
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val vFrom = start.map(version).getOrElse(startingVersion)
    val vTo = version(end)
    val spark = sqlContext.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // pins at vFrom (empty when streaming from the beginning); then
    // walk each elapsed catalog version, diffing consecutive pin maps
    var prev: Map[String, Long] =
      if (vFrom == 0L) Map.empty
      else ops.catalogPins(catalog, vFrom).toMap
    val parts = ((vFrom + 1) to vTo).flatMap { vc =>
      val pins = ops.catalogPins(catalog, vc).toMap
      val deltas = tables.flatMap { t =>
        val tCur = pins.getOrElse(t, 0L)
        val tPrev = prev.getOrElse(t, 0L)
        if (tCur <= tPrev) None
        else {
          val d = ops.streamBatch(
            spark, t, tPrev, tCur, memberSchemas(t), skipRewrites)
          // null-extend to the union, in schema order, tagged with the
          // catalog transaction the rows belong to
          Some(d.select(schema.fields.map { f =>
            f.name match {
              case "_catalog_version" => lit(vc).as("_catalog_version")
              case "_table" => lit(t).as("_table")
              case n if memberSchemas(t).fieldNames.contains(n) => col(n)
              case n => lit(null).cast(f.dataType).as(n)
            }
          }.toSeq: _*))
        }
      }
      prev = pins
      deltas
    }
    val batch =
      if (parts.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else parts.reduce(_.unionAll(_))
    GraftStreamingBridge.streamingDataFrame(spark, batch.queryExecution.toRdd, schema)
  }

  override def stop(): Unit = ()
}

class VersionedStreamSource(sqlContext: SQLContext, table: String,
    override val schema: StructType, startingVersion: Long,
    skipRewrites: Boolean) extends Source {

  // LongOffset round-trips as its decimal string; after checkpoint
  // recovery offsets arrive re-wrapped, so parse the json form rather
  // than pattern-match the class
  private def version(o: V1Offset): Long = o.json.toLong

  override def getOffset: Option[V1Offset] =
    VersionedTable.versions(table).lastOption.map(LongOffset(_))

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val vFrom = start.map(version).getOrElse(startingVersion)
    val spark = sqlContext.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val batch = VersionedTable.streamBatch(
      spark, table, vFrom, version(end), schema, skipRewrites)
    GraftStreamingBridge.streamingDataFrame(spark, batch.queryExecution.toRdd, schema)
  }

  override def stop(): Unit = ()
}
