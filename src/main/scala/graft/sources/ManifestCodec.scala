package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.core.util.{DefaultIndenter, DefaultPrettyPrinter, Separators}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.types.{DataType, StructType}

/** One table version: the decoded `_commits/v<version>.json`. The
  * schema stays the recorded JSON text, so decoding for `op`/`ts`/
  * `txns` never parses it; [[structType]] does on demand.
  */
private[graft] final case class Manifest(
    version: Long = 0L,
    format: Int = 1,
    op: String = "unknown",
    ts: Option[Long] = None,
    txns: Seq[(String, Long)] = Nil,
    constraints: Seq[(String, String)] = Nil,
    renames: Map[String, String] = Map.empty,
    partitionBy: Seq[String] = Nil,
    colMap: String = "",
    bloomBy: Seq[(String, Double)] = Nil,
    schema: Option[String] = None,
    files: Seq[String] = Nil,
    dvs: Seq[String] = Nil) {
  def structType: Option[StructType] =
    schema.map(DataType.fromJson(_).asInstanceOf[StructType])
  def withSchema(s: StructType): Manifest = copy(schema = Some(s.json))
  /** The partition spec under logical column names. */
  def logicalPartitionBy: Seq[String] = partitionBy.map(ph => renames.getOrElse(ph, ph))
  /** The bloom declaration under logical column names. */
  def logicalBloomBy: Seq[(String, Double)] =
    bloomBy.map { case (ph, f) => (renames.getOrElse(ph, ph), f) }
}

/** One member of a catalog version: `table` pinned at `tversion`;
  * `manifest` is the member's full manifest text when this catalog
  * commit publishes it, "" for a pin carried forward.
  */
private[graft] final case class CatEntry(table: String, tversion: Long, manifest: String)

/** One multi-table version: the decoded `_catalog/v<version>.json`. */
private[graft] final case class CatalogManifest(
    version: Long,
    format: Int = 1,
    op: String = "multi_commit",
    ts: Option[Long] = None,
    txns: Seq[(String, Long)] = Nil,
    entries: Seq[CatEntry] = Nil)

/** One data file's entry in its directory's `_stats.json`: exact row
  * count, numeric [min, max] (the zone-map double domain), string
  * [min, max] (printable ASCII) and null count, keyed by stats column.
  */
private[graft] final case class FileStats(
    rows: Option[Long] = None,
    num: Map[String, (Double, Double)] = Map.empty,
    str: Map[String, (String, String)] = Map.empty,
    nulls: Map[String, Long] = Map.empty)

/** The codec of the commit log's three JSON files.
  *
  * Manifest, one per table version:
  * {{{
  *   version, format, op, ts
  *   txnApp + txnVer  (one watermark)  |  txns: [{txnApp, txnVer}]
  *   constraints: [{cname, cexpr}]     CHECK constraints in force
  *   renames: [{rphys, rlog}]          physical -> logical column names
  *   partitionBy: [physical column]    value-routing spec
  *   colmap: "id"                      column-mapping mode ("" = by name)
  *   bloomBy: [{bcol, bfpp}]           bloom-indexed physical columns
  *   schema: "<StructType JSON>"
  *   files: [path], dvs: [path]        table-relative data / deletion vectors
  * }}}
  * Catalog manifest, one per catalog version: version, format, op,
  * ts, the same watermark forms, and `entries: [{table, tversion,
  * manifest}]` (see [[CatEntry]]). `_stats.json`, one per data
  * directory: `{file: {"#rows": n, col: [min, max], "#nulls:col": n}}`,
  * where a string column's bounds are JSON strings.
  *
  * Format 1 is additive: a field may join it only if a reader that
  * ignores the field still returns every row correctly; anything else
  * raises `format`, and readers refuse a format above
  * [[SupportedFormat]]. Absent fields decode to their legacy defaults:
  * op "unknown", no ts (commit time falls back to the store's mtime),
  * no schema (reads merge parquet footers), empty lists and maps.
  * Writers omit empty sections and stamp `txns` per commit: a
  * watermark belongs to the version that carried it. Strings written
  * before this codec escaped only backslash and quote, so raw control
  * characters are accepted on read, as are the non-numeric doubles
  * older stats files could hold (decoded as no bound).
  */
private[graft] object ManifestCodec {
  val SupportedFormat = 1

  /** The one mapper for every JSON file graft writes. */
  val mapper: ObjectMapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS,
      JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .build()

  // one field or array element per line: line-oriented tools (and the
  // legacy-manifest spec, which strips the schema line) keep working
  private val printer = {
    val nl = new DefaultIndenter("  ", "\n")
    new DefaultPrettyPrinter(Separators.createDefaultInstance()
        .withObjectFieldValueSpacing(Separators.Spacing.AFTER))
      .withObjectIndenter(nl).withArrayIndenter(nl)
  }

  private def write(n: JsonNode): String = mapper.writer(printer).writeValueAsString(n) + "\n"

  private def checkFormat(n: JsonNode, what: String): Int = {
    val fmt = n.path("format").asInt(1)
    require(fmt <= SupportedFormat,
      s"$what declares format $fmt, newer than this reader's $SupportedFormat — " +
        "refusing to guess at its semantics; upgrade the reader")
    fmt
  }

  private def str(n: JsonNode, f: String): Option[String] =
    Option(n.get(f)).filter(_.isTextual).map(_.asText)
  private def arr(n: JsonNode, f: String): Seq[JsonNode] =
    Option(n.get(f)).toSeq.flatMap(_.elements.asScala)
  private def strs(n: JsonNode, f: String): Seq[String] = arr(n, f).map(_.asText)

  private def putStrs(n: ObjectNode, f: String, xs: Seq[String]): Unit = {
    val a = n.putArray(f)
    xs.foreach(a.add)
  }

  private def putObjs[A](n: ObjectNode, f: String, xs: Seq[A])(fill: (ObjectNode, A) => Unit): Unit =
    if (xs.nonEmpty) {
      val a = n.putArray(f)
      xs.foreach(x => fill(a.addObject(), x))
    }

  // one watermark as the top-level pair, several as a "txns" array
  private def putTxns(n: ObjectNode, txns: Seq[(String, Long)]): Unit = txns match {
    case Seq((app, ver)) => n.put("txnApp", app).put("txnVer", ver)
    case _ => putObjs(n, "txns", txns) { case (o, (app, ver)) =>
      o.put("txnApp", app).put("txnVer", ver) }
  }

  private def txnsOf(n: JsonNode): Seq[(String, Long)] =
    str(n, "txnApp").map(app => Seq(app -> n.get("txnVer").asLong))
      .getOrElse(arr(n, "txns").map(o => o.get("txnApp").asText -> o.get("txnVer").asLong))

  private def head(n: ObjectNode, version: Long, format: Int, op: String,
      ts: Option[Long], txns: Seq[(String, Long)]): Unit = {
    n.put("version", version).put("format", format).put("op", op)
    ts.foreach(n.put("ts", _))
    putTxns(n, txns)
  }

  def encode(m: Manifest): String = {
    val n = mapper.createObjectNode()
    head(n, m.version, m.format, m.op, m.ts, m.txns)
    putObjs(n, "constraints", m.constraints) { case (o, (name, e)) =>
      o.put("cname", name).put("cexpr", e) }
    putObjs(n, "renames", m.renames.toSeq.sortBy(_._1)) { case (o, (ph, lo)) =>
      o.put("rphys", ph).put("rlog", lo) }
    if (m.partitionBy.nonEmpty) putStrs(n, "partitionBy", m.partitionBy)
    if (m.colMap.nonEmpty) n.put("colmap", m.colMap)
    putObjs(n, "bloomBy", m.bloomBy) { case (o, (c, fpp)) =>
      o.put("bcol", c).put("bfpp", fpp) }
    m.schema.foreach(n.put("schema", _))
    putStrs(n, "files", m.files)
    if (m.dvs.nonEmpty) putStrs(n, "dvs", m.dvs)
    write(n)
  }

  /** `what` names the file in errors ("manifest v3 of /t"). */
  def decodeManifest(text: String, what: String): Manifest = {
    val n = mapper.readTree(text)
    Manifest(
      version = n.path("version").asLong,
      format = checkFormat(n, what),
      op = str(n, "op").getOrElse("unknown"),
      ts = Option(n.get("ts")).map(_.asLong),
      txns = txnsOf(n),
      constraints = arr(n, "constraints").map(o => o.get("cname").asText -> o.get("cexpr").asText),
      renames = arr(n, "renames").map(o => o.get("rphys").asText -> o.get("rlog").asText).toMap,
      partitionBy = strs(n, "partitionBy"),
      colMap = str(n, "colmap").getOrElse(""),
      bloomBy = arr(n, "bloomBy").map(o => o.get("bcol").asText -> o.get("bfpp").asDouble),
      schema = str(n, "schema"),
      files = strs(n, "files"),
      dvs = strs(n, "dvs"))
  }

  def encodeCatalog(c: CatalogManifest): String = {
    val n = mapper.createObjectNode()
    head(n, c.version, c.format, c.op, c.ts, c.txns)
    val a = n.putArray("entries")
    c.entries.foreach(e => a.addObject()
      .put("table", e.table).put("tversion", e.tversion).put("manifest", e.manifest))
    write(n)
  }

  def decodeCatalog(text: String, what: String): CatalogManifest = {
    val n = mapper.readTree(text)
    CatalogManifest(
      version = n.path("version").asLong,
      format = checkFormat(n, what),
      op = str(n, "op").getOrElse("multi_commit"),
      ts = Option(n.get("ts")).map(_.asLong),
      txns = txnsOf(n),
      entries = arr(n, "entries").map(o => CatEntry(o.get("table").asText,
        o.get("tversion").asLong, o.get("manifest").asText)))
  }

  /** `files` in the order they are written. */
  def encodeStats(files: Seq[(String, FileStats)]): String = {
    val n = mapper.createObjectNode()
    files.foreach { case (name, s) =>
      val o = n.putObject(name)
      s.rows.foreach(o.put("#rows", _))
      s.num.foreach { case (c, (mi, ma)) => o.putArray(c).add(mi).add(ma) }
      s.str.foreach { case (c, (mi, ma)) => o.putArray(c).add(mi).add(ma) }
      s.nulls.foreach { case (c, k) => o.put("#nulls:" + c, k) }
    }
    write(n)
  }

  def decodeStats(text: String): Map[String, FileStats] =
    mapper.readTree(text).properties.asScala.map { e =>
      val fs = e.getValue.properties.asScala.map(f => f.getKey -> f.getValue).toSeq
      def bounds(ok: JsonNode => Boolean) = fs.collect {
        case (k, v) if v.isArray && v.size == 2 && ok(v.get(0)) && ok(v.get(1)) =>
          k -> ((v.get(0), v.get(1)))
      }
      e.getKey -> FileStats(
        rows = fs.collectFirst { case ("#rows", v) => v.asLong },
        num = bounds(v => v.isNumber && java.lang.Double.isFinite(v.asDouble))
          .map { case (k, (mi, ma)) => k -> ((mi.asDouble, ma.asDouble)) }.toMap,
        str = bounds(_.isTextual).map { case (k, (mi, ma)) => k -> ((mi.asText, ma.asText)) }.toMap,
        nulls = fs.collect { case (k, v) if k.startsWith("#nulls:") =>
          k.stripPrefix("#nulls:") -> v.asLong }.toMap)
    }.toMap
}
