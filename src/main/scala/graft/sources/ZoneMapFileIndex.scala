package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._

/** Zone-map-aware [[FileIndex]] over one committed version of a
  * [[VersionedTable]] — the Delta-`TahoeFileIndex` integration shape:
  * the manifest zone maps and bloom sidecars apply INSIDE Catalyst's
  * planning. `FileSourceScanExec` hands this index the query's data
  * filters when it lists files, so a plain
  * {{{ VersionedTable.read(spark, t).filter($"k" between(lo, hi)) }}}
  * opens only the files whose committed per-file statistics can hold
  * a matching row — and composes with everything else Spark does with
  * the remaining filters (parquet row-group pushdown on the
  * survivors, whole-stage codegen residuals), because the original
  * predicate is untouched: this index only SHRINKS the file list,
  * never changes semantics.
  *
  * Which files are kept is decided by the one pruning kernel,
  * [[VersionedTableOps.keptFiles]], that the copy-on-write
  * DELETE/UPDATE split and the keyed merge also run. Its filter
  * translation ([[ZoneMapFilters]]) is deliberately conservative:
  *  - only `>`, `>=`, `<`, `<=`, `=`, `<=>` between a bare column
  *    and a literal (either order), all-literal null-free IN / InSet
  *    lists and string `startsWith` (a prefix interval), conjoined by
  *    AND, are used; anything else (casts, functions, OR, UDFs)
  *    simply prunes nothing;
  *  - an equality or IN list is a POINT list: a file is kept only if
  *    some listed value lies in its [min, max] (so a file inside the
  *    list's envelope that holds none of the values is skipped), and,
  *    on a bloom-declared column, only if its sidecar might hold one;
  *  - numeric/date/timestamp/decimal literals convert to the stats'
  *    double domain widened one ULP OUTWARD, and strict bounds are
  *    relaxed to inclusive — a boundary file is always kept (the
  *    residual predicate Spark still evaluates makes the row set
  *    exact);
  *  - strings compare in unsigned UTF-8 byte order
  *    ([[ZoneMapFilters.utf8Cmp]]), the order of parquet's binary
  *    stats and of Spark's string comparison; the stats writer only
  *    indexes printable-ASCII bounds.
  */
class ZoneMapFileIndex(ops: VersionedTableOps, table: String,
    relFiles: Seq[String], bloomDecl: Set[String]) extends FileIndex {

  // resolved once: the snapshot is immutable, the statuses are stable
  private val statusByRel: Seq[(String, FileStatus)] = relFiles.map { f =>
    val p = java.nio.file.Paths.get(table, f)
    f -> new FileStatus(java.nio.file.Files.size(p), false, 1, 128L * 1024 * 1024,
      java.nio.file.Files.getLastModifiedTime(p).toMillis, new HPath(p.toUri))
  }

  override def rootPaths: Seq[HPath] =
    Seq(new HPath(java.nio.file.Paths.get(table).toUri))

  override def partitionSchema: StructType = new StructType()

  override def inputFiles: Array[String] =
    statusByRel.map(_._2.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statusByRel.map(_._2.getLen).sum

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = ops.keptFiles(table, relFiles, bloomDecl, dataFilters).toSet
    Seq(PartitionDirectory(InternalRow.empty,
      statusByRel.collect { case (f, st) if kept(f) => st }.toArray))
  }
}

/** The conservative Catalyst-predicate → zone-map translation
  * (scaladoc on [[ZoneMapFileIndex]]) — the first step of the one
  * pruning kernel, [[VersionedTableOps.keptFiles]].
  */
private[sources] object ZoneMapFilters {

  /** One conjunctive interval per constrained column: numeric ranges
    * in the stats double domain, string ranges in UTF-8 byte order,
    * NULLNESS probes (col, wantNull) from IS NULL / IS NOT NULL
    * conjuncts — skipped on the committed per-file null counts (a
    * comparison filter's implied isnotnull skips ALL-NULL files; an
    * explicit isNull probe skips every fully-populated file) — and
    * EQUALITY POINT lists: each `col = lit` / `col <=> lit` /
    * all-literal `IN` conjunct yields one (col, disjunctive literal
    * list) entry (a file must satisfy every conjunct; within one IN,
    * any listed value suffices). The zone maps keep a file only if a
    * listed value lies in its [min, max]; the bloom sidecars then
    * drop the files that provably never held one. Untranslatable
    * predicates constrain nothing.
    */
  def constraints(filters: Seq[Expression]):
      (Seq[(String, Double, Double)], Seq[(String, String, String)],
        Seq[(String, Boolean)], Seq[(String, Seq[Literal])]) = {
    val num = mutable.Map.empty[String, (Double, Double)]
    val str = mutable.Map.empty[String, (String, String)]
    val nul = mutable.Map.empty[String, Boolean]
    val pts = mutable.Buffer.empty[(String, Seq[Literal])]
    filters.foreach(collectConstraints(_, num, str, nul, pts))
    (num.map { case (c, (lo, hi)) => (c, lo, hi) }.toSeq,
      str.map { case (c, (lo, hi)) => (c, lo, hi) }.toSeq,
      nul.toSeq, pts.toSeq)
  }

  /** Literal → stats double domain (see VersionedTableOps.statBounds
    * for the per-type units), or None for unindexable literal types.
    */
  def litNum(l: Literal): Option[Double] = Option(l.value).flatMap { v =>
    l.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(v.asInstanceOf[Number].doubleValue())
      case FloatType => Some(v.asInstanceOf[Float].toDouble)
      case DoubleType => Some(v.asInstanceOf[Double])
      case DateType => Some(v.asInstanceOf[Int].toDouble) // days
      case TimestampType => Some(v.asInstanceOf[Long].toDouble) // µs
      case _: DecimalType => Some(v.asInstanceOf[Decimal].toDouble)
      case _ => None
    }
  }

  def litStr(l: Literal): Option[String] = Option(l.value).collect {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
  }

  /** Unsigned UTF-8 byte order — the ONE ordering parquet binary
    * stats, Spark's UTF8String comparisons and the committed string
    * zone maps all agree on. Java String.compareTo (UTF-16 code
    * units) diverges from it for supplementary characters, so every
    * driver-side string compare goes through this, never compareTo.
    */
  def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  // string interval sentinels: "" is <= every string, and a lone DEL
  // (0x7f) is > every PRINTABLE-ASCII string (first char of any
  // indexed stat is <= 0x7e) — the stats writer only indexes
  // printable ASCII, so these are safe +/-infinity stand-ins
  private val StrMin = ""
  private val StrMax = "\u007f"

  /** A pruning-addressable column: a bare attribute, or a chain of
    * STRUCT-FIELD extractions over one (dotted stats name "s.a.b" —
    * the stage writes footer stats for repetition-free nested leaves
    * under exactly that name, so `col("s.a") > x` prunes files the
    * same way a top-level predicate does). Anything else — array
    * elements, map values, computed expressions — is unaddressable
    * and prunes nothing.
    */
  private object NamedCol {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case g: GetStructField => unapply(g.child).map(_ + "." + g.extractFieldName)
      case _ => None
    }
  }

  private def collectConstraints(e: Expression,
      num: mutable.Map[String, (Double, Double)],
      str: mutable.Map[String, (String, String)],
      nul: mutable.Map[String, Boolean],
      pts: mutable.Buffer[(String, Seq[Literal])]): Unit = {
    def lower(name: String, l: Literal): Unit = {
      litNum(l).foreach { d =>
        val lo = math.nextDown(d) // outward: boundary files always kept
        val cur = num.getOrElse(name, (Double.NegativeInfinity, Double.PositiveInfinity))
        num(name) = (math.max(cur._1, lo), cur._2)
      }
      litStr(l).foreach { v =>
        val cur = str.getOrElse(name, (StrMin, StrMax))
        str(name) = (if (utf8Cmp(cur._1, v) >= 0) cur._1 else v, cur._2)
      }
    }
    def upper(name: String, l: Literal): Unit = {
      litNum(l).foreach { d =>
        val hi = math.nextUp(d)
        val cur = num.getOrElse(name, (Double.NegativeInfinity, Double.PositiveInfinity))
        num(name) = (cur._1, math.min(cur._2, hi))
      }
      litStr(l).foreach { v =>
        val cur = str.getOrElse(name, (StrMin, StrMax))
        str(name) = (cur._1, if (utf8Cmp(cur._2, v) <= 0) cur._2 else v)
      }
    }
    // equality points: non-null literals only — `c = NULL` is never
    // true and never reaches here as a data filter. An EMPTY list (a
    // keyed merge's all-null batch) matches nothing
    def point(name: String, ls: Seq[Literal]): Unit =
      if (ls.forall(_.value != null)) pts += ((name, ls))
    e match {
      case And(l, r) =>
        collectConstraints(l, num, str, nul, pts)
        collectConstraints(r, num, str, nul, pts)
      // nullness probes: skipped on committed per-file null counts.
      // A column probed BOTH ways in one conjunction is a contradiction
      // (the predicate selects nothing); keeping either probe is sound.
      // For a nested field the leaf null count includes ancestor-null
      // rows — exactly what `s.a IS NULL` evaluates to
      case IsNull(NamedCol(n)) => nul(n) = true
      case IsNotNull(NamedCol(n)) => nul(n) = false
      // strict bounds relaxed to inclusive — pruning only, the exact
      // predicate still runs on the survivors
      case GreaterThan(NamedCol(n), l: Literal) => lower(n, l)
      case GreaterThanOrEqual(NamedCol(n), l: Literal) => lower(n, l)
      case LessThan(NamedCol(n), l: Literal) => upper(n, l)
      case LessThanOrEqual(NamedCol(n), l: Literal) => upper(n, l)
      case GreaterThan(l: Literal, NamedCol(n)) => upper(n, l)
      case GreaterThanOrEqual(l: Literal, NamedCol(n)) => upper(n, l)
      case LessThan(l: Literal, NamedCol(n)) => lower(n, l)
      case LessThanOrEqual(l: Literal, NamedCol(n)) => lower(n, l)
      case EqualTo(NamedCol(n), l: Literal) => point(n, Seq(l))
      case EqualTo(l: Literal, NamedCol(n)) => point(n, Seq(l))
      // null-safe equality with a NON-NULL literal matches exactly the
      // rows plain equality does (null rows match neither), so it is
      // the same point; the null-literal form is a pure IS NULL — the
      // nullness probe, no point
      case EqualNullSafe(NamedCol(n), l: Literal) =>
        if (l.value == null) nul(n) = true else point(n, Seq(l))
      case EqualNullSafe(l: Literal, NamedCol(n)) =>
        if (l.value == null) nul(n) = true else point(n, Seq(l))
      // IN-list: one point list. Only all-literal lists with no null
      // translate
      case In(NamedCol(n), vs) if vs.forall(_.isInstanceOf[Literal]) =>
        point(n, vs.map(_.asInstanceOf[Literal]))
      // long IN-lists arrive optimized to InSet (internal values, no
      // Literal wrappers) — the same point list
      case InSet(c @ NamedCol(n), hset) =>
        point(n, hset.toSeq.map(v => Literal(v, c.dataType)))
      // prefix probe: startsWith(p) ⊆ [p, p + DEL) against printable-
      // ASCII stats (DEL > every printable char, so p++DEL upper-bounds
      // every p-prefixed string the writer indexed)
      case StartsWith(NamedCol(n), l: Literal) =>
        litStr(l).filter(_.nonEmpty).foreach { p =>
          val cur = str.getOrElse(n, (StrMin, StrMax))
          val hi = p + StrMax
          str(n) = (if (utf8Cmp(cur._1, p) >= 0) cur._1 else p,
            if (utf8Cmp(cur._2, hi) <= 0) cur._2 else hi)
        }
      case _ => () // not translatable: prunes nothing
    }
  }
}
