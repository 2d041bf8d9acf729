package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._

/** Zone-map-aware [[FileIndex]] over one committed version of a
  * [[VersionedTable]] — the Delta-`TahoeFileIndex` integration shape:
  * instead of the user calling `readRange` explicitly, the manifest
  * zone maps apply INSIDE Catalyst's planning. `FileSourceScanExec`
  * hands this index the query's data filters when it lists files, so
  * a plain
  * {{{ VersionedTable.readIndexed(spark, t).filter($"k" between(lo, hi)) }}}
  * opens only the files whose committed per-file intervals intersect
  * the predicate — and composes with everything else Spark does with
  * the remaining filters (parquet row-group pushdown on the
  * survivors, whole-stage codegen residuals), because the original
  * predicate is untouched: this index only SHRINKS the file list,
  * never changes semantics.
  *
  * Filter translation (shared with the copy-on-write DELETE/UPDATE
  * path — see [[ZoneMapFilters]]) is deliberately conservative:
  *  - only `>`, `>=`, `<`, `<=`, `=` between a bare column and a
  *    literal (either order), all-literal null-free IN / InSet lists
  *    (widened to their [min, max] envelope — gaps re-filter on the
  *    survivors), and string `startsWith` (a prefix interval),
  *    conjoined by AND, are used; anything else (casts, functions,
  *    OR, UDFs) simply prunes nothing;
  *  - numeric/date/timestamp/decimal literals convert to the stats'
  *    double domain widened one ULP OUTWARD, and strict bounds are
  *    relaxed to inclusive — a boundary file is always kept (the
  *    residual predicate Spark still evaluates makes the row set
  *    exact);
  *  - string literals participate only in the printable-ASCII range
  *    where the stats writer, the driver compare and Spark's UTF8
  *    ordering agree (see [[VersionedTableOps.filesForRangeString]]).
  */
class ZoneMapFileIndex(spark: SparkSession, ops: VersionedTableOps,
    table: String, relFiles: Seq[String], dataSchema: StructType,
    bloomDecl: Set[String]) extends FileIndex {

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
    val (num, str, nul, pts) = ZoneMapFilters.constraints(dataFilters)
    val zoneKept =
      if (num.isEmpty && str.isEmpty && nul.isEmpty) relFiles
      else ops.keepByZoneMaps(table, relFiles, num, str, nul)
    // bloom skipping composes AFTER the zone maps: sidecars are read
    // only for interval survivors, and only for the columns the
    // snapshot declares (`bloomDecl`, physical names — like the
    // filter names here, since the scan's schema is physical)
    val probes = pts.collect { case (c, lits) if bloomDecl.contains(c) =>
      (c, lits.map(BloomSkipIndex.hashLiteral)) }
    val kept =
      if (probes.isEmpty) zoneKept
      else ops.keepByBlooms(table, zoneKept, probes)
    val keptSet = kept.toSet
    Seq(PartitionDirectory(InternalRow.empty,
      statusByRel.collect { case (f, st) if keptSet(f) => st }.toArray))
  }
}

/** The conservative Catalyst-predicate → zone-map-interval
  * translation (scaladoc on [[ZoneMapFileIndex]]), factored out so
  * the COW [[VersionedTableOps.delete]]/[[VersionedTableOps.update]]
  * path prunes the files it must rewrite with the SAME rules the
  * automatic read path prunes the files it must open.
  */
private[sources] object ZoneMapFilters {

  /** One conjunctive interval per constrained column: numeric ranges
    * in the stats double domain, string ranges in the printable-
    * ASCII domain, NULLNESS probes (col, wantNull) from IS NULL /
    * IS NOT NULL conjuncts — skipped on the committed per-file null
    * counts (a comparison filter's implied isnotnull skips ALL-NULL
    * files; an explicit isNull probe skips every fully-populated
    * file) — and EQUALITY POINT probes for the bloom sidecars: each
    * `col = lit` / `col <=> lit` / all-literal `IN` conjunct yields
    * one (col, disjunctive literal list) entry (a file must satisfy
    * every conjunct; within one IN, any listed value suffices).
    * Points are EXTRA precision over the interval the same conjunct
    * already contributed — the zone map keeps boundary files whose
    * range covers the value, the bloom drops the ones that provably
    * never held it. Untranslatable predicates constrain nothing.
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
  private def litNum(l: Literal): Option[Double] = Option(l.value).flatMap { v =>
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

  private def litStr(l: Literal): Option[String] = Option(l.value).collect {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
  }.filter(_.forall(c => c >= ' ' && c <= '~'))

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
    def unapply(e: Expression): Option[(String, DataType)] = e match {
      case a: AttributeReference => Some((a.name, a.dataType))
      case g: GetStructField =>
        unapply(g.child).map { case (p, _) =>
          (p + "." + g.extractFieldName, g.dataType) }
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
        str(name) = (if (cur._1 >= v) cur._1 else v, cur._2)
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
        str(name) = (cur._1, if (cur._2 <= v) cur._2 else v)
      }
    }
    // equality points (bloom probes): non-null literals only — `c =
    // NULL` is never true and never reaches here as a data filter
    def point(name: String, ls: Seq[Literal]): Unit = {
      val nonNull = ls.filter(_.value != null)
      if (nonNull.nonEmpty && nonNull.size == ls.size) pts += ((name, nonNull))
    }
    e match {
      case And(l, r) =>
        collectConstraints(l, num, str, nul, pts)
        collectConstraints(r, num, str, nul, pts)
      // nullness probes: skipped on committed per-file null counts.
      // A column probed BOTH ways in one conjunction is a contradiction
      // (the predicate selects nothing); keeping either probe is sound.
      // For a nested field the leaf null count includes ancestor-null
      // rows — exactly what `s.a IS NULL` evaluates to
      case IsNull(NamedCol(n, _)) => nul(n) = true
      case IsNotNull(NamedCol(n, _)) => nul(n) = false
      // strict bounds relaxed to inclusive — pruning only, the exact
      // predicate still runs on the survivors
      case GreaterThan(NamedCol(n, _), l: Literal) => lower(n, l)
      case GreaterThanOrEqual(NamedCol(n, _), l: Literal) => lower(n, l)
      case LessThan(NamedCol(n, _), l: Literal) => upper(n, l)
      case LessThanOrEqual(NamedCol(n, _), l: Literal) => upper(n, l)
      case EqualTo(NamedCol(n, _), l: Literal) =>
        lower(n, l); upper(n, l); point(n, Seq(l))
      case GreaterThan(l: Literal, NamedCol(n, _)) => upper(n, l)
      case GreaterThanOrEqual(l: Literal, NamedCol(n, _)) => upper(n, l)
      case LessThan(l: Literal, NamedCol(n, _)) => lower(n, l)
      case LessThanOrEqual(l: Literal, NamedCol(n, _)) => lower(n, l)
      case EqualTo(l: Literal, NamedCol(n, _)) =>
        lower(n, l); upper(n, l); point(n, Seq(l))
      // null-safe equality with a NON-NULL literal matches exactly the
      // rows plain equality does (null rows match neither), so it
      // carries the same range and point; the null-literal form is a
      // pure IS NULL — the nullness probe, no range, no point
      case EqualNullSafe(NamedCol(n, _), l: Literal) =>
        if (l.value == null) nul(n) = true
        else { lower(n, l); upper(n, l); point(n, Seq(l)) }
      case EqualNullSafe(l: Literal, NamedCol(n, _)) =>
        if (l.value == null) nul(n) = true
        else { lower(n, l); upper(n, l); point(n, Seq(l)) }
      // IN-list: widened to one [min, max] envelope per column — the
      // zone-map framework holds ONE interval per column, so the
      // envelope is the tightest sound translation (gaps between list
      // points are re-filtered by the untouched predicate). Only
      // all-literal, non-empty lists with no null translate.
      case In(NamedCol(n, _), vs) if vs.nonEmpty &&
          vs.forall(v => v.isInstanceOf[Literal] &&
            v.asInstanceOf[Literal].value != null) =>
        val lits = vs.map(_.asInstanceOf[Literal])
        val nums = lits.flatMap(l => litNum(l).map(_ -> l))
        val strs = lits.flatMap(l => litStr(l).map(_ -> l))
        if (nums.size == lits.size) {
          lower(n, nums.minBy(_._1)._2); upper(n, nums.maxBy(_._1)._2)
        } else if (strs.size == lits.size) {
          lower(n, strs.minBy(_._1)._2); upper(n, strs.maxBy(_._1)._2)
        }
        point(n, lits) // blooms fill the envelope's gaps exactly
      // long IN-lists arrive optimized to InSet (internal values, no
      // Literal wrappers) — same envelope translation
      case InSet(NamedCol(n, dt), hset) if hset.nonEmpty && !hset.contains(null) =>
        val lits = hset.toSeq.map(v => Literal(v, dt))
        val nums = lits.flatMap(l => litNum(l).map(_ -> l))
        val strs = lits.flatMap(l => litStr(l).map(_ -> l))
        if (nums.size == lits.size) {
          lower(n, nums.minBy(_._1)._2); upper(n, nums.maxBy(_._1)._2)
        } else if (strs.size == lits.size) {
          lower(n, strs.minBy(_._1)._2); upper(n, strs.maxBy(_._1)._2)
        }
        point(n, lits)
      // prefix probe: startsWith(p) ⊆ [p, p + DEL) in the printable-
      // ASCII stats domain (DEL > every printable char, so p++DEL
      // upper-bounds every p-prefixed string the writer indexed)
      case StartsWith(NamedCol(n, _), l: Literal) =>
        litStr(l).filter(_.nonEmpty).foreach { p =>
          val cur = str.getOrElse(n, (StrMin, StrMax))
          val hi = p + StrMax
          str(n) = (if (cur._1 >= p) cur._1 else p,
            if (cur._2 <= hi) cur._2 else hi)
        }
      case _ => () // not translatable: prunes nothing
    }
  }
}
