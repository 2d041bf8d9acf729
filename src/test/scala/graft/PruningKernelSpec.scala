package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{InMemoryCommitStore, VersionedTable, VersionedTableOps}

/** The one file-pruning kernel, seen from its callers: the explicit
  * reads (`readRange`, `readRangeString`, `readPoints`), a plain
  * filtered `read`, the copy-on-write split and the zone-map-scoped
  * keyed merge all pick their files through the same predicate →
  * zone-map → bloom path. The explicit `filesFor*` probes are the
  * evidence surface: a read never opens a file its probe prunes, and
  * an IN list keeps only the files that can hold one of its values.
  * Backend-abstract like the VersionedTable battery.
  */
abstract class PruningKernelBattery(backend: String, ops: VersionedTableOps)
    extends SparkSpec {

  private def fresh(name: String): String = {
    val p = s"tmp/prune-test/$backend/$name"
    val root = Paths.get(p)
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(root))(
        _.iterator().asScala.toSeq.reverse.foreach(Files.delete))
    }
    p
  }

  /** Three key-clustered commits (ids [0, 500), [1000, 1500),
    * [2000, 2500), four files each) with one column per zone-mapped
    * type; `k` and `i` bloom-indexed.
    */
  private def typedTable(t: String): Unit = {
    for (lo <- Seq(0L, 1000L, 2000L)) {
      val df = spark.range(lo, lo + 500, 1, 4).select(
        col("id").as("k"),
        col("id").cast("int").as("i"),
        date_add(lit("2020-01-01").cast("date"), col("id").cast("int")).as("d"),
        timestamp_seconds(col("id")).as("ts"),
        (col("id") / 4).cast("decimal(12,2)").as("dec"),
        (col("id") * 0.1).cast("float").as("f"),
        concat(lit(('a' + (lo / 1000).toInt).toChar.toString + "-"),
          format_string("%04d", col("id"))).as("s"))
      if (lo == 0L) ops.overwrite(spark, t, df) else ops.append(spark, t, df)
    }
    ops.setBloomIndex(spark, t, Seq(("k", 0.01), ("i", 0.01)))
  }

  private val Epoch2020 = 18262L // days from 1970-01-01 to 2020-01-01

  /** Every explicit read and its plain `read(...).filter` twin against
    * the matching `filesFor*` probe: the probe must prune (so the
    * check means something), the read must open no more files than
    * the probe keeps, and the rows must be the unpruned filter's.
    */
  private def checkReads(t: String, dayCol: String): Unit = {
    val total = ops.snapshotFiles(t).size
    val ref = ops.read(spark, t).localCheckpoint() // unpruned reference
    def check(what: String, read: DataFrame, kept: Seq[String],
        expected: DataFrame): Unit = {
      assert(kept.nonEmpty && kept.size < total, s"$what: the probe must prune")
      assert(scannedFiles(read) <= kept.size,
        s"$what: the read opened a file the probe prunes")
      assert(read.count() === expected.count(), s"$what: rows")
    }
    def range(c: String, lo: Double, hi: Double) = ops.filesForRange(t, c, lo, hi)._1
    check("readRange long", ops.readRange(spark, t, "k", 1100, 1200),
      range("k", 1100, 1200), ref.filter(col("k").between(1100, 1200)))
    check("readRange int", ops.readRange(spark, t, "i", 1100.5, 1200),
      range("i", 1100.5, 1200), ref.filter(col("i").between(1101, 1200)))
    check("readRange date", ops.readRange(spark, t, dayCol,
        (Epoch2020 + 1100).toDouble, (Epoch2020 + 1200).toDouble),
      range(dayCol, (Epoch2020 + 1100).toDouble, (Epoch2020 + 1200).toDouble),
      ref.filter(col(dayCol).between(date_add(lit("2020-01-01").cast("date"), 1100),
        date_add(lit("2020-01-01").cast("date"), 1200))))
    check("readRange timestamp", ops.readRange(spark, t, "ts", 1100e6, 1200e6),
      range("ts", 1100e6, 1200e6),
      ref.filter(col("ts").between(timestamp_seconds(lit(1100)), timestamp_seconds(lit(1200)))))
    check("readRange decimal", ops.readRange(spark, t, "dec", 275.1, 300),
      range("dec", 275.1, 300),
      ref.filter(col("dec").between(lit(BigDecimal("275.25")), lit(BigDecimal("300")))))
    check("readRange float", ops.readRange(spark, t, "f", 110.05, 120.05),
      range("f", 110.05, 120.05),
      ref.filter(col("f").cast("double").between(110.05, 120.05)))
    check("readRanges", ops.readRanges(spark, t, Seq(("k", 1000, 1400), ("dec", 300, 400))),
      ops.filesForRanges(t, Seq(("k", 1000, 1400), ("dec", 300, 400)))._1,
      ref.filter(col("k").between(1000, 1400) && col("dec").between(300, 400)))
    check("readRangeString", ops.readRangeString(spark, t, "s", "b-1100", "b-1200"),
      ops.filesForRangeString(t, "s", "b-1100", "b-1200")._1,
      ref.filter(col("s").between("b-1100", "b-1200")))
    check("readPoints", ops.readPoints(spark, t, "k", Seq(1101L, 1450L)),
      ops.filesForPoints(t, "k", Seq(1101L, 1450L))._1,
      ref.filter(col("k").isin(1101L, 1450L)))
    // the plain filtered read: same kernel, same evidence
    check("read filter long", ops.read(spark, t).filter(col("k").between(1100, 1200)),
      range("k", 1100, 1200), ref.filter(col("k").between(1100, 1200)))
    check("read filter timestamp", ops.read(spark, t).filter(
        col("ts").between(timestamp_seconds(lit(1100)), timestamp_seconds(lit(1200)))),
      range("ts", 1100e6, 1200e6),
      ref.filter(col("ts").between(timestamp_seconds(lit(1100)), timestamp_seconds(lit(1200)))))
    check("read filter date", ops.read(spark, t).filter(
        col(dayCol) >= date_add(lit("2020-01-01").cast("date"), 1100)),
      range(dayCol, (Epoch2020 + 1100).toDouble, Double.PositiveInfinity),
      ref.filter(col(dayCol) >= date_add(lit("2020-01-01").cast("date"), 1100)))
    check("read filter decimal", ops.read(spark, t).filter(col("dec") <= 100),
      range("dec", Double.NegativeInfinity, 100), ref.filter(col("dec") <= 100))
    check("read filter float", ops.read(spark, t).filter(col("f") < 40f),
      range("f", Double.NegativeInfinity, 40), ref.filter(col("f") < 40f))
    check("read filter points", ops.read(spark, t).filter(col("k") === 2222L),
      ops.filesForPoints(t, "k", Seq(2222L))._1, ref.filter(col("k") === 2222L))
    // an INT column probed with LONG values: the optimizer unwraps the
    // widening cast, so the zone maps and blooms still prune
    check("read filter int, long isin", ops.read(spark, t).filter(col("i").isin(1101L, 1150L)),
      ops.filesForPoints(t, "i", Seq(1101, 1150))._1.intersect(range("i", 1101, 1150)),
      ref.filter(col("i").isin(1101, 1150)))
    check("readPoints int, long values", ops.readPoints(spark, t, "i", Seq(1101L, 1150L)),
      ops.filesForPoints(t, "i", Seq(1101, 1150))._1.intersect(range("i", 1101, 1150)),
      ref.filter(col("i").isin(1101, 1150)))
  }

  test(s"[$backend] explicit and filtered reads open no file their filesFor probe prunes") {
    val t = fresh("typed")
    typedTable(t)
    ops.renameColumn(spark, t, "d", "day")
    checkReads(t, "day")
    // live deletion vectors on every file (an untranslatable predicate
    // touches them all); pruning composes with the DV anti join
    ops.deleteMoR(spark, t, col("k") % 10 === 0)
    assert(ops.deletionVectors(t).nonEmpty)
    checkReads(t, "day")
  }

  /** The mergezone layout: three disjoint key clusters, one commit each. */
  private def clustered(t: String): Unit =
    for (lo <- Seq(0L, 1000L, 2000L)) {
      val df = spark.range(lo, lo + 500, 1, 4)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
      if (lo == 0L) ops.overwrite(spark, t, df) else ops.append(spark, t, df)
    }

  test(s"[$backend] an IN list keeps only the files holding a listed value, for reads and COW deletes") {
    val t = fresh("inlist")
    clustered(t)
    val v0 = ops.versions(t).last
    val files0 = ops.snapshotFiles(t, Some(v0)).toSet
    def holding(k: Long) = ops.filesForRange(t, "k", k, k, Some(v0))._1.toSet
    val holders = holding(42) ++ holding(2042)
    val middle = ops.filesForRange(t, "k", 1000, 1499, Some(v0))._1.toSet
    assert(holders.size === 2 && middle.nonEmpty && (holders & middle).isEmpty)
    // the middle cluster sits inside the list's [42, 2042] envelope
    val inl = ops.read(spark, t).filter(col("k").isin(42L, 2042L))
    assert(inl.collect().map(_.getLong(0)).toSet === Set(42L, 2042L))
    assert(scannedFiles(inl) === holders.size,
      "only the two clusters' files holding a listed value are opened")
    val v1 = ops.delete(spark, t, col("k").isin(42L, 2042L))
    val files1 = ops.snapshotFiles(t, Some(v1)).toSet
    assert((files0 -- files1) === holders, "exactly the holding files were rewritten")
    assert(middle.subsetOf(files1), "the middle cluster carries by reference")
    assert(ops.read(spark, t).count() === 1498)
  }

  test(s"[$backend] a zoned upsert with non-ASCII string keys carries a disjoint ASCII commit") {
    val t = fresh("utf8")
    val ascii = spark.range(0, 200, 1, 4).select(
      concat(lit("a"), format_string("%03d", col("id"))).as("k"), col("id").as("v"))
    // keys from three scripts, one of them outside the BMP: UTF-16 and
    // UTF-8 order these differently
    val scripts = Seq("é", "ｚ", "😀")
    val wide = spark.range(0, 200, 1, 4).select(
      concat(element_at(typedLit(scripts), (col("id") % 3 + 1).cast("int")),
        format_string("%03d", col("id"))).as("k"), col("id").as("v"))
    ops.overwrite(spark, t, ascii)
    ops.append(spark, t, wide)
    val v0 = ops.versions(t).last
    // the wide commit's string bounds are not ASCII: they are not
    // indexed, so its files are always kept
    val aFiles = ops.snapshotFiles(t, Some(v0 - 1)).toSet
    assert(ops.filesForRangeString(t, "k", "a000", "a999", Some(v0))._1.size === 8)
    assert(aFiles.size === 4 && ops.snapshotFiles(t, Some(v0)).size >= 8,
      "enough files for the zoned path")
    val upd = spark.range(10, 15).select(
      concat(element_at(typedLit(scripts), (col("id") % 3 + 1).cast("int")),
        format_string("%03d", col("id"))).as("k"), lit(-1L).as("v"))
    val v1 = ops.upsert(spark, t, upd, "k")
    val files1 = ops.snapshotFiles(t, Some(v1)).toSet
    assert(aFiles.subsetOf(files1),
      "ASCII-keyed files carry by reference under a non-ASCII point probe")
    assert(files1 != ops.snapshotFiles(t, Some(v0)).toSet, "the non-ASCII files rewrote")
    val r = ops.read(spark, t, Some(v1))
    assert(r.count() === 400)
    assert(r.filter(col("v") === -1L).count() === 5)
    assert(r.filter(col("k") === "😀011").head.getLong(1) === -1L)
  }
}

class PruningKernelSpec extends PruningKernelBattery("link", VersionedTable)

class PruningKernelObjectStoreSpec
  extends PruningKernelBattery("objectstore", new VersionedTableOps(new InMemoryCommitStore))
