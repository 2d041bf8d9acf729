package perfbench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.MapReduce
import graft.functions.{Signatures, VectorFunctions}
import graft.sources.{MaterializedView, VersionedTable}

/** The reference's two MapReduce jobs with their merge to one file,
  * two more MR jobs, short OLAP plans over the star schema, and one
  * isolation job per kernel column function over the documents or
  * embeddings table (repeated `Rep` times) into the `noop` sink.
  */
class MrOlap(spark: SparkSession, inputDir: String, outDir: String, tracer: Tracer)
    extends Workload {
  val tables = s"$inputDir/tables"
  val checkDir = s"$outDir/check"
  val queryNames = Seq("mr_grep", "mr_histogram", "q1_agg", "q5_multijoin", "q6_revenue",
    "q_topk_per_group")
  val Rep = 10

  /** Builder call, forced planning (traced runs only), execution. */
  private def query(name: String): Op = Op(name, "query", () => {
    val df = tracer.span("build") { SparkEntry.queries(name)(spark, tables) }
    if (tracer.active) tracer.span("plan") { df.queryExecution.executedPlan }
    tracer.span("exec") { Harness.noop(df) }
  })

  private def mrJob(name: String, build: => org.apache.spark.sql.Dataset[_],
      target: String): Op = Op(name, "query", () => {
    val ds = tracer.span("build") { build }
    if (tracer.active) tracer.span("plan") { ds.queryExecution.executedPlan }
    tracer.span("exec") {
      tracer.span("core.merge") { MapReduce.mergeToSingleFile(ds, target) }
    }
  })

  private def jobs(dir: String): Seq[Op] = Seq(
    mrJob("wordcount", MapReduce.wordCount(spark, s"$inputDir/text"), s"$dir/wordcount"),
    mrJob("numbersort", MapReduce.numberSort(spark, s"$inputDir/numbers"), s"$dir/numbersort"))

  private lazy val docs = spark.read.parquet(s"$tables/documents.parquet")
    .crossJoin(spark.range(Rep))
  private lazy val emb = spark.read.parquet(s"$tables/embeddings.parquet")
    .crossJoin(spark.range(Rep))
  private var docRows, embRows = 0L

  /** The kernel inputs' row counts, which the kernels' rows/s use. */
  def setUp(i: Int): Unit = { docRows = docs.count(); embRows = emb.count() }

  private def kernel(name: String, src: => DataFrame, rows: => Long, f: Column): Op =
    Op(s"kernel_$name", "kernel",
      () => tracer.span("exec") { Harness.noop(src.select(f.as("v"))) },
      () => Map("rows" -> rows))

  private def kernels: Seq[Op] = Seq(
    kernel("minhash", docs, docRows, Signatures.minhashCol(col("text"))),
    kernel("simhash", docs, docRows, Signatures.simhashCol(col("text"))),
    kernel("shingles", docs, docRows, Signatures.shinglesCol(col("text"))),
    kernel("fingerprint", docs, docRows, Signatures.fingerprintCol(col("text"))),
    kernel("cosine", emb, embRows,
      VectorFunctions.cosine(col("embedding"), reverse(col("embedding")))))

  def ops(pass: Int): Seq[Op] = jobs(s"$outDir/merged") ++ queryNames.map(query) ++ kernels

  def checkPass(): Map[String, Any] = {
    jobs(checkDir).foreach(_.body())
    for (q <- queryNames)
      SparkEntry.queries(q)(spark, tables).coalesce(1).write.mode("overwrite")
        .parquet(s"$checkDir/q/$q")
    Map("queries" -> queryNames,
      "oracle_sql" -> queryNames.map(q => q -> SparkEntry.oracleSql(q)).toMap)
  }
}

/** One long-lived versioned table fed the generated operation stream
  * and its incremental mat view. The traced run also accounts the
  * table's bytes and times one compaction and vacuum of the grown
  * commit log after the timed passes.
  */
class Lakehouse(spark: SparkSession, inputDir: String, outDir: String, tracer: Tracer,
    spec: Map[String, Any]) extends Workload {
  val checkDir = s"$outDir/check"
  private val stream = spec("lake_passes").asInstanceOf[Seq[Seq[Map[String, Any]]]]
  override def maxPasses: Int = stream.size
  val Retain = 10
  val root = s"$outDir/lake"
  val table = s"$root/lake/li"
  val view = s"$root/lake/li_mv"
  private val keys = Seq("l_returnflag", "l_linestatus")
  private val sums = Seq("l_quantity", "l_extendedprice")
  private val submitted = ArrayBuffer(s"$inputDir/lake_base.parquet")
  private val walks = ArrayBuffer[Map[String, Long]]()
  private val log = ArrayBuffer[Map[String, Any]]()

  private def build(r: String): Unit = {
    val t = s"$r/lake/li"
    VersionedTable.overwrite(spark, t, spark.read.parquet(s"$inputDir/lake_base.parquet"))
    VersionedTable.setBloomIndex(spark, t, Seq(("k", 0.01)))
    MaterializedView.refresh(spark, s"$r/lake/li_mv", t, keys, sums)
  }

  /** The base table, its bloom index and the first refresh. Set-up 0
    * is the one the passes use; a repeat builds under a throwaway root.
    */
  def setUp(i: Int): Unit = {
    val r = if (i == 0) root else s"$outDir/lake-prep-$i"
    build(r)
    if (i > 0) Harness.deleteTree(Paths.get(r))
  }

  private def head: Long = tracer.span("sources.versions") { VersionedTable.versions(table).last }
  private def setOf(m: Map[String, Any]): Seq[(String, Column)] =
    m("set").asInstanceOf[Map[String, String]].toSeq.map { case (c, e) => c -> expr(e) }
  private def sqlSet(m: Map[String, Any]): String =
    m("set").asInstanceOf[Map[String, String]].map { case (c, e) => s"$c = $e" }.mkString(", ")
  private def num(m: Map[String, Any], k: String): Double = m(k).toString.toDouble
  private def points(m: Map[String, Any]): Seq[Any] =
    m("values").asInstanceOf[Seq[Any]].map(_.toString.toLong)

  private def walk(): Unit = walks += (Harness.dirBytes(table) ++ Harness.dirBytes(view))

  private def streamOp(pass: Int, idx: Int, m: Map[String, Any]): Op = {
    val kind = m("op").toString
    var extra = Map.empty[String, Any]
    def w(body: => Unit): () => Unit = () => tracer.span(s"sources.$kind") { body }
    val cost = kind match {
      case "range_read" | "point_read" | "time_travel" => "read"
      case _ => "write"
    }
    val body: () => Unit = kind match {
      case "append" => w {
        submitted += m("file").toString
        VersionedTable.append(spark, table, spark.read.parquet(m("file").toString))
      }
      case "upsert" => w {
        submitted += m("file").toString
        VersionedTable.upsert(spark, table, spark.read.parquet(m("file").toString), "k")
      }
      case "delete" => w { VersionedTable.delete(spark, table, expr(m("where").toString)) }
      case "delete_mor" => w { VersionedTable.deleteMoR(spark, table, expr(m("where").toString)) }
      case "update_mor" => w {
        VersionedTable.updateMoR(spark, table, expr(m("where").toString), setOf(m))
      }
      case "sql_update" => () => tracer.span("sql.dml") {
        spark.conf.set("spark.sql.catalog.graft.root", root)
        spark.sql(s"UPDATE graft.lake.li SET ${sqlSet(m)} WHERE ${m("where")}")
      }
      case "range_read" => w {
        val (lo, hi) = (num(m, "lo"), num(m, "hi"))
        if (tracer.active) {
          val (kept, all) = tracer.span("sources.prune") {
            VersionedTable.filesForRange(table, "k", lo, hi) }
          extra = Map("files_kept" -> kept.size, "files_all" -> all)
        }
        Harness.noop(VersionedTable.readRange(spark, table, "k", lo, hi))
      }
      case "point_read" => w {
        if (tracer.active) {
          val (kept, all) = tracer.span("sources.prune") {
            VersionedTable.filesForPoints(table, "k", points(m)) }
          extra = Map("files_kept" -> kept.size, "files_all" -> all)
          tracer.span("sources.snapshot_files") { VersionedTable.snapshotFiles(table) }
        }
        Harness.noop(VersionedTable.readPoints(spark, table, "k", points(m)))
      }
      case "time_travel" => w {
        Harness.noop(VersionedTable.read(spark, table, Some(head - num(m, "back").toLong)))
      }
      case "mv_refresh" => w { MaterializedView.refresh(spark, view, table, keys, sums) }
      case other => throw new IllegalArgumentException(s"unknown lake op $other")
    }
    Op(kind, cost, body, () => {
      if (kind == "mv_refresh" && tracer.on) walk() // the pass's last operation
      val v = VersionedTable.versions(table).last
      log += Map("pass" -> pass, "idx" -> idx, "op" -> kind, "version" -> v)
      val r = extra ++ Map("version" -> v)
      extra = Map.empty
      r
    })
  }

  def ops(pass: Int): Seq[Op] =
    stream(pass).zipWithIndex.map { case (m, i) => streamOp(pass, i, m) }

  private def dump(df: DataFrame, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")

  private def plainBytes(df: DataFrame, name: String): Long = {
    val p = s"$outDir/plain/$name"
    df.write.mode("overwrite").parquet(p)
    Harness.dirBytes(p).collect { case (f, n) if f.endsWith(".parquet") => n }.sum
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.collect().map(_.toString).sorted.sameElements(b.collect().map(_.toString).sorted)

  private def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  /** Bytes written and kept under the roots, the plain-parquet sizes
    * they are measured against, and one timed compaction and vacuum.
    */
  private def accounting(): Map[String, Any] = {
    val compactMs = timeMs { VersionedTable.compact(spark, table, nFiles = 4) }
    walk() // nothing was vacuumed yet: this listing holds every file ever written
    val vacuumMs = timeMs {
      VersionedTable.vacuum(table, retain = Retain, graceMs = 0L)
      VersionedTable.vacuum(view, retain = 2, graceMs = 0L)
    }
    Map("walks" -> walks.toSeq, "table_after_vacuum" -> Harness.dirBytes(table),
      "plain_submitted_bytes" -> plainBytes(spark.read.parquet(submitted.toSeq: _*), "submitted"),
      "plain_live_bytes" -> plainBytes(VersionedTable.read(spark, table), "live"),
      "live_files" -> VersionedTable.snapshotFiles(table).size,
      "compact_ms" -> compactMs, "vacuum_ms" -> vacuumMs)
  }

  def checkPass(): Map[String, Any] = {
    val acct = if (tracer.on) accounting() else Map.empty[String, Any]
    val retained = VersionedTable.versions(table).toSet
    // time-travel targets: write commits of the last passes still retained
    val travel = log.filter(r => retained(r("version").asInstanceOf[Long]) &&
      Set("append", "delete", "update_mor", "sql_update")(r("op").toString))
      .groupBy(_("version")).values.map(_.last).toSeq
      .sortBy(_("version").asInstanceOf[Long]).takeRight(3)
    for (r <- travel) dump(VersionedTable.read(spark, table, Some(r("version").asInstanceOf[Long])),
      s"travel_${r("version")}")
    dump(VersionedTable.read(spark, table), "lake_head")
    dump(MaterializedView.read(spark, view), "lake_view")
    val full = VersionedTable.read(spark, table)
    val last = stream(log.last("pass").asInstanceOf[Int])
    val pruned = last.filter(m => Set("range_read", "point_read")(m("op").toString)).map { m =>
      val (a, b) = if (m("op") == "range_read") {
        val (lo, hi) = (num(m, "lo"), num(m, "hi"))
        (VersionedTable.readRange(spark, table, "k", lo, hi),
          full.filter(col("k") >= lo && col("k") <= hi))
      } else (VersionedTable.readPoints(spark, table, "k", points(m)),
        full.filter(col("k").isin(points(m): _*)))
      Map("op" -> m("op"), "rows" -> b.count(), "equal" -> sameRows(a, b))
    }
    acct ++ Map("log" -> log.toSeq, "travel" -> travel,
      "pruned_vs_full" -> pruned)
  }
}
