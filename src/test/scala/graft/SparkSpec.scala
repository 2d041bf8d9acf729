package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ZoneMapFileIndex

object TestSpark {
  // Test-JVM temp hygiene (round-12 verdict #2, one level up from the
  // query-side withRoot rule): the suites build thousands of throwaway
  // versioned tables under /tmp/graft-* across a full `sbt test` run.
  // Snapshot what existed at JVM start and sweep everything NEW at JVM
  // exit — running suites share this JVM, so by shutdown-hook time no
  // test can still be reading a swept dir.
  private val tmpDir = new java.io.File(System.getProperty("java.io.tmpdir"))
  private val preExisting: Set[String] =
    Option(tmpDir.list()).map(_.toSet).getOrElse(Set.empty)
      .filter(_.startsWith("graft-"))
  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    val now = Option(tmpDir.list()).map(_.toSet).getOrElse(Set.empty)
      .filter(_.startsWith("graft-")) -- preExisting
    now.foreach { name =>
      val p = new java.io.File(tmpDir, name).toPath
      try scala.util.Using.resource(java.nio.file.Files.walk(p)) { w =>
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      } catch { case _: Throwable => () } // best-effort at exit
    }
  }))

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    // the SQL entry point (graft catalog): same two configs Verify sets
    .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
    .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // INT64 µs timestamps on write: INT96 (the legacy default) carries
    // no usable row-group statistics, so range scans over Spark-written
    // timestamp data could never prune IO
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .getOrCreate()
  spark // initialize eagerly at first touch

  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** Files the manifest-backed scans of a fresh execution of `d`'s
    * plan listed (their `numFiles` metric). Fresh, because a frame
    * that already ran keeps its file listing and re-running it resets
    * the metric to 0.
    */
  def scannedFiles(d: DataFrame): Long = {
    val run = d.filter(lit(true))
    run.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(scans)
    }
    scans(run.queryExecution.executedPlan)
      .filter(_.relation.location.isInstanceOf[ZoneMapFileIndex])
      .map(_.metrics("numFiles").value).sum
  }
}
