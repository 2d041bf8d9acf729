package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import graft.core.Tables

/** `Tables.load` resolves a single-file table's schema from its footer
  * on the driver: the same schema and plan that `spark.read.parquet`'s
  * inference gives, with no Spark job started. Directories stay with
  * inference.
  */
class TablesSpec extends SparkSpec {

  private val Probe = "graft.test.tablesProbe"

  /** `body`'s result and the number of Spark jobs it started, told
    * apart from any other job by a local property. A sentinel job after
    * `body` flushes the listener queue: once its start is seen, every
    * earlier job start has been delivered.
    */
  private def withJobCount[T](body: => T): (T, Int) = {
    val started = new AtomicInteger
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Probe)) match {
          case Some("body") => started.incrementAndGet()
          case Some("sentinel") => sentinel.countDown()
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Probe, "body")
      val result = try body finally sc.setLocalProperty(Probe, null)
      sc.setLocalProperty(Probe, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Probe, null)
      assert(sentinel.await(60, TimeUnit.SECONDS), "the sentinel job was never seen")
      (result, started.get)
    } finally sc.removeSparkListener(listener)
  }

  /** What `Tables.load` built by inference: `spark.read.parquet`, then
    * events' `ts` rule.
    */
  private def inferred(dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events") raw
    else raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  private def checkLoads(dir: String, names: Seq[String]): Unit = {
    val (loaded, jobs) = withJobCount(names.map { n =>
      val d = Tables.load(spark, dir, n)
      d.schema
      d.queryExecution.optimizedPlan
      d
    })
    assert(jobs === 0, s"loading ${names.mkString(", ")} started Spark jobs")
    names.zip(loaded).foreach { case (n, d) =>
      val want = inferred(dir, n)
      assert(d.schema === want.schema, s"$n: schema")
      assert(d.queryExecution.optimizedPlan.sameResult(want.queryExecution.optimizedPlan),
        s"$n: optimized plan")
      assert(d.count() === want.count(), s"$n: rows")
    }
  }

  test("every star-schema table loads with inference's schema and plan, starting no job") {
    checkLoads(sf, Tables.names)
  }

  test("a Spark-written file with nested, decimal, timestamp and array columns loads as inferred") {
    val root = Files.createTempDirectory("graft-tables")
    val staged = root.resolve("staged").toString
    spark.range(0, 50, 1, 1).select(
      col("id"),
      struct(col("id").as("a"),
        struct(concat(lit("s-"), col("id").cast("string")).as("tag"),
          when(col("id") % 3 === 0, col("id")).as("opt")).as("inner")).as("nested"),
      (col("id") / 7).cast("decimal(18,4)").as("dec"),
      timestamp_seconds(col("id") * 3600).as("ts"),
      array(col("id"), col("id") * 2).as("arr"),
      array(struct(col("id").as("k"), lit(1.5).as("w"))).as("pairs"),
      map(lit("k"), col("id")).as("m"))
      .write.parquet(staged)
    val part = scala.util.Using.resource(Files.list(Paths.get(staged)))(
      _.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get)
    Files.copy(part, root.resolve("typed.parquet"), StandardCopyOption.REPLACE_EXISTING)
    checkLoads(root.toString, Seq("typed"))
  }

  test("a directory path still loads through inference") {
    val root = Files.createTempDirectory("graft-tables")
    spark.range(0, 40, 1, 2).select(col("id"), (col("id") * 0.5).as("half"))
      .write.parquet(root.resolve("parted.parquet").toString)
    val d = Tables.load(spark, root.toString, "parted")
    val want = spark.read.parquet(root.resolve("parted.parquet").toString)
    assert(d.schema === want.schema)
    assert(d.queryExecution.optimizedPlan.sameResult(want.queryExecution.optimizedPlan))
    assert(d.count() === 40)
  }
}
