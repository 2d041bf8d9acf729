package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions._

/** Loaders for the driver's star-schema testdata (TESTDATA.md).
  *
  * One parquet file per table under `\$dir/<name>.parquet`. All graft
  * operators take `(SparkSession, dir)` and pull tables through here so
  * the scan (with pushed filters / pruned columns) is the only IO path.
  *
  * A load starts no Spark job. The schema of a single-file table comes
  * from that file's footer, read on the driver and converted by Spark's
  * own inference code under the session's conf, so it is exactly the
  * schema `spark.read.parquet` would infer with its one-task job. Any
  * other path (a directory, a glob) is left to that inference.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) in some
      // generator versions and plain TIMESTAMP(MICROS) in others, so
      // the loader normalizes BY OBSERVED TYPE rather than assuming:
      //  - NANOS: Spark's vectorized reader rejects it — read the raw
      //    int64 nanos (nanosAsLong, set before the footer's schema is
      //    converted, so it applies there too) and integer-DIV to µs, the same
      //    conversion DuckDB applies (ns-since-epoch overflows
      //    double's 53-bit mantissa, so DIV, never a double cast).
      //  - MICROS (TIMESTAMP_NTZ): cast to the session-zone timestamp
      //    (identity under the UTC sessions every entry point pins),
      //    keeping one downstream ts type across generator versions.
      // CAVEAT: nanosAsLong is session-global and must stay set while
      // the (lazy) scan executes, so it cannot be restored here. It
      // only changes how TIMESTAMP(NANOS) columns parse, and events is
      // the only such table in this schema; a multi-tenant session
      // would need a dedicated reader session instead.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = read(spark, s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    } else {
      read(spark, s"$dir/$name.parquet")
    }

  private def read(spark: SparkSession, path: String): DataFrame =
    GraftParquetBridge.singleFileSchema(spark, path)
      .fold(spark.read)(spark.read.schema).parquet(path)

  /** Register every table as a temp view (for spark.sql usage). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
