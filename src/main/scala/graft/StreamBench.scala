package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** CDC change row — top-level so the encoder's generated code can
  * construct it (a private nested case class fails codegen).
  */
case class SbChange(user_id: Long, event_id: Long, ts_s: Long,
    value: Double, op: String)

/** Streaming throughput bench (round-6: streaming had 13 green
  * correctness specs but zero perf numbers). Drives the three
  * streaming pipeline shapes — stateless-gate + watermark-bounded
  * dedup ingest, windowed aggregation, and foreachBatch CDC merge —
  * from a MemoryStream at SPARK_GRAFT_SF_DIR scale, split into
  * micro-batches, and prints ONE JSON line with rows/s and per-batch
  * latency per pipeline (the graft.Bench output conventions).
  *
  * MemoryStream feeds from driver memory, so the numbers measure the
  * ENGINE cost of each micro-batch (state store, watermark, shuffle,
  * sink), not source IO — the right baseline for comparing state
  * shapes; a file/Kafka source adds its own constant.
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "8").toInt.max(2)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def tmp(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"graft-sbench-$tag").toString

    /** Feed `batches` through a MemoryStream-built query one micro-
      * batch at a time; returns (inputRows, wallS, perBatchMs).
      */
    def drive[T](batches: Seq[Seq[T]],
        start: MemoryStream[T] => org.apache.spark.sql.streaming.StreamingQuery)
        (implicit enc: org.apache.spark.sql.Encoder[T]): (Long, Double, Seq[Double]) = {
      val mem = MemoryStream[T]
      val q = start(mem)
      val lat = Seq.newBuilder[Double]
      val t0 = System.nanoTime()
      batches.foreach { b =>
        val bt0 = System.nanoTime()
        mem.addData(b)
        q.processAllAvailable()
        lat += (System.nanoTime() - bt0) / 1e6
      }
      val wall = (System.nanoTime() - t0) / 1e9
      q.stop()
      (batches.map(_.size.toLong).sum, wall, lat.result())
    }

    def stats(name: String, rows: Long, wall: Double, lat: Seq[Double]): (String, Double) = {
      val sorted = lat.sorted
      val p50 = sorted(sorted.size / 2)
      val rps = rows / wall
      (s""""$name":{"rows":$rows,"wall_s":$wall,"rows_per_s":$rps,""" +
        s""""batches":${lat.size},"batch_ms_p50":$p50,"batch_ms_max":${sorted.last}}""", rps)
    }

    // ---- inputs (driver-side, split into CONTIGUOUS event-time
    // slices — the realistic arrival order; a round-robin split would
    // make every event of batch 2+ late under the watermark and
    // measure the drop path, not the state path) ----
    def slices[T](xs: Seq[T]): Seq[Seq[T]] = {
      val sz = math.max(1, (xs.size + nBatches - 1) / nBatches)
      xs.grouped(sz).toSeq
    }
    val events = core.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event].collect().toSeq
      .sortBy(e => (e.ts.getTime, e.event_id))
    val eventBatches = slices(events)
    val docs = core.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        // synthetic in-order event time: documents carry no timestamp
        timestamp_seconds(lit(1500000000L) + col("doc_id")).as("ts"),
        col("lang"), col("text"))
      .as[Streams.Doc].collect().toSeq
      .sortBy(_.doc_id)
    val docBatches = slices(docs)
    val changes = events.map(e => SbChange(e.user_id, e.event_id,
      e.ts.getTime / 1000, e.value,
      if (e.event_type == "purchase") "delete" else "upsert"))
    val changeBatches = slices(changes)

    // warmup: one tiny pass per pipeline so first-codegen/state-store
    // init cost doesn't land in batch 1 of the measured run
    locally {
      val (_, _, _) = drive[Streams.Doc](Seq(docs.take(50)), m =>
        Streams.corpusIngest(m.toDS()).writeStream.format("noop")
          .option("checkpointLocation", tmp("warm1")).start())
      val (_, _, _) = drive[Streams.Event](Seq(events.take(50)), m =>
        Streams.windowedCounts(m.toDS()).writeStream.format("noop")
          .outputMode("update").option("checkpointLocation", tmp("warm2")).start())
    }

    // 1. corpus ingest: quality gates + dropDuplicatesWithinWatermark
    val (r1, w1, l1) = drive[Streams.Doc](docBatches, m =>
      Streams.corpusIngest(m.toDS()).writeStream.format("noop")
        .option("checkpointLocation", tmp("corpus")).start())

    // 2. tumbling-window aggregation (update mode: emits per batch)
    val (r2, w2, l2) = drive[Streams.Event](eventBatches, m =>
      Streams.windowedCounts(m.toDS()).writeStream.format("noop")
        .outputMode("update").option("checkpointLocation", tmp("window")).start())

    // 3. CDC ingest: foreachBatch LWW merge into a parquet snapshot
    val snapDir = tmp("cdcsnap") + "/snapshot"
    val (r3, w3, l3) = drive[SbChange](changeBatches, m =>
      Streams.cdcIngest(m.toDF(), snapDir, tmp("cdcchk")))

    // 4. stateful sessionization via native session_window (append is
    // the only mode session windows support — sessions emit as the
    // watermark closes them, which the in-order batch feed drives)
    val (r4, w4, l4) = drive[Streams.Event](eventBatches, m =>
      Streams.sessionWindowed(m.toDS()).writeStream.format("noop")
        .outputMode("append").option("checkpointLocation", tmp("sess")).start())

    // 4b. the SAME CDC merge committed through the VersionedTable
    // log (one atomic commit per micro-batch) — the delta vs plain
    // cdc_ingest is the price of snapshot isolation + time travel on
    // the streaming path: one manifest publish + footer-stats write
    // per trigger, both O(files), on top of the identical merge job
    val (r4b, w4b, l4b) = drive[SbChange](changeBatches, m =>
      Streams.cdcIngestVersioned(m.toDF(), tmp("cdcv") + "/table", tmp("cdcvchk")))

    // 4c. EXACTLY-ONCE versioned APPEND sink (the medallion hop's
    // write half): each micro-batch commits through the (appId,
    // batchId) txn watermark — one atomic manifest publish + stats
    // write per trigger, NO merge job (vs 4b's full LWW merge): the
    // floor cost of making a streamed append atomic + replay-safe
    val (r4c, w4c, l4c) = drive[Streams.Doc](docBatches, m =>
      Streams.appendStreamVersioned(m.toDS().toDF(),
        tmp("apnd") + "/table", tmp("apndchk"), "bench-append"))

    // 5./6. corpus ingest vs BATCH SIZE (round-7 item 4: 519 rows/s at
    // 625-row triggers was asserted, not shown, to be per-trigger
    // fixed cost). Same pipeline over a 10x replicated corpus — docs
    // get disjoint ids, strictly increasing event time (so nothing is
    // late under the watermark) and a per-replica text marker (so the
    // dedup state genuinely grows instead of collapsing replicas) —
    // driven at ~10x the trigger size, then as ONE ~50k-row trigger.
    // rows/s across the three points separates per-ROW cost from
    // per-TRIGGER cost (state-store commit, watermark round, planning).
    val bigDocs: Seq[Streams.Doc] = (0 until 10).flatMap { r =>
      docs.zipWithIndex.map { case (d, i) =>
        Streams.Doc(d.doc_id + r * 10000000L,
          new Timestamp((1500000000L + r.toLong * docs.size + i) * 1000L),
          d.lang,
          if (r == 0) d.text else d.text + " q" + ('a' + r - 1).toChar)
      }
    }
    val (r5, w5, l5) = drive[Streams.Doc](slices(bigDocs), m =>
      Streams.corpusIngest(m.toDS()).writeStream.format("noop")
        .option("checkpointLocation", tmp("corpus10")).start())
    val (r6, w6, l6) = drive[Streams.Doc](Seq(bigDocs), m =>
      Streams.corpusIngest(m.toDS()).writeStream.format("noop")
        .option("checkpointLocation", tmp("corpus50k")).start())

    val parts = Seq(
      stats("corpus_ingest", r1, w1, l1),
      stats("windowed_counts", r2, w2, l2),
      stats("cdc_ingest", r3, w3, l3),
      stats("session_window", r4, w4, l4),
      stats("cdc_ingest_versioned", r4b, w4b, l4b),
      stats("append_versioned", r4c, w4c, l4c),
      stats("corpus_ingest_10x", r5, w5, l5),
      stats("corpus_ingest_1trigger", r6, w6, l6))
    val totalRows = r1 + r2 + r3 + r4 + r4b + r4c + r5 + r6
    val totalWall = w1 + w2 + w3 + w4 + w4b + w4c + w5 + w6
    println(s"""{"streams":{${parts.map(_._1).mkString(",")}},""" +
      s""""metric":"stream_rows_per_sec","unit":"rows/s","sf":"$sfDir",""" +
      s""""n_batches":$nBatches,"total_rows":$totalRows,"total_wall_s":$totalWall,""" +
      s""""value":${totalRows / totalWall}}""")
    spark.stop()
  }
}
