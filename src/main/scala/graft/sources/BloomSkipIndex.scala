package graft.sources

import java.io.ByteArrayInputStream
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

/** Per-FILE bloom filters for equality file-skipping — the point-
  * lookup complement of the zone maps (the Delta bloom-filter-index
  * design point). A zone map holds ONE [min, max] interval per column
  * per file, which is exactly wrong for the "find one key in 100 TB"
  * query on a HIGH-CARDINALITY, UNCLUSTERED column: every file's
  * interval spans most of the domain, so `WHERE uuid = 'x'` keeps
  * every file and the scan is O(table). A per-file bloom answers
  * "this key is DEFINITELY not in this file" and prunes the same
  * probe to O(matching files + false positives) — at fpp 0.1% that
  * is ~the matching files alone.
  *
  * Mechanics:
  *  - DECLARATION lives in the manifest (`bloomBy`: physical column
  *    name + target false-positive rate), carried forward by every
  *    commit like `partitionBy` — additive, old readers ignore it
  *    (blooms only SHRINK file lists, never change semantics).
  *  - BUILD happens inside the write task that produces the data
  *    file ([[BloomStagingFormat]]): the task hashes each declared
  *    column of every row it writes and, when the file closes, writes
  *    one sidecar per (data file, column) beside it —
  *    `<file>.parquet.<col>.bloom`, sketch-serialized, sized to that
  *    file's row count at the declared fpp. The sidecar sits in the
  *    task attempt's directory, so the commit protocol publishes it
  *    together with its data file: a failed or speculative attempt
  *    publishes neither, nothing is collected to the driver, and no
  *    job reads the staged files back. A zero-row file gets no
  *    sidecar (staging drops the file itself). Files that existed
  *    before the declaration are indexed by [[build]], the one read
  *    pass [[VersionedTableOps.setBloomIndex]]'s back-fill runs.
  *  - PROBE hashes the predicate literal through the SAME
  *    [[XxHash64]] the build hashed the column through (one code
  *    path for every column type, and reproducible on the driver by
  *    evaluating the expression over the literal), then tests each
  *    candidate file's sidecar. A missing sidecar (file staged
  *    before the declaration, or a column added later) keeps the
  *    file — pruning is always conservative.
  *
  * Scale notes: a writing task buffers one long per row per declared
  * column until its file closes (the filter is sized to the exact
  * count); the back-fill's shuffle carries one partial bloom per
  * (file, task) — file-count × bloom-size bytes, not row-count; the
  * probe is O(candidate files after zone maps) tiny sidecar reads,
  * driver-side here (the local-store reality, like `_stats.json`)
  * with the same distributed-listing seam a real object-store
  * deployment would add.
  */
private[sources] object BloomSkipIndex {

  /** Declared bloom column names must survive as a literal filename
    * segment (`<file>.<col>.bloom`) and as a manifest JSON token.
    */
  val NameRe = "[A-Za-z0-9_]+".r

  def sidecarName(parquetName: String, physCol: String): String =
    parquetName + "." + physCol + ".bloom"

  /** The shared probe hash: evaluating [[XxHash64]] over the literal
    * reproduces exactly what the build's `xxhash64(col)` computed for
    * a row holding that value (same expression, same seed, same
    * internal representation).
    */
  def hashLiteral(lit: Literal): Long =
    new XxHash64(Seq(lit)).eval(null).asInstanceOf[Long]

  /** Filter shape for `rows` items at `fpp`: (expected items, bits) —
    * the one sizing rule of both builds.
    */
  def shape(rows: Long, fpp: Double): (Long, Long) = {
    val n = math.max(1L, rows)
    (n, BloomFilter.optimalNumOfBits(n, fpp))
  }

  /** Load one sidecar, or None when the file was never indexed. */
  def load(table: String, relFile: String, physCol: String): Option[BloomFilter] = {
    val p = Paths.get(table, sidecarName(relFile, physCol))
    if (!Files.exists(p)) None
    else Some(BloomFilter.readFrom(new ByteArrayInputStream(Files.readAllBytes(p))))
  }

  /** The write option carrying the declaration to [[BloomStagingFormat]]
    * (`col:fpp,…`): how a format addressed by class name receives its
    * parameters.
    */
  private[sources] val DeclOption = "graftbloomby"

  /** A parquet writer for `df` that builds `decl`'s sidecars in its
    * write tasks (a plain parquet write when `decl` is empty).
    */
  def writer(df: DataFrame, decl: Seq[(String, Double)]): DataFrameWriter[Row] = {
    val w = df.write.format(classOf[BloomStagingFormat].getName)
    if (decl.isEmpty) w
    else w.option(DeclOption, decl.map { case (c, fpp) => s"$c:$fpp" }.mkString(","))
  }

  private[sources] def parseDecl(s: String): Seq[(String, Double)] =
    s.split(',').toSeq.filter(_.nonEmpty).map { e =>
      val i = e.lastIndexOf(':')
      (e.substring(0, i), e.substring(i + 1).toDouble)
    }

  /** Back-fill: build and write sidecars for `relFiles` of `table`,
    * files that were staged before the declaration — one read of
    * them and one aggregation job for the whole batch regardless of
    * file count. `maxRows` sizes every file's filter to the LARGEST
    * file in the batch (the aggregate needs one bit size up front;
    * smaller files just land below their target fpp). Declared
    * columns absent from these files (added to the table later) are
    * skipped — their probes keep the files conservatively.
    */
  def build(spark: SparkSession, table: String, relFiles: Seq[String],
      decl: Seq[(String, Double)], maxRows: Long): Unit = {
    if (relFiles.isEmpty || decl.isEmpty) return
    val abs = relFiles.map(f => Paths.get(table, f).toAbsolutePath.toString)
    val df = spark.read.parquet(abs: _*)
    val present = decl.filter { case (c, _) => df.columns.contains(c) }
    if (present.isEmpty) return
    val aggs = present.map { case (c, fpp) =>
      val (n, bits) = shape(maxRows, fpp)
      Bridge.column(new BloomFilterAggregate(
        new XxHash64(Seq(Bridge.expression(col(c)))),
        Literal(n), Literal(bits)).toAggregateExpression()).as(c)
    }
    df.groupBy(input_file_name().as("__graft_bloom_file"))
      .agg(aggs.head, aggs.tail: _*)
      .foreachPartition { (it: Iterator[Row]) =>
        it.foreach { r =>
          val dataPath = Paths.get(new java.net.URI(r.getString(0)))
          present.zipWithIndex.foreach { case ((c, _), i) =>
            val bytes = r.getAs[Array[Byte]](i + 1)
            if (bytes != null)
              Files.write(dataPath.resolveSibling(
                sidecarName(dataPath.getFileName.toString, c)), bytes)
          }
        }
      }
  }
}

/** Parquet, plus the bloom sidecars of the columns declared in the
  * [[BloomSkipIndex.DeclOption]] write option, built by the task that
  * writes each file (see [[BloomSkipIndex]]). Every staging write of a
  * versioned table goes through it, addressed by class name.
  */
class BloomStagingFormat extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val parquet = super.prepareWrite(spark, job, options, dataSchema)
    val cols = options.get(BloomSkipIndex.DeclOption).toSeq
      .flatMap(BloomSkipIndex.parseDecl)
      .collect { case (c, fpp) if dataSchema.fieldNames.contains(c) =>
        (c, dataSchema.fieldIndex(c), fpp) }
    if (cols.isEmpty) parquet
    else new BloomStagingFormat.Factory(parquet, cols)
  }
}

private object BloomStagingFormat {
  /** `cols`: (physical name, ordinal in the written row, fpp). */
  final class Factory(parquet: OutputWriterFactory, cols: Seq[(String, Int, Double)])
      extends OutputWriterFactory {
    override def getFileExtension(ctx: TaskAttemptContext): String =
      parquet.getFileExtension(ctx)
    override def newInstance(path: String, dataSchema: StructType,
        ctx: TaskAttemptContext): OutputWriter =
      new Writer(parquet.newInstance(path, dataSchema, ctx), dataSchema, cols, ctx.getConfiguration)
  }

  /** Writes through to parquet, buffering each declared column's
    * row hashes; on close, after the data file is complete, writes
    * one sidecar per column beside it.
    */
  final class Writer(parquet: OutputWriter, schema: StructType,
      cols: Seq[(String, Int, Double)], conf: Configuration) extends OutputWriter {
    private val hashes = cols.map { case (_, i, _) =>
      new XxHash64(Seq(BoundReference(i, schema(i).dataType, nullable = true))) }.toArray
    private val buffers = Array.fill(cols.size)(new scala.collection.mutable.ArrayBuilder.ofLong)
    private var rows = 0L

    override def write(row: InternalRow): Unit = {
      parquet.write(row)
      var j = 0
      while (j < hashes.length) {
        buffers(j).addOne(hashes(j).eval(row).asInstanceOf[Long])
        j += 1
      }
      rows += 1
    }

    override def close(): Unit = {
      parquet.close()
      if (rows > 0) cols.zip(buffers).foreach { case ((c, _, fpp), buf) =>
        val (n, bits) = BloomSkipIndex.shape(rows, fpp)
        val filter = BloomFilter.create(n, bits)
        buf.result().foreach(filter.putLong)
        val p = new org.apache.hadoop.fs.Path(BloomSkipIndex.sidecarName(path, c))
        val out = p.getFileSystem(conf).create(p, false)
        try filter.writeTo(out) finally out.close()
      }
    }

    override def path(): String = parquet.path()
  }
}
