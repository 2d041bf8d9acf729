package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark run: one fresh JVM, one Spark session with the
  * settings of `graft.Bench`'s session, one client issuing the
  * workload's operations one after another (a closed loop).
  *
  * Phases: set-up (timed: the session, then the workload's set-up),
  * the cold pass straight after it, warm-up passes, timed passes until
  * `seconds` have passed, two repeats of the workload's set-up (after
  * the passes, so they warm nothing a pass measures), and a check
  * pass that writes every output the Python side verifies. Raw
  * records only are written (`result.json`, and the spans when
  * tracing); every metric is computed by `metrics.py`.
  *
  * Usage: Harness <workload> <inputDir> <outDir> <seconds> <trace 0|1>
  */
object Harness {
  val json = new ObjectMapper().registerModule(DefaultScalaModule)
  /** Passes between the cold pass and the timed ones, chosen from the
    * per-pass jvm.jit_ms and codegen series (README.md, steadiness). */
  val WarmupPasses = 2
  val SetUpRepeats = 2

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, outDir, secondsArg, traceArg) = args
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.local.dir", s"$outDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val hostMicroS = { hostMicroOnce(); (1 to 3).map(_ => hostMicroOnce()).min }

    val tracer = new Tracer(traceArg == "1")
    if (tracer.on) tracer.install(spark)
    val spec = json.readValue(new File(s"$inputDir/spec.json"), classOf[Map[String, Any]])
    val w: Workload = workload match {
      case "mr_olap" => new MrOlap(spark, inputDir, outDir, tracer)
      case "lakehouse_mixed" => new Lakehouse(spark, inputDir, outDir, tracer, spec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setUpS = ArrayBuffer(timeS(w.setUp(0)))
    val passes = ArrayBuffer[Map[String, Any]]()
    val opRecs = ArrayBuffer[Map[String, Any]]()
    def runPass(p: Int, phase: String): Double = {
      val c0 = Counters.now()
      val t0 = System.nanoTime()
      for ((op, i) <- w.ops(p).zipWithIndex) {
        val id = tracer.beginOp(op.name)
        val (cg0, cgNs0) = Counters.codegen()
        val cpu0 = Counters.cpuNs()
        val s0 = System.nanoTime()
        val failed = try { op.body(); false } catch { case e: Exception =>
          System.err.println(s"[perfbench] pass $p ${op.name} failed: $e"); true }
        val s1 = System.nanoTime()
        val cpu1 = Counters.cpuNs()
        val (cg1, cgNs1) = Counters.codegen()
        tracer.endOp()
        cleanup(spark)
        opRecs += Map("pass" -> p, "idx" -> i, "name" -> op.name, "kind" -> op.kind,
          "id" -> id, "failed" -> failed, "ms" -> (s1 - s0) / 1e6, "cpu_ms" -> (cpu1 - cpu0) / 1e6,
          "codegen_compiles" -> (cg1 - cg0),
          "codegen_compile_ms" -> (cgNs1 - cgNs0) / 1e6) ++ op.record()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      passes += Map("pass" -> p, "phase" -> phase, "wall_s" -> wall) ++ Counters.now().minus(c0)
      System.gc() // between passes, outside the pass's time
      wall
    }

    val maxPasses = w.maxPasses
    runPass(0, "cold")
    var p = 1
    while (p <= WarmupPasses && p < maxPasses) { runPass(p, "warmup"); p += 1 }
    val timedT0 = System.nanoTime()
    var timed = 0
    while (p < maxPasses &&
        (timed < 3 || (System.nanoTime() - timedT0) / 1e9 < secondsArg.toDouble)) {
      runPass(p, "timed"); p += 1; timed += 1
    }
    // the context cleaner frees broadcasts and shuffles of collected
    // plans asynchronously: collect, give it a moment, collect again
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    System.gc()
    val heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    tracer.off()
    for (i <- 1 to SetUpRepeats) setUpS += timeS(w.setUp(i))
    val checkT0 = System.nanoTime()
    val checks = w.checkPass()
    val checkS = (System.nanoTime() - checkT0) / 1e9
    val result = Map(
      "workload" -> workload, "cpus" -> cpus, "session_s" -> sessionS,
      "workload_setup_s" -> setUpS, "passes" -> passes, "ops" -> opRecs,
      "heap_live_mb" -> heapLiveMb, "host_micro_s" -> hostMicroS,
      "check_s" -> checkS, "checks" -> checks, "trace" -> tracer.dump())
    json.writeValue(new File(s"$outDir/result.json"), result)
    spark.stop()
  }

  /** Seconds `body` takes, followed by `graft.Bench`'s cleanup. */
  def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    val dt = (System.nanoTime() - t0) / 1e9
    cleanup(SparkSession.active)
    dt
  }

  /** `graft.Bench`'s cleanup between queries: drop cached plans and
    * unpersist every registered RDD (cache and localCheckpoint blocks).
    */
  def cleanup(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))
  }

  /** `graft.Bench`'s host constant: a fixed single-thread xorshift loop. */
  def hostMicroOnce(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < (1L << 26)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x += i; i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("")
    dt
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirBytes(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toSeq)
      .sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
  }
}

/** JVM-wide counters sampled around each pass. */
object Counters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala

  final case class Snap(cpuNs: Long, jitMs: Long, gcMs: Long, gcCount: Long,
      compiles: Long, compileNs: Long) {
    def minus(o: Snap): Map[String, Any] = Map(
      "cpu_s" -> (cpuNs - o.cpuNs) / 1e9, "jit_ms" -> (jitMs - o.jitMs),
      "gc_ms" -> (gcMs - o.gcMs), "gc_count" -> (gcCount - o.gcCount),
      "codegen_compiles" -> (compiles - o.compiles),
      "codegen_compile_ms" -> (compileNs - o.compileNs) / 1e6)
  }

  def cpuNs(): Long = os.getProcessCpuTime

  def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def now(): Snap = {
    val (compiles, compileNs) = codegen()
    Snap(cpuNs(), jit.getTotalCompilationTime,
      gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum, compiles, compileNs)
  }
}

/** One operation of a pass: a name, a kind (the cost class it is
  * summed into), the call, and extra fields for its record.
  */
final case class Op(name: String, kind: String, body: () => Unit,
    record: () => Map[String, Any] = () => Map.empty)

trait Workload {
  /** Set-up 0 builds what the passes use; a repeat (i > 0) does the
    * same work again under throwaway paths. */
  def setUp(i: Int): Unit
  def ops(pass: Int): Seq[Op]
  def maxPasses: Int = Int.MaxValue
  def checkPass(): Map[String, Any]
}
