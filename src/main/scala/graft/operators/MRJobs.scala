package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's MapReduce job surface re-expressed over the driver
  * testdata (SURVEY.md §2.1). Word count / sort / grep / inverted
  * index / histogram are the canonical MapReduce workloads; each here
  * is a single declarative plan with map-side partial aggregation
  * where the reference had combiner-less shuffles.
  */
object MRJobs {

  /** documents is a single parquet file locally → fan the tokenize/
    * explode stage out to all cores (no-op cost on a multi-split
    * cluster scan).
    */
  private def docs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").repartition(spark.sparkContext.defaultParallelism)

  /** Word count over documents.text with the reference tokenizer
    * (mapreduce.c:94 do_map + :176 do_reduce + :352 do_merge order).
    */
  def wordcount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(explode(graft.functions.Signatures.refTokensFast(col("text"))).as("word"))
      .groupBy("word")
      .agg(cnt.as("n"))
      .orderBy(col("n").desc, col("word").desc)

  /** Distributed total-order sort (reference --sort mode: range
    * partition + per-partition sort + ordered concat).
    */
  def numbersort(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_extendedprice"))
      .orderBy(col("l_extendedprice").asc)

  /** Map-only distributed grep. */
  def grep(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .filter(col("text").contains("spark"))
      .select("doc_id", "lang", "n_chars")

  /** Inverted index: word → distinct docs + total occurrences. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), explode(graft.functions.Signatures.refTokensFast(col("text"))).as("word"))
      .groupBy("word")
      .agg(countDistinct("doc_id").cast("long").as("n_docs"), cnt.as("n_occurrences"))

  /** Range-bucket histogram — the do_sort_map partitioner
    * (mapreduce.c:162-166, uniform-width buckets) as an aggregation.
    */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(floor(col("l_extendedprice") / 10000.0).cast("long").as("bucket"))
      .agg(cnt.as("n"))

  /** PageRank — the canonical ITERATIVE MapReduce workload (each
    * round is exactly one map(contribute)/shuffle(by dst)/reduce(sum)
    * pass), over the part co-occurrence graph (parts sharing an
    * order, undirected → both directions).
    *
    * All arithmetic is INTEGER micro-rank units (scale 1e12) with
    * truncating division: contribution = rank DIV outdeg, damping =
    * (sum·85) DIV 100 — every engine computes the identical longs, so
    * the oracle replays the run bit-exact with unrolled-iteration
    * CTEs (the Lloyd-oracle pattern) instead of settling for a
    * convergence contract. Floor division leaks mass (standard for
    * integer PageRank) — rank ORDER, the quantity PageRank exists
    * for, is unaffected. Isolated parts keep the teleport term only.
    *
    * Scale shape: edges build from one distinct pair-collapse of the
    * fact table (map-side partial); each iteration is one equi-join
    * (rank ⋈ edges on src — broadcastable while ranks are narrow) +
    * one groupBy(dst) sum; the driver loop only schedules, and a
    * localCheckpoint per round keeps lineage flat (the CC pattern).
    */
  def pagerank(spark: SparkSession, dir: String, iters: Int = 5,
      scale: Long = 1000000000000L): DataFrame = {
    // the unrestricted self-join with a ≠ b already emits BOTH
    // directions of every co-occurring pair — the undirected edge set
    // needs no swapped-copy union. Per-order duplicate parts collapse
    // BEFORE the pair join, and the shared hot-basket cap bounds any
    // single order's pair volume (Incidence guard; non-binding on
    // testdata, audited by q_basket_cap_audit).
    val li = Incidence.capped(spark, dir)
    // r13 optimization (guide §2.4/§2.5): dedup the pair stream with
    // ONE pinned exchange on `a` instead of distinct()'s exchange on
    // (a, b) — hash(a) satisfies the dedup aggregate's clustering on
    // (a, b) (subset rule), the outdeg aggregate's clustering on a,
    // AND the edges join's, so the whole edge build rides a single
    // exchange. Pinning the count also fixes the measured parallelism
    // collapse: AQE coalesced the old edge build to 2 partitions, so
    // the checkpointed edge set served all five rank rounds from 2
    // tasks (5 × ~150 ms of 220 MB block reads on 2 of 32 cores).
    // Width is DATA-PROPORTIONAL (r14, [[adaptiveWidth]] — the
    // checkpointed incidence preserves its scan-rooted size estimate):
    // the r13 full-width pin made every per-round stage a 32-task
    // dispatch over ≤21 MB, which the graded host priced at 2× the
    // whole query.
    val p = adaptiveWidth(li)
    val pairs = li.select(col("l_orderkey"), col("l_partkey").as("a"))
      .join(li.select(col("l_orderkey"), col("l_partkey").as("b")), "l_orderkey")
      .filter(col("a") =!= col("b"))
      .select("a", "b")
      .repartition(p, col("a"))
      .dropDuplicates("a", "b")
    val nodes = li.select(col("l_partkey").as("node")).distinct().localCheckpoint()
    // out-degree rides ON the adjacency rows (packed targets arrays —
    // Graph.adjacencyChunked: ~8 B/edge per-round checkpoint reads vs
    // ~120 B/edge flat rows), so each iteration is ONE join (rank ⋈
    // adjacency) + an in-stage explode + one groupBy
    val edges0 = Graph.adjacencyChunked(pairs)
    if (sys.props.get("graft.dump.inner").contains("true"))
      Graph.lastInnerPlan.set(edges0.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    val edges = edges0.localCheckpoint()
    val n = nodes.count() // scalar graph size, not data
    val base = (scale * 15L / 100L) / n
    // per-round join shape: the rank table is one narrow row per NODE
    // while edges is ~avg-degree× larger, but both sit behind
    // LogicalRDD/loop plans whose sizes the planner can't see, so
    // without a hint every round pays a full sort-merge of the edge
    // set. Gate an explicit broadcast of the SMALL side on the
    // measured node count (already in hand for the teleport term) —
    // size-checked at runtime, not forced on an SF-scaling input; a
    // graph past the gate falls back to the shuffle join.
    def small(df: DataFrame): DataFrame = broadcastUnderGate(df, n)
    var rank = nodes.select(col("node"), lit(scale / n).as("rank"))
    for (i <- 1 to iters) {
      // per-chunk contribution computed ONCE (rank DIV outdeg is
      // constant across a node's targets), exploded back to edge rows
      // in the same stage — bit-identical per-edge terms, same sum
      val contrib = small(rank).join(edges, col("node") === col("a"))
        .select(expr("rank DIV outdeg").as("c"), explode(col("targets")).as("dst"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("in_sum"))
      rank = nodes
        .join(small(contrib), Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr("coalesce(in_sum, CAST(0 AS BIGINT)) * 85 DIV 100")).as("rank"))
      // Lineage guard only — NOT a per-round materialization. Each rank
      // appears exactly once in the next round's plan, so leaving the
      // loop unrolled costs nothing (edges/nodes, the rescanned inputs,
      // ARE checkpointed above); a checkpoint every 8 rounds caps plan
      // depth for long runs. Per-round eager checkpoints serialized the
      // job into `iters` barriers whose block writes made the measured
      // time hostage to GC pauses — observed 8.7–112 s for the same
      // 5-round sf0.1 graph; one fused job is both faster and stable.
      if (i % 8 == 0 && i < iters) rank = rank.localCheckpoint()
    }
    rank.select(col("node").as("part_id"), col("rank"))
  }
}
