package graft.core

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Typed MapReduce facade — the reference's programming model
  * (mapreduce.c:94 do_map, :176 do_reduce, :352 do_merge) re-expressed
  * on Dataset. The reference hash-partitions by `hash<string>() %
  * num_reducers` and combines per-partition; Spark's groupByKey +
  * reduceGroups gives the same shuffle-by-key-hash with map-side
  * partial aggregation handled by the planner. `do_sort_map`'s
  * range-partitioning (mapreduce.c:138) maps to `orderBy`, which plans
  * a RangePartitioning exchange with sampled bounds — the same idea
  * but skew-robust.
  *
  * This facade exists for API parity; production operators in
  * graft.operators use DataFrame expressions directly so Catalyst can
  * push filters/prune columns through the whole plan.
  */
object MapReduce {

  /** map → shuffle-by-key → reduce. Equivalent of one full reference
    * job (map + reduce stages).
    */
  def run[I, K: Encoder, V](input: Dataset[I])(
      mapper: I => IterableOnce[(K, V)])(
      reducer: (V, V) => V)(implicit
      kv: Encoder[(K, V)]): Dataset[(K, V)] =
    input
      .flatMap(mapper)
      .groupByKey(_._1)
      .reduceGroups((a, b) => (a._1, reducer(a._2, b._2)))
      .map(_._2)

  /** Total-order sort = reference `--sort` mode: range-partition
    * (do_sort_map, mapreduce.c:138) + per-partition sort
    * (do_sort_reduce, :220) + in-order concat (do_sort_merge, :405).
    */
  def totalSort[T](input: Dataset[T], ascending: Boolean = true): Dataset[T] = {
    val first = col(input.columns.head) // primitive Datasets: "value"
    input.orderBy(if (ascending) first.asc else first.desc)
  }

  /** The reference merge stage writes ONE consolidated output file
    * (do_merge, mapreduce.c:352). On Spark that is a coalesce(1) sink —
    * only ever for final small results, never mid-plan.
    */
  def mergeToSingleFile(ds: Dataset[_], path: String): Unit =
    ds.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** Reference tokenizer (mapreduce.c:110-130): split lines on ' ',
    * keep only ASCII letters of each token, lowercase, drop empties.
    * "don't" → "dont", "end." → "end".
    */
  def referenceTokens(line: String): Seq[String] =
    line.split(' ').toIndexedSeq
      .map(_.filter(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')).toLowerCase(java.util.Locale.ROOT))
      .filter(_.nonEmpty)

  /** End-to-end reference word-count job over a directory of text
    * files, producing (word, count) ordered like do_merge
    * (mapreduce.c:393-399): by count desc, then word desc.
    */
  def wordCount(spark: SparkSession, inputDir: String): Dataset[(String, Long)] = {
    import spark.implicits._
    spark.read.textFile(inputDir)
      .select(explode(split(col("value"), " ")).as("token"))
      .select(lower(regexp_replace(col("token"), "[^A-Za-z]", "")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").desc)
      .as[(String, Long)]
  }

  /** End-to-end reference number-sort job: read integers (one per
    * whitespace token), globally sort ascending.
    */
  def numberSort(spark: SparkSession, inputDir: String): Dataset[Int] = {
    import spark.implicits._
    spark.read.textFile(inputDir)
      .select(explode(split(trim(col("value")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .select(col("token").cast("int").as("n"))
      .orderBy(col("n").asc)
      .as[Int]
  }
}
