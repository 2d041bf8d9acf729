package graft

import org.apache.spark.sql.functions._

/** Sanity/invariant checks per operator family at sf0.001. Value-level
  * correctness is enforced by the DuckDB oracle gate (tools/check.py);
  * these specs pin schemas, determinism, and structural invariants.
  */
class OperatorSpec extends SparkSpec {

  test("every SparkEntry query runs and yields a stable schema + rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      withClue(s"$name: ") {
        assert(df.schema.nonEmpty)
        // dedup/similarity queries may legitimately be empty at tiny SF,
        // everything else must produce rows
        if (!name.startsWith("dedup_") && !name.startsWith("ann_"))
          assert(n > 0, s"returned $n rows")
      }
    }
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracle for unknown queries: $unknown")
  }

  test("q1 money aggregates are identical under different partitioning") {
    val a = operators.Relational.q1Agg(spark, sf).orderBy("l_returnflag", "l_linestatus").collect()
    val b = operators.Relational.q1Agg(spark, sf).repartition(7).orderBy("l_returnflag", "l_linestatus").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("q3_topk is deterministically ordered and bounded") {
    val rows = operators.Relational.q3Topk(spark, sf).collect()
    assert(rows.length <= 10)
    val revs = rows.map(_.getDouble(1))
    assert(revs.sameElements(revs.sortBy(-(_: Double))))
  }

  test("window rank never exceeds 3 and covers every priority") {
    val df = operators.Relational.qWindowRank(spark, sf)
    assert(df.agg(max("rnk")).head.getLong(0) <= 3)
    assert(df.select("o_orderpriority").distinct().count() === 5)
  }

  test("rollup has the grand-total row") {
    val df = operators.Relational.qRollup(spark, sf)
    val total = df.filter(col("l_returnflag").isNull && col("l_linestatus").isNull)
    assert(total.count() === 1)
    val n = total.head.getAs[Long]("n")
    assert(n === core.Tables.load(spark, sf, "lineitem").count())
  }

  test("semijoin + antijoin partition the customer set") {
    val semi = operators.Relational.qSemijoin(spark, sf)
      .agg(sum("n_customers")).head.getLong(0)
    val anti = operators.Relational.qAntijoin(spark, sf).count()
    val withBig = core.Tables.load(spark, sf, "customer")
      .join(core.Tables.load(spark, sf, "orders").filter(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"), "left_semi").count()
    assert(anti + withBig === core.Tables.load(spark, sf, "customer").count())
    assert(semi <= core.Tables.load(spark, sf, "customer").count())
  }

  test("salted join equals the plain join") {
    val salted = operators.SkewJoin.qSaltedJoin(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val events = core.Tables.load(spark, sf, "events")
    val customer = core.Tables.load(spark, sf, "customer")
    val plain = events.join(customer, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(operators.cnt.as("n"), operators.sumMoney(col("value")).as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(salted.toSeq === plain.toSeq)
  }

  test("dup clusters: pair endpoints land in the same cluster, label is min member") {
    val pairs = dedup.Dedup.ngramJaccard(spark, sf).collect()
    val clusters = dedup.Dedup.clusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { p =>
      assert(clusters(p.getLong(0)) === clusters(p.getLong(1)), p.toString)
    }
    clusters.foreach { case (id, label) => assert(label <= id) }
  }

  test("alternating-star CC equals min-label propagation on the real pair graph") {
    val pairs = dedup.Dedup.ngramJaccard(spark, sf)
    val stars = dedup.Dedup.dupClustersStars(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val prop = dedup.Dedup.dupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stars === prop)
  }

  test("alternating-star CC keeps self-pair-only nodes as singletons") {
    import TestSpark.spark.implicits._
    val pairs = Seq((7L, 7L), (1L, 2L)).toDF("id_a", "id_b")
    val got = dedup.Dedup.dupClustersStars(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((7L, 7L), (1L, 1L), (2L, 1L)))
  }

  test("over-gate star loop equals the gated driver union-find, label for label") {
    import TestSpark.spark.implicits._
    // localGate = 0 forces the distributed star path on the same pairs
    // the default (gated) call solves driver-side — the two paths must
    // be result-identical (the r14 LocalCcPairGate contract)
    val pairs = Seq((7L, 7L), (1L, 2L), (2L, 9L), (4L, 5L), (11L, 3L),
      (3L, 9L)).toDF("id_a", "id_b")
    val viaLocal = dedup.Dedup.dupClustersStars(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaStars = dedup.Dedup.dupClustersStars(pairs, localGate = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLocal === viaStars)
  }

  test("alternating-star CC handles a diameter-40 chain in O(log^2 n) rounds") {
    import TestSpark.spark.implicits._
    // a 41-node chain: diameter 40 — min-label propagation would need
    // 40 rounds (and throws past its default maxIter), the star
    // algorithm converges within its default 25
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = dedup.Dedup.dupClustersStars(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === (0L to 40L).map(i => (i, 0L)).toSet)
  }

  test("stats aggregates yield NULL (not ANSI divide-by-zero) on degenerate groups") {
    // single-row table → n=1 → var/stddev/corr must be NULL
    val tmp = java.nio.file.Files.createTempDirectory("graft-degenerate").toString
    core.Tables.load(spark, sf, "lineitem").limit(1)
      .write.parquet(s"$tmp/lineitem.parquet")
    val row = operators.Relational2.qStatsAgg(spark, tmp).collect()
    assert(row.length === 1)
    assert(row(0).isNullAt(row(0).fieldIndex("var_x")))
    assert(row(0).isNullAt(row(0).fieldIndex("corr_xy")))
  }

  test("approx_count_distinct within 5% of exact") {
    // raw sketch error bound (the operator's output carries the
    // contract boolean; here the raw values are checked directly)
    core.Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).cast("long").as("approx"),
        countDistinct(col("l_partkey")).cast("long").as("exact"))
      .collect().foreach { r =>
        val (approx, exact) = (r.getAs[Long]("approx").toDouble, r.getAs[Long]("exact").toDouble)
        assert(math.abs(approx - exact) / exact < 0.05, s"$approx vs $exact")
      }
    assert(operators.Relational2.qApproxDistinct(spark, sf)
      .filter(!col("sketch_within_5pct")).count() === 0)
  }

  test("sessionize: session and event counts are consistent") {
    val df = operators.Relational.qSessionize(spark, sf)
    assert(df.filter(col("n_sessions") > col("n_events")).count() === 0)
    assert(df.filter(col("n_sessions") < 1).count() === 0)
  }

  test("range join: bin-and-filter matches the naive inequality join") {
    import operators.RangeJoin
    val ev = core.Tables.load(spark, sf, "events")
    val win = ev.filter(col("event_type") === "purchase" && col("value") > 150.0)
      .select(col("event_id").as("win_id"),
        (col("ts") - expr("INTERVAL 15 MINUTES")).as("ws"),
        (col("ts") + expr("INTERVAL 15 MINUTES")).as("we"))
    val binned = RangeJoin.rangeJoin(win, col("win_id"), col("ws"), col("we"),
        ev, col("ts"), Seq("event_id" -> col("event_id")), binSeconds = 900L)
      .select("_id", "event_id")
    val naive = ev.select(col("ts"), col("event_id"))
      .join(win, col("ts") >= col("ws") && col("ts") < col("we"))
      .select(col("win_id").as("_id"), col("event_id"))
    assert(binned.exceptAll(naive).isEmpty && naive.exceptAll(binned).isEmpty)
    // boundaries: the anchor purchase itself is inside its own window;
    // a probe exactly at `we` is excluded (half-open)
    assert(binned.filter(col("_id") === col("event_id")).count() === win.count())
  }

  test("range join: null times and inverted intervals never match") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val ivSchema = StructType(Seq(StructField("id", LongType), StructField("s", TimestampType),
      StructField("e", TimestampType)))
    val iv = spark.createDataFrame(java.util.List.of(
      Row(1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00")),
      Row(2L, null, ts("2024-01-01 01:00:00")),       // null start
      Row(3L, ts("2024-01-01 02:00:00"), ts("2024-01-01 01:00:00"))), // inverted
      ivSchema)
    val pSchema = StructType(Seq(StructField("t", TimestampType), StructField("pid", LongType)))
    val p = spark.createDataFrame(java.util.List.of(
      Row(ts("2024-01-01 00:30:00"), 10L),
      Row(ts("2024-01-01 01:00:00"), 11L),  // == end, half-open → excluded
      Row(null, 12L)), pSchema)
    val out = operators.RangeJoin.rangeJoin(iv, col("id"), col("s"), col("e"),
      p, col("t"), Seq("pid" -> col("pid")), binSeconds = 600L).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("_id") === 1L && out(0).getAs[Long]("pid") === 10L)
  }

  test("TotalOrderRank equals the single-window row_number on a unique key") {
    import org.apache.spark.sql.functions.{col, row_number}
    val keys = Seq(col("o_totalprice").asc, col("o_orderkey").asc)
    val orders = core.Tables.load(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    val dist = operators.TotalOrderRank.withGlobalRank(spark, orders, keys, "r")
      .select("o_orderkey", "r").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy(keys: _*)
    val single = orders.withColumn("r", row_number().over(w).cast("long"))
      .select("o_orderkey", "r").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === single)
  }

  test("persisted IVF index: identical results, probe reads only its partitions") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-index").toString
    similarity.Ann.buildIvfIndex(spark, sf, idx)
    val indexed = similarity.Ann.ivfTopKIndexed(spark, idx)
    val inSession = similarity.Ann.ivfTopK(spark, sf)
    assert(indexed.collect().map(_.toSeq).toSet === inSession.collect().map(_.toSeq).toSet)
    // the probed cid set must prune the partitioned scan
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid"), plan.take(2000))
  }

  test("persisted binary index: 16B rows, identical results, append == rebuild") {
    import org.apache.spark.sql.functions.{col => c}
    val idx = java.nio.file.Files.createTempDirectory("graft-bin-index").toString
    similarity.Ann.buildBinaryIndex(spark, sf, idx)
    // the index IS (vec_id, w) — one long of sign bits per vector
    assert(spark.read.parquet(idx).schema.fieldNames.sorted.toSeq === Seq("vec_id", "w"))
    val indexed = similarity.Ann.binaryTopKIndexed(spark, sf, idx)
    val inSession = similarity.Ann.binaryTopK(spark, sf)
    assert(indexed.collect().map(_.toSeq).toSet === inSession.collect().map(_.toSeq).toSet)
    // sign bits have no trained state, so an appended index is
    // IDENTICAL to a full rebuild — stronger than IVF's no-retrain
    // approximation
    val all = core.Tables.load(spark, sf, "embeddings")
    val tmp = java.nio.file.Files.createTempDirectory("graft-bin-base").toString
    all.filter(c("vec_id") >= 3).write.parquet(s"$tmp/embeddings.parquet")
    val idx2 = java.nio.file.Files.createTempDirectory("graft-bin-append").toString
    similarity.Ann.buildBinaryIndex(spark, tmp, idx2)
    similarity.Ann.appendToBinaryIndex(idx2, all.filter(c("vec_id") < 3))
    val rebuilt = spark.read.parquet(idx).collect().map(_.toSeq).toSet
    val appended = spark.read.parquet(idx2).collect().map(_.toSeq).toSet
    assert(appended === rebuilt, "appended index == full rebuild, bit for bit")
  }

  test("persisted IVF-PQ index: codes-only lists, pruned probes, identical results") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-index").toString
    similarity.Ann.buildIvfPqIndex(spark, sf, idx)
    // the index stores 8-byte codes, never vectors — the ~30x size
    // claim rests on the lists schema having no v column
    val lists = spark.read.parquet(s"$idx/lists")
    assert(lists.schema.fieldNames.sorted.toSeq === Seq("cid", "codes", "vec_id"))
    val indexed = similarity.Ann.ivfpqTopKIndexed(spark, sf, idx)
    val inSession = similarity.Ann.ivfpqTopK(spark, sf)
    assert(indexed.collect().map(_.toSeq).toSet === inSession.collect().map(_.toSeq).toSet)
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid"), plan.take(2000))
  }

  test("IVF index append: new vectors assigned to existing centroids and queryable") {
    import org.apache.spark.sql.functions.{col => c}
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    // build on vec_id >= 3, then append the held-out 0..2 batch
    val all = core.Tables.load(spark, sf, "embeddings")
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-base").toString
    all.filter(c("vec_id") >= 3).write.parquet(s"$tmp/embeddings.parquet")
    similarity.Ann.buildIvfIndex(spark, tmp, idx)
    val before = spark.read.parquet(s"$idx/lists").count()
    similarity.Ann.appendToIvfIndex(spark, idx, all.filter(c("vec_id") < 3))
    val lists = spark.read.parquet(s"$idx/lists")
    assert(lists.count() === before + 3)
    // appended vectors carry valid list assignments (their nearest
    // existing centroid) and are normalized like the rest
    val appended = lists.filter(c("vec_id") < 3).collect()
    assert(appended.length === 3 && appended.forall(!_.isNullAt(appended.head.fieldIndex("cid"))))
    // queries against the appended index see the new vectors: the
    // query set IS vec_id < nQueries, so each finds neighbors
    val res = similarity.Ann.ivfTopKIndexed(spark, idx, nQueries = 3, k = 2)
    assert(res.groupBy("q_id").count().count() === 3)
  }

  test("dedup_semantic: matches a brute-force within-cluster keep-lowest-id reference") {
    val got = dedup.Dedup.semanticDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // independent reference: same deterministic quantizer, rule applied
    // naively over collected rows (500 vectors at this SF)
    val corpus = similarity.Ann.emb(spark, sf).cache()
    val cs = similarity.Ann.trainQuantizer(corpus, 16, 2)
    val rows = corpus.withColumn("cid", similarity.Ann.nearestUdf(cs)(col("v")))
      .select("vec_id", "cid", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .sortBy(_._1)
    corpus.unpersist()
    def cos(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val expect = rows.filter { case (id, cid, v) =>
      !rows.exists { case (id2, cid2, v2) =>
        id2 < id && cid2 == cid && cos(v2, v) >= 0.35
      }
    }.map { case (id, cid, _) => (id, cid.toLong) }.toSet
    assert(got === expect)
    assert(got.size < rows.length, "the pass should drop at least one near-dup")
  }

  test("ann_quantized: binary int8 storage, exact agreement with brute force") {
    // the quantized column must really be 1 byte/component (BinaryType),
    // not an int array — that's the whole 100 TB bandwidth claim
    val corpus = core.Tables.load(spark, sf, "embeddings")
      .select(similarity.Ann.quantizeUdf(col("embedding")).as("qz"))
    assert(corpus.select(col("qz._1")).schema.head.dataType ===
      org.apache.spark.sql.types.BinaryType)
    // int8 + top-20 candidate cut + exact re-rank reproduces the exact
    // top-k on this corpus (deterministic: pinned, not probabilistic)
    val brute = similarity.Ann.bruteforceTopK(spark, sf).collect().map(_.toSeq).toSet
    val quant = similarity.Ann.quantizedTopK(spark, sf).collect().map(_.toSeq).toSet
    assert(quant === brute)
  }

  test("ann_pq: 8-byte codes, deterministic training, recall vs brute force") {
    // the serving shape's whole point: each corpus vector is reduced to
    // 8 codeword ids in [0,16) — one nibble of information per subspace
    val books = similarity.Ann.trainPq(similarity.Ann.emb(spark, sf))
    assert(books.length === 8 && books.forall(_.length === 16) &&
      books.forall(_.forall(_.length === 8)))
    val pq1 = similarity.Ann.pqTopK(spark, sf)
    val pq2 = similarity.Ann.pqTopK(spark, sf)
    val got1 = pq1.select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got2 = pq2.select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got1 === got2, "PQ training + serving must be reproducible run-to-run")
    val brute = similarity.Ann.bruteforceTopK(spark, sf)
      .select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect got1).size.toDouble / brute.size
    info(f"ann_pq recall vs brute force: $recall%.3f")
    // 64x compression (512B float64 -> 8B codes) keeps most of the
    // neighborhood through the nCand=50 re-rank cut; measured
    // deterministic value at this SF is 0.80
    assert(recall >= 0.75, s"recall $recall")
  }

  test("q_session_window agrees with the window-lag sessionization per user") {
    // native batch session_window counts the same sessions as the lag
    // chain (their gap boundaries differ only at EXACTLY 1800 s —
    // > vs >= — and this corpus has no such gap, verified in duckdb)
    val native = operators.Relational3.qSessionWindow(spark, sf)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lagged = operators.Relational.qSessionize(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_sessions")).toMap
    assert(native === lagged)
  }

  test("q_skyline: exactly the non-dominated set, any partitioning") {
    val all = core.Tables.load(spark, sf, "part")
      .select("p_partkey", "p_retailprice", "p_size").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    // brute-force weak-dominance reference on the collected table
    val expected = all.filter { case (_, pa, sa) =>
      !all.exists { case (_, pb, sb) =>
        pb <= pa && sb >= sa && (pb < pa || sb > sa)
      }
    }.map(_._1).toSet
    val got = operators.Relational3.qSkyline(spark, sf).collect()
      .map(_.getAs[Long]("p_partkey")).toSet
    assert(got === expected)
    // the two-phase result must not depend on how stage 1 partitioned:
    // shrink the scan split size so the INPUT arrives in many more
    // partitions (the q_countmin partition-independence pattern) —
    // different local sweeps, same global frontier
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, (16 * 1024).toString)
      val again = operators.Relational3.qSkyline(spark, sf).collect()
        .map(_.getAs[Long]("p_partkey")).toSet
      assert(again === expected, "input partitioning changed the frontier")
    } finally spark.conf.set(key, prev)
  }

  test("ann_ivfpq: probe-restricted ADC candidates, deterministic, recall tracks IVF") {
    val ivfpq1 = similarity.Ann.ivfpqTopK(spark, sf)
    val ivfpq2 = similarity.Ann.ivfpqTopK(spark, sf)
    val got1 = ivfpq1.select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got2 = ivfpq2.select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got1 === got2, "IVF-PQ training + serving must be reproducible run-to-run")
    // IVF-PQ can never out-recall its own coarse quantizer (candidates
    // come only from the probed lists), and the PQ cut costs little on
    // top — pin both sides of that envelope
    val brute = similarity.Ann.bruteforceTopK(spark, sf)
      .select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = similarity.Ann.ivfTopK(spark, sf)
      .select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallIvfpq = (brute intersect got1).size.toDouble / brute.size
    val recallIvf = (brute intersect ivf).size.toDouble / brute.size
    info(f"ann_ivfpq recall $recallIvfpq%.3f vs ann_ivf $recallIvf%.3f")
    assert(recallIvfpq <= recallIvf + 1e-9)
    assert(recallIvfpq >= recallIvf - 0.2, s"PQ cut lost too much: $recallIvfpq vs $recallIvf")
  }

  test("q_countmin: contracts hold and estimates are partition-independent") {
    val r = operators.Relational2.qCountMin(spark, sf).collect()
    assert(r.length === 1)
    val row = r(0)
    assert(row.getAs[Boolean]("never_underestimates"))
    assert(row.getAs[Boolean]("mostly_within_eps"))
    // the sketch merge is commutative: rebuilding with a DIFFERENT scan
    // partitioning (smaller split size → more input partitions → a
    // different merge tree) must yield the identical contract row
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, (64 * 1024).toString)
      val again = operators.Relational2.qCountMin(spark, sf).collect()(0)
      assert(again.toSeq === row.toSeq)
    } finally spark.conf.set(key, prev)
  }

  test("ann_ivf: deterministic and recall comparable to probing 1/4 of the lists") {
    val brute = similarity.Ann.bruteforceTopK(spark, sf)
      .select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf1 = similarity.Ann.ivfTopK(spark, sf)
    val ivf2 = similarity.Ann.ivfTopK(spark, sf)
    val got1 = ivf1.select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got2 = ivf2.select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got1 === got2, "IVF results must be reproducible run-to-run")
    val recall = (brute intersect got1).size.toDouble / brute.size
    // near-uniform corpus: nProbe=4 of 16 lists scans ~1/4 of the data;
    // bound set from the measured deterministic value at this SF
    assert(recall >= 0.25, s"recall $recall")
    // every reported neighbor really is in a probed list of its query —
    // sanity: scores are true cosines, descending per query
    ivf1.collect().groupBy(_.getLong(0)).values.foreach { rows =>
      val ordered = rows.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("cosine"))
      assert(ordered.sameElements(ordered.sorted(Ordering[Double].reverse)))
    }
  }
}
