package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{MRJobs, Relational, TextAnalysis}
import graft.dedup.Dedup
import graft.similarity.Ann
import graft.multimodal.Multimodal

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q3Topk(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 reference-derived MapReduce surface
    "mr_wordcount" -> (MRJobs.wordcount _),
    "mr_numbersort" -> (MRJobs.numbersort _),
    "mr_grep" -> (MRJobs.grep _),
    "mr_inverted_index" -> (MRJobs.invertedIndex _),
    "mr_histogram" -> (MRJobs.histogram _),
    "mr_pagerank" -> ((s: SparkSession, d: String) => MRJobs.pagerank(s, d)),
    "graph_triangles" -> (operators.Graph.triangles _),
    "graph_bfs" -> ((s: SparkSession, d: String) => operators.Graph.bfs(s, d)),
    // §2.2 relational battery
    "q1_agg" -> (Relational.q1Agg _),
    "q3_topk" -> (Relational.q3Topk _),
    "q5_multijoin" -> (Relational.q5Multijoin _),
    "q_broadcast_join" -> (Relational.qBroadcastJoin _),
    "q_semijoin" -> (Relational.qSemijoin _),
    "q_antijoin" -> (Relational.qAntijoin _),
    "q_distinct" -> (Relational.qDistinct _),
    "q_setops" -> (Relational.qSetops _),
    "q_window_rank" -> (Relational.qWindowRank _),
    "q_topk_per_group" -> (Relational.qTopkPerGroup _),
    "q_rollup" -> (Relational.qRollup _),
    "q_pivot" -> (Relational.qPivot _),
    "q_scalar_subquery" -> (Relational.qScalarSubquery _),
    "q_percentile" -> (Relational.qPercentile _),
    "q_string_funcs" -> (Relational.qStringFuncs _),
    "q_date_funcs" -> (Relational.qDateFuncs _),
    "q_json_extract" -> (Relational.qJsonExtract _),
    "q_sessionize" -> (Relational.qSessionize _),
    "q_window_tumbling" -> (Relational.qWindowTumbling _),
    "q_skew_agg" -> (Relational.qSkewAgg _),
    "q_asof_join" -> (operators.AsofJoin.qAsofJoin _),
    "q_moving_avg" -> (operators.Relational2.qMovingAvg _),
    "q_ntile" -> (operators.Relational2.qNtile _),
    "q_cume_dist" -> (operators.Relational2.qCumeDist _),
    "q_correlated_subquery" -> (operators.Relational2.qCorrelatedSubquery _),
    "q_array_agg" -> (operators.Relational2.qArrayAgg _),
    "q_null_funcs" -> (operators.Relational2.qNullFuncs _),
    "q_cross_join" -> (operators.Relational2.qCrossJoin _),
    "q_cube" -> (operators.Relational2.qCube _),
    "q_sample" -> (operators.Relational2.qSample _),
    "q_profile" -> (operators.Profile.qProfile _),
    "q_mode" -> (operators.Relational3.qMode _),
    "q_window_distinct" -> (operators.Relational3.qWindowDistinct _),
    "q_incremental_agg" -> (operators.Relational3.qIncrementalAgg _),
    "q_winsorize" -> ((s: SparkSession, d: String) => operators.Relational3.qWinsorize(s, d)),
    "q_outliers" -> ((s: SparkSession, d: String) => operators.Relational3.qOutliers(s, d)),
    "q_skyline" -> (operators.Relational3.qSkyline _),
    "q_session_window" -> (operators.Relational3.qSessionWindow _),
    "q_fuzzy_join" -> ((s: SparkSession, d: String) => operators.FuzzyJoin.qFuzzyJoin(s, d)),
    "q_drift" -> (operators.Relational3.qDrift _),
    "q_market_basket" -> ((s: SparkSession, d: String) => operators.Relational3.qMarketBasket(s, d)),
    "q_rfm" -> ((s: SparkSession, d: String) => operators.Relational3.qRfm(s, d)),
    "q_dq_audit" -> (operators.Relational3.qDqAudit _),
    // no-silent-caps audit for the co-occurrence hot-basket guard
    // shared by mr_pagerank / graph_triangles / graph_bfs /
    // q_market_basket: proves the cap is non-binding on this corpus
    // (n_hot_baskets = 0) and surfaces what it would shed if it bound
    "q_basket_cap_audit" -> ((s: SparkSession, d: String) => operators.Incidence.capAudit(s, d)),
    "q_standardize" -> (operators.Relational3.qStandardize _),
    // deterministic 90/10 split by key hash — the reproducible
    // train/test partition every training pipeline needs; the audit
    // output is per-split per-label counts (distribution preservation
    // is the thing to check). Narrow map + one keyed aggregate.
    "q_train_test_split" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.core.Tables.load(s, d, "embeddings")
        .select(col("label"),
          when(pmod(xxhash64(col("vec_id")), lit(10)) === 0, "test")
            .otherwise("train").as("split"))
        .groupBy("split", "label").agg(count(lit(1)).cast("long").as("n"))
    }),
    "q_weighted_sample" -> ((s: SparkSession, d: String) => operators.Profile.qWeightedSample(s, d)),
    "q_approx_distinct" -> (operators.Relational2.qApproxDistinct _),
    "q_approx_percentile" -> (operators.Relational2.qApproxPercentile _),
    "q_countmin" -> ((s: SparkSession, d: String) => operators.Relational2.qCountMin(s, d)),
    "q_freq_items" -> ((s: SparkSession, d: String) => operators.Relational2.qFreqItems(s, d)),
    "q_hll_union" -> (operators.Relational2.qHllUnion _),
    "q_salted_join" -> (operators.SkewJoin.qSaltedJoin _),
    "q_topk_native" -> (operators.Relational2.qTopkNative _),
    "q_having" -> (operators.Relational2.qHaving _),
    "q_stats_agg" -> (operators.Relational2.qStatsAgg _),
    "q_window_nav" -> (operators.Relational2.qWindowNav _),
    "q_string_agg" -> (operators.Relational2.qStringAgg _),
    "q_regex" -> (operators.Relational2.qRegex _),
    "q_arg_max" -> (operators.Relational2.qArgMax _),
    "q_outer_join" -> (operators.Relational2.qOuterJoin _),
    "q_range_join" -> (operators.RangeJoin.qRangeJoin _),
    "q_grouping_sets" -> (operators.Relational2.qGroupingSets _),
    "q_unpivot" -> (operators.Relational2.qUnpivot _),
    "q_range_frame" -> (operators.Relational2.qRangeFrame _),
    "q_setops_all" -> (operators.Relational2.qSetopsAll _),
    "q_cond_agg" -> (operators.Relational2.qCondAgg _),
    "q_bit_agg" -> (operators.Relational2.qBitAgg _),
    "q_median" -> (operators.Relational2.qMedian _),
    "q_explode" -> (operators.Relational2.qExplode _),
    "q_json_typed" -> (operators.ComplexTypes.qJsonTyped _),
    "q_array_funcs" -> (operators.ComplexTypes.qArrayFuncs _),
    "q_map_ops" -> (operators.ComplexTypes.qMapOps _),
    "q_resample" -> (operators.ComplexTypes.qResample _),
    "q_resample_by_key" -> (operators.Resample.qResampleByKey _),
    "q_interpolate" -> (operators.Resample.qInterpolate _),
    "q_topk_weighted" -> (operators.Relational2.qTopkWeighted _),
    "q_scd2" -> (operators.ComplexTypes.qScd2 _),
    "q_islands" -> (operators.ComplexTypes.qIslands _),
    "q_cdc_apply" -> (operators.ComplexTypes.qCdcApply _),
    "q_upsert" -> (operators.ComplexTypes.qUpsert _),
    "q_upsert_versioned" -> (operators.VersionedQueries.qUpsertVersioned _),
    "q_time_travel" -> (operators.VersionedQueries.qTimeTravel _),
    "q_zone_map_read" -> (operators.VersionedQueries.qZoneMapRead _),
    "q_bloom_skip" -> (operators.VersionedQueries.qBloomSkip _),
    "q_zone_map_date" -> (operators.VersionedQueries.qZoneMapDate _),
    "q_zone_map_decimal" -> (operators.VersionedQueries.qZoneMapDecimal _),
    "q_zone_map_multi" -> (operators.VersionedQueries.qZoneMapMulti _),
    "q_zone_map_string" -> (operators.VersionedQueries.qZoneMapString _),
    "q_table_changes" -> (operators.VersionedQueries.qTableChanges _),
    "q_zone_map_auto" -> (operators.VersionedQueries.qZoneMapAuto _),
    "q_sql_catalog" -> (operators.VersionedQueries.qSqlCatalog _),
    "q_sql_dml" -> (operators.VersionedQueries.qSqlDml _),
    "q_sql_history" -> (operators.VersionedQueries.qSqlHistory _),
    "q_sql_merge" -> (operators.VersionedQueries.qSqlMerge _),
    "q_sql_merge_by_source" -> (operators.VersionedQueries.qSqlMergeBySource _),
    "q_sql_merge_clauses" -> (operators.VersionedQueries.qSqlMergeClauses _),
    "q_sql_call" -> (operators.VersionedQueries.qSqlCall _),
    "q_sql_partitioned" -> (operators.VersionedQueries.qSqlPartitioned _),
    "q_sql_mat_view" -> (operators.VersionedQueries.qSqlMatView _),
    "q_sql_mat_view_shapes" -> (operators.VersionedQueries.qSqlMatViewShapes _),
    "q_optimize_cluster" -> (operators.VersionedQueries.qOptimizeCluster _),
    "q_optimize_zorder" -> (operators.VersionedQueries.qOptimizeZorder _),
    "q_zone_map_prefix" -> (operators.VersionedQueries.qZoneMapPrefix _),
    "q_delete_versioned" -> (operators.VersionedQueries.qDeleteVersioned _),
    "q_update_versioned" -> (operators.VersionedQueries.qUpdateVersioned _),
    "q_delete_mor" -> (operators.VersionedQueries.qDeleteMor _),
    "q_update_mor" -> (operators.VersionedQueries.qUpdateMor _),
    "q_count_meta" -> (operators.VersionedQueries.qCountMeta _),
    "q_restore" -> (operators.VersionedQueries.qRestore _),
    "q_clone" -> (operators.VersionedQueries.qClone _),
    "q_mat_view" -> (operators.VersionedQueries.qMatView _),
    "q_mat_view_bucketed" -> (operators.VersionedQueries.qMatViewBucketed _),
    "q_mat_view_join" -> (operators.VersionedQueries.qMatViewJoin _),
    "q_mat_view_chain" -> (operators.VersionedQueries.qMatViewChain _),
    "q_mat_view_nested" -> (operators.VersionedQueries.qMatViewNested _),
    "q_mat_view_factored" -> (operators.VersionedQueries.qMatViewFactored _),
    "q_mat_view_minmax" -> (operators.VersionedQueries.qMatViewMinMax _),
    "q_drop_partition" -> (operators.VersionedQueries.qDropPartition _),
    "q_multi_commit" -> (operators.VersionedQueries.qMultiCommit _),
    "q_multi_mutate" -> (operators.VersionedQueries.qMultiMutate _),
    "q_mat_view_stats" -> (operators.VersionedQueries.qMatViewStats _),
    "q_partition_join" -> (operators.VersionedQueries.qPartitionJoin _),
    "q_partition_join_outer" -> (operators.VersionedQueries.qPartitionJoinOuter _),
    "q_id_mapping" -> (operators.VersionedQueries.qIdMapping _),
    "q_zone_map_nested" -> (operators.VersionedQueries.qZoneMapNested _),
    "q_zone_map_nulls" -> (operators.VersionedQueries.qZoneMapNulls _),
    "q_check_constraint" -> (operators.VersionedQueries.qCheckConstraint _),
    "q_add_column" -> (operators.VersionedQueries.qAddColumn _),
    "q_drop_column" -> (operators.VersionedQueries.qDropColumn _),
    "q_rename_column" -> (operators.VersionedQueries.qRenameColumn _),
    // §2.8: the DSv2 synthetic source under the oracle gate — filter
    // pushdown prunes generated partitions, column pruning means text
    // is never built (the aggregate touches only doc_id/lang)
    "q_synth_docs" -> ((s: SparkSession, _: String) => {
      import org.apache.spark.sql.functions._
      s.read.format("graft.sources.SyntheticDocsSource")
        .option("rows", "200000").option("partitions", "32").load()
        .filter(col("doc_id") >= 50000 && col("doc_id") < 150000)
        .groupBy("lang")
        .agg(operators.cnt.as("n"), sum("doc_id").as("sum_id"))
    }),
    "q_funnel" -> (operators.ComplexTypes.qFunnel _),
    "q7_volume" -> (operators.TpchExtra.q7Volume _),
    "q10_returns" -> (operators.TpchExtra.q10Returns _),
    "q18_big_orders" -> ((s: SparkSession, d: String) => operators.TpchExtra.q18BigOrders(s, d)),
    "q6_revenue" -> (operators.TpchExtra.q6Revenue _),
    "q4_priority" -> (operators.TpchExtra.q4Priority _),
    "q14_promo_share" -> (operators.TpchExtra.q14PromoShare _),
    "q22_idle" -> ((s: SparkSession, d: String) => operators.TpchExtra.q22Idle(s, d)),
    "q15_top_supplier" -> (operators.TpchExtra.q15TopSupplier _),
    "q17_small_qty" -> ((s: SparkSession, d: String) => operators.TpchExtra.q17SmallQty(s, d)),
    "q8_market_share" -> ((s: SparkSession, d: String) => operators.TpchExtra.q8MarketShare(s, d)),
    "q13_custdist" -> ((s: SparkSession, d: String) => operators.TpchExtra.q13CustDist(s, d)),
    "q19_disjunctive" -> (operators.TpchExtra.q19Disjunctive _),
    "q21_waiting" -> ((s: SparkSession, d: String) => operators.TpchExtra.q21Waiting(s, d)),
    "q16_supplier_cnt" -> (operators.TpchExtra.q16SupplierCnt _),
    "q20_excess" -> ((s: SparkSession, d: String) => operators.TpchExtra.q20Excess(s, d)),
    "q2_min_cost" -> ((s: SparkSession, d: String) => operators.TpchExtra.q2MinCost(s, d)),
    "q9_profit" -> ((s: SparkSession, d: String) => operators.TpchExtra.q9Profit(s, d)),
    "q11_important" -> ((s: SparkSession, d: String) => operators.TpchExtra.q11Important(s, d)),
    "q12_ship_priority" -> ((s: SparkSession, d: String) => operators.TpchExtra.q12ShipPriority(s, d)),
    // §2.3 dedup
    "dedup_exact" -> (Dedup.exact _),
    "dedup_semantic" -> ((s: SparkSession, d: String) => Dedup.semanticDedup(s, d)),
    "dedup_ngram_jaccard" -> ((s: SparkSession, d: String) => Dedup.ngramJaccard(s, d)),
    "dedup_minhash_lsh" -> ((s: SparkSession, d: String) => Dedup.minhashLsh(s, d)),
    "q_dedup_incremental" -> ((s: SparkSession, d: String) => Dedup.incrementalDedupDemo(s, d)),
    "dedup_simhash" -> ((s: SparkSession, d: String) => Dedup.simhash(s, d)),
    "dedup_embedding" -> ((s: SparkSession, d: String) => Dedup.embeddingDups(s, d)),
    "dedup_clusters" -> (Dedup.clusters _),
    "dedup_cross" -> (Dedup.crossDedup _),
    "dedup_golden" -> (Dedup.goldenRecords _),
    "dedup_bloom" -> ((s: SparkSession, d: String) => Dedup.bloomCrossDedup(s, d)),
    // §2.4 similarity search
    "ann_bruteforce" -> ((s: SparkSession, d: String) => Ann.bruteforceTopK(s, d)),
    "ann_lsh" -> ((s: SparkSession, d: String) => Ann.lshTopK(s, d)),
    "ann_ivf" -> ((s: SparkSession, d: String) => Ann.ivfTopK(s, d)),
    "ann_quantized" -> ((s: SparkSession, d: String) => Ann.quantizedTopK(s, d)),
    "ann_binary" -> ((s: SparkSession, d: String) => Ann.binaryTopK(s, d)),
    "ann_pq" -> ((s: SparkSession, d: String) => Ann.pqTopK(s, d)),
    "ann_ivfpq" -> ((s: SparkSession, d: String) => Ann.ivfpqTopK(s, d)),
    "knn_join" -> ((s: SparkSession, d: String) => Ann.knnJoin(s, d)),
    // §2.5 text analysis
    "text_stats" -> (TextAnalysis.textStats _),
    "text_token_count" -> (TextAnalysis.tokenCount _),
    "text_langid" -> (TextAnalysis.langid _),
    "text_fingerprint" -> (TextAnalysis.fingerprintDocs _),
    "text_feature_hash" -> (TextAnalysis.featureHash _),
    "text_chunk_dedup" -> (TextAnalysis.chunkDedup _),
    "text_tfidf" -> (TextAnalysis.tfidf _),
    "text_scrub" -> (TextAnalysis.scrub _),
    "text_contamination" -> ((s: SparkSession, d: String) => TextAnalysis.contamination(s, d)),
    "text_chunk" -> ((s: SparkSession, d: String) => TextAnalysis.chunk(s, d)),
    "text_pack" -> ((s: SparkSession, d: String) => TextAnalysis.pack(s, d)),
    // learned BPE tokenizer: deterministic greedy pair-merge training
    // (vocab-bound iterative rounds), expression-only encoding, and
    // packing by REAL subword token counts (operators.Bpe)
    "text_bpe_train" -> ((s: SparkSession, d: String) => operators.Bpe.train(s, d)),
    "text_bpe_encode" -> ((s: SparkSession, d: String) => operators.Bpe.encode(s, d)),
    "text_pack_bpe" -> ((s: SparkSession, d: String) => operators.Bpe.packByBpe(s, d)),
    "text_repetition" -> (TextAnalysis.repetition _),
    "text_lm_score" -> (TextAnalysis.lmScore _),
    "text_keywords" -> ((s: SparkSession, d: String) => TextAnalysis.keywords(s, d)),
    "q_retention" -> (operators.Relational3.qRetention _),
    "text_domain_mix" -> (TextAnalysis.domainMix _),
    "text_stratified_sample" -> (TextAnalysis.stratifiedSample _),
    "pipeline_corpus" -> (operators.Pipeline.corpusBuild _),
    // §2.6 multimodal plumbing
    "multimodal_stats" -> (Multimodal.mediaStats _),
    "multimodal_topk" -> ((s: SparkSession, d: String) => Multimodal.mediaTopK(s, d)),
    "multimodal_phash" -> ((s: SparkSession, d: String) => Multimodal.phashDedup(s, d))
  )

  /** DuckDB-dialect oracle per query (same semantics, independent
    * implementation). Money sums use the same exact-DECIMAL-then-
    * DOUBLE chain as the Spark side (see graft.operators.sumMoney) so
    * results are bit-identical. Omitted keys (minhash/simhash/LSH
    * candidates/approx sketches/multimodal) are engine-hash-specific
    * or approximate by nature → rows-only check.
    */
  /** The deterministic SRP hyperplanes inlined as DuckDB literals, so
    * the LSH oracle reproduces the exact bucketing (the planes are a
    * pure function — same splitmix chain both sides; Double.toString
    * round-trips the value).
    */
  private def srpPlanesSql(nTables: Int, bits: Int, dim: Int): String =
    (0 until nTables * bits).map { p =>
      val vec = (0 until dim).map(d => similarity.Ann.planeComponent(p, d)).mkString(", ")
      s"($p, [$vec])"
    }.mkString(",\n")

  /** Unsigned-64-bit arithmetic over DuckDB HUGEINT (state kept in
    * [0, 2^64)): the pieces needed to reproduce the JVM hash kernels
    * (FNV-1a, splitmix, xorshift) bit-for-bit in oracle SQL. Multiply
    * splits the left operand at 2^32 so no intermediate exceeds 2^97.
    */
  private object SqlU64 {
    val M64 = "CAST(18446744073709551616 AS HUGEINT)"
    val P32 = "CAST(4294967296 AS HUGEINT)"
    def lit(k: BigInt): String = s"CAST($k AS HUGEINT)"
    def u(k: Long): BigInt = BigInt(java.lang.Long.toUnsignedString(k))
    def mulmod64(a: String, k: BigInt): String =
      if (k >= (BigInt(1) << 32))
        s"((($a) % $P32) * ${lit(k)} + ((($a) // $P32) * ${lit(k)} % $P32) * $P32) % $M64"
      else s"(($a) * ${lit(k)}) % $M64"
    def xor64(a: String, b: String): String =
      s"(xor(CAST(($a) // $P32 AS BIGINT), CAST(($b) // $P32 AS BIGINT))::HUGEINT * $P32" +
        s" + xor(CAST(($a) % $P32 AS BIGINT), CAST(($b) % $P32 AS BIGINT))::HUGEINT)"
    def shr(a: String, n: Int): String = s"(($a) // ${lit(BigInt(1) << n)})"
    def shlmod(a: String, n: Int): String = mulmod64(a, BigInt(1) << n)
    def mix(a: String, s: Int, k: Long): String = mulmod64(xor64(a, shr(a, s)), u(k))
  }

  /** Unrolled-round BPE oracle (the mr_pagerank unrolled-CTE
    * pattern): v0 is the space-delimited char vocab; round i counts
    * adjacent pairs from v(i-1), picks the (cnt DESC, l, r) top-1
    * into m_i, and applies the merge with the SAME leftmost
    * non-overlapping replace() the Spark side runs — so the whole
    * train → encode → pack chain replays bit-exact.
    */
  private object BpeSql {
    val K = operators.Bpe.DefaultMerges

    /** wf / v0 / (p_i, m_i, v_i) for i = 1..K. */
    def trainCtes: String = {
      val sb = new StringBuilder
      sb.append(
        """wf AS (
          |  SELECT word, count(*) AS freq FROM (
          |    SELECT lower(regexp_replace(tok, '[^A-Za-z]', '', 'g')) AS word
          |    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) u
          |  ) w WHERE word <> '' GROUP BY word),
          |v0 AS MATERIALIZED (SELECT regexp_replace(word, '(.)', ' \1', 'g') || ' ' AS seq, freq FROM wf)""".stripMargin)
      for (i <- 1 to K) {
        sb.append(",\n").append(
          s"""p$i AS MATERIALIZED (
             |  SELECT s[i] AS l, s[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
             |  FROM (SELECT string_split(trim(seq), ' ') AS s, freq FROM v${i - 1}) t,
             |       unnest(range(1, len(s))) AS u(i)
             |  GROUP BY 1, 2),
             |m$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
             |v$i AS MATERIALIZED (SELECT replace(seq,
             |    (SELECT ' ' || l || ' ' || r || ' ' FROM m$i),
             |    (SELECT ' ' || l || r || ' ' FROM m$i)) AS seq, freq FROM v${i - 1})""".stripMargin)
      }
      sb.toString
    }

    /** The k merges folded into nested replace() over `seqExpr`. */
    def encExpr(seqExpr: String): String =
      (1 to K).foldLeft(seqExpr) { (acc, i) =>
        s"replace($acc, (SELECT ' ' || l || ' ' || r || ' ' FROM m$i)," +
          s" (SELECT ' ' || l || r || ' ' FROM m$i))"
      }

    private val charSeqSql = """regexp_replace(word, '(.)', ' \1', 'g') || ' '"""
    private def bpeTokensSql = s"len(string_split(trim(${encExpr(charSeqSql)}), ' '))"

    def trainSql: String = {
      val rows = (1 to K).map(i =>
        s"""SELECT CAST($i AS BIGINT) AS round, l AS "left", r AS "right",
           |  l || r AS merged, cnt AS pair_count FROM m$i""".stripMargin)
      s"WITH $trainCtes\n${rows.mkString("\nUNION ALL\n")}"
    }

    def encodeSql: String =
      s"""WITH $trainCtes,
         |dw AS (
         |  SELECT doc_id, lower(regexp_replace(tok, '[^A-Za-z]', '', 'g')) AS word
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) u),
         |enc AS (
         |  SELECT doc_id, word, $bpeTokensSql AS toks
         |  FROM dw WHERE word <> '')
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(length(word)) AS BIGINT) AS n_chars,
         |  CAST(sum(toks) AS BIGINT) AS n_tokens
         |FROM enc GROUP BY doc_id""".stripMargin

    def packSql: String =
      s"""WITH $trainCtes,
         |tk AS (SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS tok
         |       FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) d),
         |wd AS (SELECT doc_id, pos,
         |         lower(regexp_replace(tok, '[^A-Za-z]', '', 'g')) AS word FROM tk),
         |wt AS (SELECT doc_id, CAST((pos - 1) // 32 AS BIGINT) AS chunk_id,
         |         $bpeTokensSql AS toks
         |       FROM wd WHERE word <> ''),
         |ch AS (SELECT doc_id, chunk_id, CAST(sum(toks) AS BIGINT) AS n_tokens
         |       FROM wt GROUP BY 1, 2),
         |rs AS (SELECT doc_id, chunk_id, n_tokens,
         |         coalesce(sum(n_tokens) OVER (PARTITION BY doc_id ORDER BY chunk_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
         |       FROM ch)
         |SELECT doc_id, CAST(tok_before // 96 AS BIGINT) AS pack_id,
         |  count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
         |FROM rs GROUP BY 1, 2""".stripMargin
  }

  /** The reference-tokenizer token stream as a DuckDB CTE body
    * (doc_id, tok_idx, tok) — shared by the hash-kernel oracles.
    */
  private val TokStreamSql =
    """SELECT doc_id, tok, tok_idx FROM (
      |    SELECT doc_id, unnest(toklist) AS tok,
      |           generate_subscripts(toklist, 1) AS tok_idx
      |    FROM (SELECT doc_id,
      |            list_filter(list_transform(string_split(text, ' '),
      |              t -> lower(regexp_replace(t, '[^A-Za-z]', '', 'g'))), w -> w <> '') AS toklist
      |          FROM documents))""".stripMargin

  /** FNV-1a-64 over token chars + splitmix finalizer, as recursive
    * SQL — yields CTEs `fnv` … `thash(doc_id, tok_idx, h)` matching
    * graft.functions.Signatures.hashToken bit-for-bit.
    */
  private def tokenHashSql: String = {
    import SqlU64._
    s"""fnv(doc_id, tok_idx, tok, pos, h) AS (
       |  SELECT doc_id, tok_idx, tok, 0, ${lit(u(0xcbf29ce484222325L))} FROM toks
       |  UNION ALL
       |  SELECT doc_id, tok_idx, tok, pos + 1,
       |    ${mulmod64(s"(${xor64("h", "unicode(substring(tok, pos + 1, 1))::HUGEINT")})", BigInt(0x100000001b3L))}
       |  FROM fnv WHERE pos < length(tok)),
       |fin0 AS (
       |  SELECT doc_id, tok_idx, (h + ${lit(u(0x9e3779b97f4a7c15L))}) % $M64 AS z
       |  FROM fnv WHERE pos = length(tok)),
       |fin1 AS (SELECT doc_id, tok_idx, ${mix("z", 30, 0xbf58476d1ce4e5b9L)} AS z FROM fin0),
       |fin2 AS (SELECT doc_id, tok_idx, ${mix("z", 27, 0x94d049bb133111ebL)} AS z FROM fin1),
       |thash AS (SELECT doc_id, tok_idx, ${xor64("z", shr("z", 31))} AS h FROM fin2)""".stripMargin
  }

  /** Full MinHash+LSH reproduction in SQL: token hashes (shared
    * recursive FNV/splitmix CTEs), 3-token shingle combine (staged
    * CTE unroll of the mix chain), 64 xorshift remixes against the
    * inlined seed literals, SIGNED-long minima (the JVM kernel
    * compares signed), 16×4 banding joined on the raw 4-tuples
    * (equivalent to the xxhash64 bucket join absent collisions), and
    * the matching-positions/64 estimate.
    */
  /** `extraPred` (ANDed onto the final pair filter) lets the
    * incremental-index oracle reuse the whole replay: the incremental
    * path's contract is one-shot pairs restricted to batch-touching
    * ids, so its oracle IS this SQL plus that restriction.
    */
  private def minhashOracleSql(extraPred: String = ""): String = {
    import SqlU64._
    val seeds = functions.Signatures.seeds.zipWithIndex
      .map { case (s, k) => s"($k, ${lit(u(s))})" }.mkString(", ")
    val C1 = 0xbf58476d1ce4e5b9L
    val magic = lit(u(0x9e3779b97f4a7c15L))
    val xshl17 = xor64("x", shlmod("x", 17))
    s"""WITH RECURSIVE toks AS (
       |  $TokStreamSql),
       |$tokenHashSql,
       |wins AS (
       |  SELECT a.doc_id, a.tok_idx AS i, a.h AS t0, b.h AS t1, c.h AS t2
       |  FROM thash a
       |  JOIN thash b ON a.doc_id = b.doc_id AND b.tok_idx = a.tok_idx + 1
       |  JOIN thash c ON a.doc_id = c.doc_id AND c.tok_idx = a.tok_idx + 2),
       |s0x AS (SELECT doc_id, i, t1, t2, ${xor64(magic, "t0")} AS zx FROM wins),
       |s0m AS (SELECT doc_id, i, t1, t2, ${mix("zx", 30, C1)} AS zm FROM s0x),
       |s0 AS  (SELECT doc_id, i, t1, t2, ${xor64("zm", shr("zm", 27))} AS h FROM s0m),
       |s1x AS (SELECT doc_id, i, t2, ${xor64("h", "t1")} AS zx FROM s0),
       |s1m AS (SELECT doc_id, i, t2, ${mix("zx", 30, C1)} AS zm FROM s1x),
       |s1 AS  (SELECT doc_id, i, t2, ${xor64("zm", shr("zm", 27))} AS h FROM s1m),
       |s2x AS (SELECT doc_id, i, ${xor64("h", "t2")} AS zx FROM s1),
       |s2m AS (SELECT doc_id, i, ${mix("zx", 30, C1)} AS zm FROM s2x),
       |s2 AS  (SELECT doc_id, i, ${xor64("zm", shr("zm", 27))} AS h FROM s2m),
       |sh AS (SELECT DISTINCT doc_id, h FROM s2),
       |seeds(k, s) AS (VALUES $seeds),
       |r0 AS (SELECT doc_id, k, ${xor64("h", "s")} AS x FROM sh CROSS JOIN seeds),
       |r1 AS (SELECT doc_id, k, ${xor64("x", shlmod("x", 13))} AS x FROM r0),
       |r2 AS (SELECT doc_id, k, ${xor64("x", shr("x", 7))} AS x FROM r1),
       |r3 AS (SELECT doc_id, k,
       |  CAST(CASE WHEN $xshl17 >= ${lit(BigInt(1) << 63)}
       |       THEN $xshl17 - $M64 ELSE $xshl17 END AS BIGINT) AS x
       |  FROM r2),
       |sig AS (SELECT doc_id, k, min(x) AS v FROM r3 GROUP BY 1, 2),
       |bandvals AS (
       |  SELECT doc_id, k // 4 AS band,
       |    max(CASE WHEN k % 4 = 0 THEN v END) AS v0,
       |    max(CASE WHEN k % 4 = 1 THEN v END) AS v1,
       |    max(CASE WHEN k % 4 = 2 THEN v END) AS v2,
       |    max(CASE WHEN k % 4 = 3 THEN v END) AS v3
       |  FROM sig GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bandvals a JOIN bandvals b
       |    ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1 AND a.v2 = b.v2 AND a.v3 = b.v3
       |   AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT id_a, id_b,
       |    CAST(sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS DOUBLE) / 64.0 AS est_jaccard
       |  FROM cand JOIN sig sa ON id_a = sa.doc_id JOIN sig sb ON id_b = sb.doc_id AND sa.k = sb.k
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.5$extraPred""".stripMargin
  }

  /** multimodal_stats oracle: the fake codec's LCG byte stream
    * (x' = x*A + C mod 2^64, byte = x' >> 56) and the FNV-style
    * checksum replayed in a recursive CTE — 256 steps per media row.
    * "new x" is recomputed inside the checksum update because a
    * recursive CTE step cannot reference its own output columns.
    */
  private def multimodalStatsOracleSql: String = {
    import SqlU64._
    val A = u(6364136223846793005L)
    val C = u(1442695040888963407L)
    def newX(x: String) = s"(${mulmod64(x, A)} + ${lit(C)}) % $M64"
    val byteOfNewX = s"(${newX("x")}) // ${lit(BigInt(1) << 56)}"
    s"""WITH RECURSIVE media AS (
       |  SELECT doc_id AS media_id FROM documents),
       |gen(media_id, i, x, ck) AS (
       |  SELECT media_id, 0, ${newX("media_id::HUGEINT")}, ${lit(BigInt(1469598103934665603L))}
       |  FROM media
       |  UNION ALL
       |  SELECT media_id, i + 1, ${newX("x")},
       |    ${mulmod64(s"(${xor64("ck", byteOfNewX)})", BigInt(1099511628211L))}
       |  FROM gen WHERE i < 256),
       |final AS (
       |  SELECT media_id,
       |    CAST(CASE WHEN ck >= ${lit(BigInt(1) << 63)} THEN ck - $M64 ELSE ck END AS BIGINT) AS checksum
       |  FROM gen WHERE i = 256)
       |SELECT 'fake/rgb8' AS format, count(*) AS n,
       |  CAST(count(*) * 256 AS BIGINT) AS total_bytes,
       |  min(checksum) AS min_checksum
       |FROM final""".stripMargin
  }

  /** multimodal_topk oracle: histogram embeddings rebuilt from the
    * replayed LCG byte stream (16-bucket spine keeps the zero counts
    * the array form carries), normalized and cosine-ranked like the
    * ann oracles.
    */
  private def multimodalTopKOracleSql: String = {
    import SqlU64._
    val A = u(6364136223846793005L)
    val C = u(1442695040888963407L)
    def newX(x: String) = s"(${mulmod64(x, A)} + ${lit(C)}) % $M64"
    s"""WITH RECURSIVE media AS (SELECT doc_id AS media_id FROM documents),
       |gen(media_id, i, x) AS (
       |  SELECT media_id, 0, ${newX("media_id::HUGEINT")} FROM media
       |  UNION ALL
       |  SELECT media_id, i + 1, ${newX("x")} FROM gen WHERE i < 256),
       |bytes AS (
       |  SELECT media_id, CAST(x // ${lit(BigInt(1) << 56)} AS BIGINT) AS b FROM gen WHERE i >= 1),
       |hist AS (
       |  SELECT media_id, b // 16 AS bucket, count(*) AS c FROM bytes GROUP BY 1, 2),
       |spine AS (
       |  SELECT media_id, s.bucket FROM media CROSS JOIN (SELECT unnest(range(16)) AS bucket) s),
       |vecs AS (
       |  SELECT spine.media_id, list(CAST(coalesce(c, 0) AS DOUBLE) ORDER BY spine.bucket) AS raw
       |  FROM spine LEFT JOIN hist ON spine.media_id = hist.media_id AND spine.bucket = hist.bucket
       |  GROUP BY 1),
       |e AS (
       |  SELECT media_id,
       |    list_transform(raw, x -> x / sqrt(list_sum(list_transform(raw, y -> y*y)))) AS v
       |  FROM vecs),
       |q AS (SELECT media_id AS q_id, v AS qv FROM e WHERE media_id < 5),
       |scored AS (
       |  SELECT q_id, e.media_id, list_dot_product(e.v, qv) AS cos
       |  FROM e CROSS JOIN q WHERE e.media_id <> q_id),
       |ranked AS (
       |  SELECT q_id, media_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, media_id) AS rk
       |  FROM scored)
       |SELECT q_id, rk, media_id AS neighbor_id, round(cos, 6) AS cosine
       |FROM ranked WHERE rk <= 3""".stripMargin
  }

  /** multimodal_phash oracle: variant payloads (one LCG stream per
    * BASE id, low-bit flips per variant), the stride-4 perceptual
    * hash with its integer-only threshold (64·sample > Σsamples — no
    * floats anywhere), 4×16 banding and the hamming verify, all in
    * SQL. The Spark bucket cap (100) provably never binds on the
    * controlled corpus, so the uncapped replay is value-exact.
    */
  private def multimodalPhashOracleSql: String = {
    import SqlU64._
    val A = u(6364136223846793005L)
    val C = u(1442695040888963407L)
    def newX(x: String) = s"(${mulmod64(x, A)} + ${lit(C)}) % $M64"
    s"""WITH RECURSIVE media AS (
       |  SELECT doc_id AS media_id, doc_id // 4 AS base FROM documents),
       |bases AS (SELECT DISTINCT base FROM media),
       |gen(base, i, x) AS (
       |  SELECT base, 0, ${newX("base::HUGEINT")} FROM bases
       |  UNION ALL
       |  SELECT base, i + 1, ${newX("x")} FROM gen WHERE i < 253),
       |samp AS (
       |  SELECT base, (i - 1) // 4 AS si, CAST(x // ${lit(BigInt(1) << 56)} AS BIGINT) AS val
       |  FROM gen WHERE i >= 1 AND (i - 1) % 4 = 0),
       |pb AS (
       |  SELECT m.media_id, s.si,
       |    CASE WHEN s.si % 4 = 0 AND s.si // 4 < m.media_id % 4
       |         THEN xor(s.val, 1) ELSE s.val END AS val
       |  FROM media m JOIN samp s ON m.base = s.base),
       |st AS (SELECT media_id, sum(val) AS tot FROM pb GROUP BY 1),
       |bits AS (
       |  SELECT pb.media_id,
       |    sum(CASE WHEN pb.val * 64 > st.tot
       |        THEN power(2::HUGEINT, pb.si)::HUGEINT ELSE 0::HUGEINT END) AS ph
       |  FROM pb JOIN st ON pb.media_id = st.media_id GROUP BY 1),
       |banded AS (
       |  SELECT media_id, ph, b.band,
       |    CAST((ph // power(2::HUGEINT, b.band * 16)::HUGEINT) % 65536 AS BIGINT) AS chunk
       |  FROM bits CROSS JOIN (SELECT unnest(range(4)) AS band) b),
       |pairs AS (
       |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
       |    bit_count(xor(CAST(a.ph // $P32 AS BIGINT), CAST(b.ph // $P32 AS BIGINT)))
       |      + bit_count(xor(CAST(a.ph % $P32 AS BIGINT), CAST(b.ph % $P32 AS BIGINT))) AS hamming
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.chunk = b.chunk AND a.media_id < b.media_id)
       |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
       |FROM pairs WHERE hamming <= 3""".stripMargin
  }

  /** ann_ivf oracle: the ENTIRE quantizer replayed in SQL — XXH64 of
    * the vec_id (Spark's xxhash64 seed-selection, 8-byte block with
    * seed 42), two unrolled DECIMAL-exact Lloyd rounds (argmax-dot
    * assignment with first-index tie-break, per-dim integer-quantized
    * sums, spherical renormalize, lost-cluster fallback), nProbe=4
    * probes and cosine ranking.
    */
  /** The shared quantizer replay (normalize → XXH64 seed selection →
    * two Lloyd rounds → final assignment `af(vec_id, v, cid)`) as WITH-
    * clause CTEs — the common prefix of the ann_ivf and dedup_semantic
    * oracles.
    */
  /** Shared embedding-normalize + XXH64(vec_id) CTEs (`e`, `ex`,
    * `xx`) — the common prefix of the ann_ivf, dedup_semantic and
    * ann_pq oracles (all three quantizers seed from the same
    * hash-ordered rows).
    */
  private def embHashCtes: String = {
    import SqlU64._
    def rotl(a: String, r: Int): String = s"(${shlmod(a, r)} + ${shr(a, 64 - r)})"
    val P1 = BigInt("9E3779B185EBCA87", 16)
    val P2 = BigInt("C2B2AE3D27D4EB4F", 16)
    val P3 = BigInt("165667B19E3779F9", 16)
    val P4 = BigInt("85EBCA77C2B2AE63", 16)
    val P5 = BigInt("27D4EB2F165667C5", 16)
    val acc0 = (BigInt(42) + P5 + 8) & ((BigInt(1) << 64) - 1)
    s"""e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE))))) AS v
       |  FROM embeddings),
       |ex AS (
       |  SELECT vec_id, generate_subscripts(v, 1) AS d, unnest(v) AS val FROM e),
       |x1 AS (SELECT vec_id, v, ${mulmod64("vec_id::HUGEINT", P2)} AS k FROM e),
       |x2 AS (SELECT vec_id, v, ${rotl("k", 31)} AS k FROM x1),
       |x3 AS (SELECT vec_id, v, ${xor64(lit(acc0), mulmod64("k", P1))} AS acc FROM x2),
       |x4 AS (SELECT vec_id, v, (${mulmod64(rotl("acc", 27), P1)} + ${lit(P4)}) % $M64 AS acc FROM x3),
       |x5 AS (SELECT vec_id, v, ${xor64("acc", shr("acc", 33))} AS acc FROM x4),
       |x6 AS (SELECT vec_id, v, ${mulmod64("acc", P2)} AS acc FROM x5),
       |x7 AS (SELECT vec_id, v, ${xor64("acc", shr("acc", 29))} AS acc FROM x6),
       |x8 AS (SELECT vec_id, v, ${mulmod64("acc", P3)} AS acc FROM x7),
       |xx AS (SELECT vec_id, v,
       |  CAST(CASE WHEN ${xor64("acc", shr("acc", 32))} >= ${lit(BigInt(1) << 63)}
       |       THEN ${xor64("acc", shr("acc", 32))} - $M64
       |       ELSE ${xor64("acc", shr("acc", 32))} END AS BIGINT) AS h FROM x8)""".stripMargin
  }

  private def ivfCoreCtes: String = {
    def lloyd(cin: String, cout: String): String =
      s"""a_$cout AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |                         ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid) AS rn
         |    FROM e CROSS JOIN $cin c) WHERE rn = 1),
         |sums_$cout AS (
         |  SELECT a.cid, ex.d, CAST(sum(CAST(round(ex.val * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS m
         |  FROM a_$cout a JOIN ex ON a.vec_id = ex.vec_id
         |  GROUP BY 1, 2),
         |ml_$cout AS (
         |  SELECT cid, list(m ORDER BY d) AS ml FROM sums_$cout GROUP BY 1),
         |$cout AS (
         |  SELECT p.cid,
         |    CASE WHEN ml.cid IS NULL THEN p.cv
         |         ELSE list_transform(ml.ml, x -> x / greatest(
         |           sqrt(list_sum(list_transform(ml.ml, y -> y*y))), 1e-12))
         |    END AS cv
         |  FROM $cin p LEFT JOIN ml_$cout ml ON p.cid = ml.cid)""".stripMargin
    s"""$embHashCtes,
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid, v AS cv
       |  FROM xx ORDER BY h, vec_id LIMIT 16),
       |${lloyd("c0", "c1")},
       |${lloyd("c1", "c2")},
       |af AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |                         ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid) AS rn
       |    FROM e CROSS JOIN c2 c) WHERE rn = 1)""".stripMargin
  }

  /** PQ codebook training + code assignment as reusable CTEs
    * (`seeds`…`cb2`,`codes`): per-subspace euclidean Lloyd (argmin
    * cc − 2·x·c with lowest-cid tie-break, 1e-9-grid DECIMAL means,
    * lost-cluster fallback) over the SAME xxhash64 seed rows as the
    * IVF quantizer. Expects `e` and `xx` (embHashCtes) in scope;
    * shared by the ann_pq and ann_ivfpq oracles.
    */
  private def pqTrainCtes: String = {
    def assign(cb: String, out: String): String =
      s"""$out AS (
         |  SELECT vec_id, m, sv, cid FROM (
         |    SELECT s.vec_id, s.m, s.sv, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY list_dot_product(c.cv, c.cv) - 2*list_dot_product(s.sv, c.cv), c.cid) AS rn
         |    FROM sub s JOIN $cb c ON s.m = c.m) WHERE rn = 1)""".stripMargin
    def update(a: String, cbin: String, cbout: String): String =
      s"""sx_$cbout AS (
         |  SELECT a.m, a.cid, generate_subscripts(a.sv, 1) AS d, unnest(a.sv) AS val FROM $a a),
         |sums_$cbout AS (
         |  SELECT m, cid, d,
         |    (CAST(sum(CAST(round(val*1e9) AS BIGINT)) AS DOUBLE) / 1e9) / count(*) AS mval
         |  FROM sx_$cbout GROUP BY 1, 2, 3),
         |ml_$cbout AS (SELECT m, cid, list(mval ORDER BY d) AS cv FROM sums_$cbout GROUP BY 1, 2),
         |$cbout AS (
         |  SELECT p.m, p.cid, coalesce(ml.cv, p.cv) AS cv
         |  FROM $cbin p LEFT JOIN ml_$cbout ml ON p.m = ml.m AND p.cid = ml.cid)""".stripMargin
    s"""seeds AS (
       |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid, v
       |  FROM xx ORDER BY h, vec_id LIMIT 16),
       |ms AS (SELECT unnest(range(0, 8)) AS m),
       |cb0 AS (SELECT m, cid, array_slice(v, m*8+1, m*8+8) AS cv FROM seeds CROSS JOIN ms),
       |sub AS (SELECT vec_id, m, array_slice(v, m*8+1, m*8+8) AS sv FROM e CROSS JOIN ms),
       |${assign("cb0", "a1")},
       |${update("a1", "cb0", "cb1")},
       |${assign("cb1", "a2")},
       |${update("a2", "cb1", "cb2")},
       |${assign("cb2", "codes")}""".stripMargin
  }

  /** ann_pq oracle: product-quantization training and serving
    * replayed end to end — see [[pqTrainCtes]] for the Lloyd chain;
    * ADC scoring (per-m dots summed in subspace order) and the
    * full-precision re-rank follow.
    */
  private def pqOracleSql: String = {
    s"""WITH $embHashCtes,
       |$pqTrainCtes,
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
       |parts AS (
       |  SELECT q.q_id, c.vec_id, c.m,
       |    list_dot_product(array_slice(q.qv, c.m*8+1, c.m*8+8), cb.cv) AS pd
       |  FROM q CROSS JOIN codes c JOIN cb2 cb ON cb.m = c.m AND cb.cid = c.cid
       |  WHERE c.vec_id <> q.q_id),
       |qs AS (SELECT q_id, vec_id, list_sum(list(pd ORDER BY m)) AS qscore
       |       FROM parts GROUP BY 1, 2),
       |cands AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY qscore DESC, vec_id) AS crk
       |    FROM qs) WHERE crk <= 50),
       |rr AS (
       |  SELECT ca.q_id, ca.vec_id, list_dot_product(e.v, q.qv) AS cos
       |  FROM cands ca JOIN e ON ca.vec_id = e.vec_id JOIN q ON ca.q_id = q.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
       |  FROM rr)
       |SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id AS neighbor_id,
       |  round(cos, 6) AS cosine
       |FROM ranked WHERE rk <= 5""".stripMargin
  }

  private def ivfOracleSql: String =
    s"""WITH $ivfCoreCtes,
       |qprobes AS (
       |  SELECT q_id, qv, cid AS q_cid FROM (
       |    SELECT a.vec_id AS q_id, a.v AS qv, c.cid,
       |      row_number() OVER (PARTITION BY a.vec_id
       |                         ORDER BY list_dot_product(a.v, c.cv) DESC, c.cid) AS rn
       |    FROM af a CROSS JOIN c2 c WHERE a.vec_id < 10) WHERE rn <= 4),
       |scored AS (
       |  SELECT q.q_id, a.vec_id, list_dot_product(a.v, q.qv) AS cos
       |  FROM af a JOIN qprobes q ON a.cid = q.q_cid AND a.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
       |  FROM scored)
       |SELECT q_id, rk, vec_id AS neighbor_id, round(cos, 6) AS cosine
       |FROM ranked WHERE rk <= 5""".stripMargin

  /** ann_ivfpq oracle: both quantizer replays composed — the IVF
    * Lloyd chain supplies the probed lists (af/c2, as in ann_ivf),
    * the PQ chain supplies codebooks+codes, candidates are ADC-scored
    * only within the probed lists, and the top-50 cut re-ranks at
    * full precision.
    */
  private def ivfpqOracleSql: String =
    s"""WITH $ivfCoreCtes,
       |$pqTrainCtes,
       |qprobes AS (
       |  SELECT q_id, qv, cid AS q_cid FROM (
       |    SELECT a.vec_id AS q_id, a.v AS qv, c.cid,
       |      row_number() OVER (PARTITION BY a.vec_id
       |                         ORDER BY list_dot_product(a.v, c.cv) DESC, c.cid) AS rn
       |    FROM af a CROSS JOIN c2 c WHERE a.vec_id < 10) WHERE rn <= 4),
       |parts AS (
       |  SELECT q.q_id, a.vec_id, c.m,
       |    list_dot_product(array_slice(q.qv, c.m*8+1, c.m*8+8), cb.cv) AS pd
       |  FROM qprobes q
       |  JOIN af a ON a.cid = q.q_cid AND a.vec_id <> q.q_id
       |  JOIN codes c ON c.vec_id = a.vec_id
       |  JOIN cb2 cb ON cb.m = c.m AND cb.cid = c.cid),
       |qs AS (SELECT q_id, vec_id, list_sum(list(pd ORDER BY m)) AS qscore
       |       FROM parts GROUP BY 1, 2),
       |cands AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY qscore DESC, vec_id) AS crk
       |    FROM qs) WHERE crk <= 50),
       |rr AS (
       |  SELECT ca.q_id, ca.vec_id, list_dot_product(e.v, q.qv) AS cos
       |  FROM cands ca JOIN e ON ca.vec_id = e.vec_id
       |  JOIN (SELECT DISTINCT q_id, qv FROM qprobes) q ON ca.q_id = q.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
       |  FROM rr)
       |SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id AS neighbor_id,
       |  round(cos, 6) AS cosine
       |FROM ranked WHERE rk <= 5""".stripMargin

  /** dedup_semantic oracle: same quantizer replay, then the one-shot
    * keep-lowest-id rule — drop any vector with a lower-id cluster-mate
    * at cosine ≥ tau (dropped mates included), return surviving
    * assignments.
    */
  private def semanticDedupOracleSql: String =
    s"""WITH $ivfCoreCtes,
       |pairs AS (
       |  SELECT b.vec_id AS dropped
       |  FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE list_dot_product(a.v, b.v) >= 0.35)
       |SELECT vec_id, CAST(cid AS BIGINT) AS cid FROM af
       |WHERE vec_id NOT IN (SELECT dropped FROM pairs)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "dedup_minhash_lsh" -> minhashOracleSql(),
    "q_dedup_incremental" -> minhashOracleSql(" AND (id_a % 10 = 0 OR id_b % 10 = 0)"),
    "multimodal_stats" -> multimodalStatsOracleSql,
    "multimodal_topk" -> multimodalTopKOracleSql,
    "multimodal_phash" -> multimodalPhashOracleSql,
    "ann_ivf" -> ivfOracleSql,
    "ann_pq" -> pqOracleSql,
    "ann_ivfpq" -> ivfpqOracleSql,
    "dedup_semantic" -> semanticDedupOracleSql,
    // contract oracle: the raw HLL estimate is Spark-internal, but its
    // accuracy contract (within 5% of exact) is engine-independent —
    // the gate fails if the sketch ever degrades
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS exact_parts,
        | count(*) AS n,
        | TRUE AS sketch_within_5pct
        |FROM lineitem GROUP BY 1""".stripMargin,
    // contract oracle: the KLL sketch value is Spark-internal, but its
    // rank-error contract (value between the exact quantiles at q∓0.01
    // for default accuracy 10000) is engine-independent
    "q_approx_percentile" ->
      """SELECT l_returnflag, count(*) AS n,
        | TRUE AS p50_in_rank_eps,
        | TRUE AS p90_in_rank_eps
        |FROM lineitem GROUP BY 1""".stripMargin,
    // contract oracle: CMS point estimates can never undercount
    // (counters only add — a hard guarantee), and with fixed seed/data
    // the ≥90%-within-eps·N fraction is deterministic
    "q_countmin" ->
      """SELECT CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_keys,
        | TRUE AS never_underestimates,
        | TRUE AS mostly_within_eps
        |FROM lineitem""".stripMargin,
    // contract oracle: the KSP frequent-items sketch guarantees every
    // value with support >= s is returned — exact frequent values must
    // all carry in_sketch=TRUE
    "q_freq_items" ->
      """SELECT CAST(CAST(l_quantity AS INTEGER) AS BIGINT) AS quantity,
        | count(*) AS n, TRUE AS in_sketch
        |FROM lineitem
        |GROUP BY 1
        |HAVING count(*) * 1.0 / (SELECT count(*) FROM lineitem) >= 0.015""".stripMargin,
    // contract oracle: merging per-group HLL sketches must estimate the
    // global distinct within 5% (the sketches are engine-internal, the
    // accuracy contract is not)
    "q_hll_union" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        | count(DISTINCT l_returnflag) AS n_groups,
        | TRUE AS union_within_5pct
        |FROM lineitem""".stripMargin,
    "mr_wordcount" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT lower(regexp_replace(tok, '[^A-Za-z]', '', 'g')) AS word
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) u
        |) w WHERE word <> '' GROUP BY word""".stripMargin,
    "mr_numbersort" ->
      "SELECT l_extendedprice FROM lineitem ORDER BY l_extendedprice",
    "mr_grep" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE text LIKE '%spark%'",
    "mr_inverted_index" ->
      """SELECT word, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences FROM (
        |  SELECT doc_id, lower(regexp_replace(tok, '[^A-Za-z]', '', 'g')) AS word
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) u
        |) w WHERE word <> '' GROUP BY word""".stripMargin,
    "mr_histogram" ->
      "SELECT CAST(floor(l_extendedprice/10000.0) AS BIGINT) AS bucket, count(*) AS n FROM lineitem GROUP BY 1",
    // integer micro-rank PageRank replayed exactly: same truncating
    // divisions, 5 unrolled iteration CTEs (the Lloyd-oracle pattern)
    "mr_pagerank" -> {
      def iter(prev: String, cur: String): String =
        s"""$cur AS (
           |  SELECT nodes.node,
           |    (SELECT (1000000000000 * 15 // 100) // n FROM params)
           |      + coalesce(s.in_sum, 0) * 85 // 100 AS rank
           |  FROM nodes LEFT JOIN (
           |    SELECT e.b AS node, sum(r.rank // e.outdeg) AS in_sum
           |    FROM $prev r JOIN edges e ON r.node = e.a
           |    GROUP BY 1) s ON nodes.node = s.node)""".stripMargin
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |pairs AS (
         |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         |nodes AS (SELECT DISTINCT l_partkey AS node FROM li),
         |outdeg AS (SELECT a, CAST(count(*) AS BIGINT) AS outdeg FROM pairs GROUP BY 1),
         |edges AS (SELECT pairs.a, pairs.b, outdeg FROM pairs JOIN outdeg USING (a)),
         |params AS (SELECT count(*) AS n FROM nodes),
         |r0 AS (SELECT node, 1000000000000 // (SELECT n FROM params) AS rank FROM nodes),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")},
         |${iter("r3", "r4")},
         |${iter("r4", "r5")}
         |SELECT node AS part_id, CAST(rank AS BIGINT) AS rank FROM r5""".stripMargin
    },
    // triangle enumeration via the simple a<b orientation — any acyclic
    // orientation yields the same triangle set (the Spark side uses
    // degree-ordering for skew, result-identical; Graph.scala doc)
    "graph_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |      AND a.l_partkey < b.l_partkey),
        |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |        FROM e e1
        |        JOIN e e2 ON e1.b = e2.a
        |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |m AS (SELECT u AS node FROM tri UNION ALL
        |      SELECT v FROM tri UNION ALL
        |      SELECT w FROM tri)
        |SELECT node AS part_id, count(*) AS n_triangles FROM m GROUP BY 1""".stripMargin,
    // unit-weight Bellman-Ford, 4 unrolled relaxation rounds (the
    // mr_pagerank unrolled-CTE pattern) — bit-exact at any diameter
    "graph_bfs" -> {
      def relax(prev: String, cur: String): String =
        s"""$cur AS (
           |  SELECT node, min(dist) AS dist FROM (
           |    SELECT node, dist FROM $prev
           |    UNION ALL
           |    SELECT e.b AS node, d.dist + 1 AS dist
           |    FROM $prev d JOIN pairs e ON d.node = e.a)
           |  GROUP BY node)""".stripMargin
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |pairs AS (
         |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         |d0 AS (SELECT (SELECT min(l_partkey) FROM li) AS node, CAST(0 AS BIGINT) AS dist),
         |${relax("d0", "d1")},
         |${relax("d1", "d2")},
         |${relax("d2", "d3")},
         |${relax("d3", "d4")}
         |SELECT node AS part_id, CAST(dist AS BIGINT) AS dist FROM d4""".stripMargin
    },
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)/count(*) AS avg_qty,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' GROUP BY 1,2""".stripMargin,
    "q3_topk" ->
      """SELECT o_orderkey,
        | CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | CAST(o_orderdate AS DATE) AS o_orderdate
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey JOIN customer ON o_custkey=c_custkey
        |WHERE c_mktsegment='BUILDING' AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q5_multijoin" ->
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        | JOIN customer ON o_custkey=c_custkey
        | JOIN supplier ON l_suppkey=s_suppkey AND c_nationkey=s_nationkey
        | JOIN nation ON s_nationkey=n_nationkey
        | JOIN region ON n_regionkey=r_regionkey
        |WHERE r_name='ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,
    "q_broadcast_join" ->
      """SELECT p_brand, CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey=p_partkey GROUP BY p_brand""".stripMargin,
    "q_semijoin" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
        |FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey=c.c_custkey)
        |GROUP BY 1""".stripMargin,
    "q_antijoin" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey=c.c_custkey AND o.o_totalprice > 400000.0)""".stripMargin,
    "q_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q_setops" ->
      """SELECT 'both' AS tag, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment='BUILDING'
        |  INTERSECT SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)
        |UNION ALL
        |SELECT 'only_cust' AS tag, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment='BUILDING'
        |  EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)""".stripMargin,
    "q_window_rank" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) r WHERE rnk <= 3""".stripMargin,
    "q_topk_per_group" ->
      """SELECT n_name, c_custkey, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer) c JOIN nation ON c_nationkey=n_nationkey WHERE rn=1""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        | CAST(sum(CAST(CASE WHEN o_orderstatus='F' THEN o_totalprice END AS DECIMAL(18,4))) AS DOUBLE) AS total_f,
        | CAST(sum(CAST(CASE WHEN o_orderstatus='O' THEN o_totalprice END AS DECIMAL(18,4))) AS DOUBLE) AS total_o,
        | CAST(sum(CAST(CASE WHEN o_orderstatus='P' THEN o_totalprice END AS DECIMAL(18,4))) AS DOUBLE) AS total_p,
        | count(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_totalprice > (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)/count(*) FROM orders)
        |GROUP BY 1""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS p50,
        | quantile_cont(l_extendedprice, 0.9) AS p90, count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS name_upper, substring(p_type,1,5) AS type_prefix,
        | CAST(length(p_name) AS BIGINT) AS name_len, concat_ws('-', p_brand, p_type) AS brand_type,
        | CAST(length(regexp_replace(lower(p_name), '[^aeiou]', '', 'g')) AS BIGINT) AS n_vowels
        |FROM part""".stripMargin,
    "q_date_funcs" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, CAST(month(o_orderdate) AS BIGINT) AS o_month,
        | count(*) AS n_orders, CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1,2""".stripMargin,
    "q_json_extract" ->
      """SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1""".stripMargin,
    "q_upsert" ->
      """WITH target AS (
        |  SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 <> 0),
        |changes AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS delta
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT coalesce(c_custkey, o_custkey) AS c_custkey,
        |  CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 'update'
        |       WHEN c_custkey IS NULL THEN 'insert'
        |       ELSE 'keep' END AS action,
        |  coalesce(c_acctbal, 0.0) + coalesce(delta, 0.0) AS new_bal
        |FROM target FULL OUTER JOIN changes ON c_custkey = o_custkey""".stripMargin,
    // q_upsert_versioned result has round-tripped through the
    // VersionedTable commit log (stage -> manifest publish -> manifest-
    // selected read); the oracle replays the merge semantics in SQL
    "q_upsert_versioned" ->
      """WITH target AS (
        |  SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 <> 0),
        |updates AS (
        |  SELECT o_custkey AS c_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS c_acctbal
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT coalesce(t.c_custkey, u.c_custkey) AS c_custkey,
        |  coalesce(u.c_acctbal, t.c_acctbal) AS c_acctbal
        |FROM target t FULL OUTER JOIN updates u ON t.c_custkey = u.c_custkey""".stripMargin,
    // q_time_travel pins version 1 AFTER a later upsert committed: the
    // oracle is the plain pre-merge slice — any v2 file leaking into
    // (or v1 file missing from) the pinned read fails the hash check
    "q_time_travel" ->
      "SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 <> 0",
    // q_zone_map_read went through manifest zone-map file skipping
    // (the query itself asserts files were skipped); the oracle is the
    // plain range filter that skipping must be invisible to. The
    // bounds replicate the query's max/3 thirds arithmetic.
    "q_zone_map_read" ->
      """WITH b AS (SELECT max(c_custkey) // 3 AS third FROM customer)
        |SELECT c_custkey, c_acctbal FROM customer, b
        |WHERE c_custkey > third AND c_custkey <= 2 * third""".stripMargin,
    // q_bloom_skip went through the per-file bloom sidecars on a
    // hash-scattered layout (the query asserts files were skipped and
    // routes the result through read + a plain IN filter, so
    // the pruning ran inside Catalyst planning); the oracle is the
    // plain point lookup the skipping must be invisible to
    "q_bloom_skip" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_custkey IN (7, 310, 1022, 1333)""".stripMargin,
    // q_zone_map_auto went through the ZoneMapFileIndex: the SAME
    // range arrives as a plain .filter() and the FileIndex prunes at
    // planning time — oracle identical to q_zone_map_read by design
    "q_zone_map_auto" ->
      """WITH b AS (SELECT max(c_custkey) // 3 AS third FROM customer)
        |SELECT c_custkey, c_acctbal FROM customer, b
        |WHERE c_custkey > third AND c_custkey <= 2 * third""".stripMargin,
    // q_sql_catalog went through the SQL catalog (graft.sql.GraftCatalog):
    // head leg = the zone-map range read the SQL plan must prune on
    // (asserted in-query via the plan's numFiles), time-travel leg =
    // VERSION AS OF the first commit. The oracle replays both legs
    // over the source table with the same max/3 thirds arithmetic.
    "q_sql_catalog" ->
      """WITH b AS (SELECT max(c_custkey) // 3 AS third FROM customer)
        |SELECT c_custkey, c_acctbal, 'head' AS src FROM customer, b
        |WHERE c_custkey > third AND c_custkey <= 2 * third
        |UNION ALL
        |SELECT c_custkey, c_acctbal, 'v1' AS src FROM customer, b
        |WHERE c_custkey <= third""".stripMargin,
    // q_sql_dml ran the whole lifecycle in SQL text — CTAS (even keys)
    // + INSERT INTO (odd keys) + DELETE FROM (negative balances, COW)
    // + UPDATE (BUILDING balances +100) + ALTER TABLE RENAME COLUMN +
    // a VERSION AS OF pre-delete leg. The oracle replays the NET
    // effect: survivors are the rows the delete kept (condition false
    // OR NULL — SQL DELETE semantics) with the update's arithmetic
    // applied, the pre-delete leg is the plain total.
    "q_sql_dml" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |       CAST(SUM(CAST(CASE WHEN c_mktsegment = 'BUILDING'
        |                          THEN c_acctbal + 100 ELSE c_acctbal END
        |                     AS DECIMAL(18,4))) AS DOUBLE) AS bal
        |FROM customer
        |WHERE c_acctbal >= 0 OR c_acctbal IS NULL
        |GROUP BY c_mktsegment
        |UNION ALL
        |SELECT 'PRE_DELETE' AS c_mktsegment, COUNT(*) AS n,
        |       CAST(0 AS DOUBLE) AS bal
        |FROM customer""".stripMargin,
    // q_sql_partitioned ran CREATE…PARTITIONED BY + routed INSERT +
    // a partition-scoped keyed MERGE in pure SQL (COW identity of
    // untouched partitions asserted in-query): non-urgent rows are
    // unchanged, '1-URGENT' rows take doubled prices, synthetic
    // urgent keys (+10^7, o_orderkey % 7 = 0) insert.
    "q_sql_partitioned" ->
      """WITH merged AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS p,
        |         o_orderpriority
        |  FROM orders WHERE o_orderpriority <> '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) * 2 AS p,
        |         o_orderpriority
        |  FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderkey + 10000000 AS o_orderkey,
        |         CAST(42.0 AS DOUBLE) AS p, '1-URGENT' AS o_orderpriority
        |  FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 7 = 0)
        |SELECT o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(p AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM merged GROUP BY o_orderpriority""".stripMargin,
    // q_sql_history ran a deterministic five-statement lifecycle and
    // read the commit log back through DESC HISTORY (version, op) —
    // one commit per statement, in order, is the protocol contract;
    // the oracle pins the sequence as a literal (timestamps and file
    // counts are host-dependent and stripped).
    "q_sql_history" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'overwrite'),
        |  (CAST(2 AS BIGINT), 'append'),
        |  (CAST(3 AS BIGINT), 'append'),
        |  (CAST(4 AS BIGINT), 'delete'),
        |  (CAST(5 AS BIGINT), 'update'),
        |  (CAST(6 AS BIGINT), 'rename_column')) AS t(version, op)""".stripMargin,
    // q_sql_merge ran the canonical-upsert MERGE in SQL text over a
    // CTAS'd supplier table: matched keys (s_suppkey % 3 = 0) take
    // doubled balances, unmatched synthetic keys (+10^6) insert. The
    // oracle composes the same source union with the untouched rows.
    "q_sql_merge" ->
      """WITH src AS (
        |  SELECT s_suppkey, s_acctbal * 2 AS s_acctbal FROM supplier
        |  WHERE s_suppkey % 3 = 0
        |  UNION ALL
        |  SELECT s_suppkey + 1000000 AS s_suppkey,
        |         CAST(42.0 AS DOUBLE) AS s_acctbal FROM supplier
        |  WHERE s_suppkey % 7 = 0),
        |merged AS (
        |  SELECT * FROM src
        |  UNION ALL
        |  SELECT s_suppkey, s_acctbal FROM supplier
        |  WHERE s_suppkey NOT IN (SELECT s_suppkey FROM src))
        |SELECT COUNT(*) AS n,
        |       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM merged""".stripMargin,
    // q_sql_merge_by_source ran the three-clause-family MERGE in SQL
    // text (matched update, unmatched insert, BY SOURCE first-match-
    // wins delete/re-flag; scoped-path bypass asserted in-query). The
    // oracle composes the three row fates: matched keys doubled,
    // synthetic keys inserted, source-missing keys deleted when
    // negative and re-flagged +1000 otherwise.
    "q_sql_merge_by_source" ->
      """WITH merged AS (
        |  SELECT s_suppkey, s_acctbal * 2 AS s_acctbal FROM supplier
        |  WHERE s_suppkey % 3 = 0
        |  UNION ALL
        |  SELECT s_suppkey + 1000000 AS s_suppkey,
        |         CAST(42.0 AS DOUBLE) AS s_acctbal FROM supplier
        |  WHERE s_suppkey % 7 = 0
        |  UNION ALL
        |  SELECT s_suppkey, s_acctbal + 1000 AS s_acctbal FROM supplier
        |  WHERE s_suppkey % 3 <> 0 AND NOT (s_acctbal < 0))
        |SELECT s_suppkey % 5 AS grp, COUNT(*) AS n,
        |       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM merged GROUP BY s_suppkey % 5""".stripMargin,
    // q_sql_merge_clauses ran the FULL MERGE clause grammar in one
    // statement (conditional matched update reading both sides,
    // catch-all matched delete, conditional key-only insert, both
    // by-source forms); the oracle composes the five row fates:
    // matched keys re-price to 3x when the doubled balance clears
    // 5000 and delete otherwise, even synthetic keys insert with NULL
    // balance, source-missing rows delete when negative and re-flag
    // +1000 otherwise.
    "q_sql_merge_clauses" ->
      """WITH merged AS (
        |  SELECT s_suppkey, s_acctbal + s_acctbal * 2 AS s_acctbal
        |  FROM supplier
        |  WHERE s_suppkey % 3 = 0 AND s_acctbal * 2 > 5000
        |  UNION ALL
        |  SELECT s_suppkey + 1000000 AS s_suppkey,
        |         CAST(NULL AS DOUBLE) AS s_acctbal FROM supplier
        |  WHERE s_suppkey % 7 = 0 AND (s_suppkey + 1000000) % 2 = 0
        |  UNION ALL
        |  SELECT s_suppkey, s_acctbal + 1000 AS s_acctbal FROM supplier
        |  WHERE s_suppkey % 3 <> 0 AND NOT (s_acctbal < 0))
        |SELECT s_suppkey % 5 AS grp, COUNT(*) AS n, COUNT(s_acctbal) AS n_bal,
        |       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM merged GROUP BY s_suppkey % 5""".stripMargin,
    // q_sql_mat_view ran CREATE MATERIALIZED VIEW (first fold) +
    // REFRESH MATERIALIZED VIEW over a one-nation INSERT delta
    // (bucketed state, untouched-bucket file identity required
    // in-query); the oracle recomputes the aggregate from scratch
    // over base ∪ delta — incremental maintenance must be
    // indistinguishable from full recompute.
    "q_sql_mat_view" ->
      """WITH combined AS (
        |  SELECT s_nationkey, CAST(s_acctbal AS DECIMAL(12,2)) AS bal
        |  FROM supplier
        |  UNION ALL
        |  SELECT s_nationkey, CAST(s_acctbal * 2 AS DECIMAL(12,2)) AS bal
        |  FROM supplier
        |  WHERE s_nationkey = (SELECT MIN(s_nationkey) FROM supplier))
        |SELECT s_nationkey, COUNT(*) AS mv_count,
        |       CAST(SUM(CAST(bal AS DECIMAL(28,4))) AS DOUBLE) AS total
        |FROM combined GROUP BY s_nationkey""".stripMargin,
    // q_sql_mat_view_shapes ran the round-12 MV shapes (AVG with
    // derived read + hidden state, MIN/MAX semilattice, two-table
    // join) through one incremental INSERT delta; the oracle
    // recomputes every metric from scratch over base ∪ delta. The avg
    // is derived EXACTLY as the engine does: exact DECIMAL sum cast
    // to DOUBLE, divided by the non-null count in double.
    "q_sql_mat_view_shapes" ->
      """WITH combined AS (
        |  SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
        |         CAST(s_acctbal AS DECIMAL(12,2)) AS bal
        |  FROM supplier
        |  UNION ALL
        |  SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
        |         CAST(s_acctbal * 2 AS DECIMAL(12,2)) AS bal
        |  FROM supplier
        |  WHERE s_nationkey = (SELECT MIN(s_nationkey) FROM supplier))
        |SELECT s_nationkey AS grp, 'avg' AS metric,
        |       CAST(SUM(CAST(bal AS DECIMAL(28,4))) AS DOUBLE)
        |         / CAST(COUNT(bal) AS DOUBLE) AS val
        |FROM combined GROUP BY s_nationkey
        |UNION ALL
        |SELECT s_nationkey, 'min', CAST(MIN(bal) AS DOUBLE)
        |FROM combined GROUP BY s_nationkey
        |UNION ALL
        |SELECT s_nationkey, 'max', CAST(MAX(bal) AS DOUBLE)
        |FROM combined GROUP BY s_nationkey
        |UNION ALL
        |SELECT CAST(n.n_regionkey AS BIGINT), 'region_sum',
        |       CAST(SUM(CAST(c.bal AS DECIMAL(28,4))) AS DOUBLE)
        |FROM combined c JOIN nation n ON c.s_nationkey = n.n_nationkey
        |GROUP BY n.n_regionkey
        |UNION ALL
        |SELECT CAST(n.n_regionkey AS BIGINT), 'region_avg',
        |       CAST(SUM(CAST(c.bal AS DECIMAL(28,4))) AS DOUBLE)
        |         / CAST(COUNT(c.bal) AS DOUBLE)
        |FROM combined c JOIN nation n ON c.s_nationkey = n.n_nationkey
        |GROUP BY n.n_regionkey
        |UNION ALL
        |SELECT s_nationkey, 'var',
        |       CAST(SUM(bal * bal) AS DOUBLE) / CAST(COUNT(bal) AS DOUBLE)
        |         - (CAST(SUM(CAST(bal AS DECIMAL(28,4))) AS DOUBLE)
        |              / CAST(COUNT(bal) AS DOUBLE))
        |           * (CAST(SUM(CAST(bal AS DECIMAL(28,4))) AS DOUBLE)
        |              / CAST(COUNT(bal) AS DOUBLE))
        |FROM combined GROUP BY s_nationkey
        |UNION ALL
        |SELECT s_nationkey, 'std',
        |       sqrt(CAST(SUM(bal * bal) AS DOUBLE) / CAST(COUNT(bal) AS DOUBLE)
        |         - (CAST(SUM(CAST(bal AS DECIMAL(28,4))) AS DOUBLE)
        |              / CAST(COUNT(bal) AS DOUBLE))
        |           * (CAST(SUM(CAST(bal AS DECIMAL(28,4))) AS DOUBLE)
        |              / CAST(COUNT(bal) AS DOUBLE)))
        |FROM combined GROUP BY s_nationkey
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT), CONCAT('chain_', r.r_name),
        |       CAST(SUM(CAST(c.bal AS DECIMAL(28,4))) AS DOUBLE)
        |FROM combined c JOIN nation n ON c.s_nationkey = n.n_nationkey
        |                JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name
        |UNION ALL
        |SELECT s_nationkey, 'dblsum',
        |       CAST(SUM(CAST(bal * 2 + 1 AS DECIMAL(28,4))) AS DOUBLE)
        |FROM combined GROUP BY s_nationkey""".stripMargin,
    // q_sql_call ran CALL graft.system.compact/history/vacuum between
    // the build and the read (asserted in-query: one file after
    // compact, five history rows, four versions dropped); the oracle
    // sees none of it — maintenance must be invisible to the data.
    "q_sql_call" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    // q_zone_map_date/decimal went through the round-7 DATE / DECIMAL
    // footer-stats zone maps (each query asserts files were skipped);
    // the oracles are the plain range filters skipping must be
    // invisible to. Probe bounds sit strictly inside the middle
    // commit's band so the exact native-literal residual is exercised.
    "q_zone_map_date" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date FROM orders
        |WHERE CAST(o_orderdate AS DATE)
        |  BETWEEN DATE '1997-07-01' AND DATE '1998-06-30'""".stripMargin,
    "q_zone_map_decimal" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price FROM orders
        |WHERE CAST(o_totalprice AS DECIMAL(12,2))
        |  BETWEEN 60000.00 AND 140000.00""".stripMargin,
    // q_optimize_cluster/zorder went through OPTIMIZE rewrites (sort
    // / Z-order layouts); the queries assert the file skipping, the
    // oracles are the plain filters a layout change must not affect
    "q_optimize_cluster" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        |FROM orders
        |WHERE CAST(o_totalprice AS DECIMAL(12,2))
        |  BETWEEN 60000.00 AND 140000.00""".stripMargin,
    "q_optimize_zorder" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        |FROM orders
        |WHERE o_custkey <= (SELECT max(o_custkey) // 4 FROM orders)
        |  AND CAST(o_totalprice AS DECIMAL(12,2)) <= 80000.00""".stripMargin,
    // q_zone_map_multi: conjunctive date+price probe over the 3x2
    // clustered commit layout (the query asserts BOTH predicates
    // eliminated files); oracle = the plain two-predicate filter
    "q_zone_map_multi" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price FROM orders
        |WHERE CAST(o_orderdate AS DATE)
        |    BETWEEN DATE '1997-07-01' AND DATE '1998-06-30'
        |  AND CAST(o_totalprice AS DECIMAL(12,2))
        |    BETWEEN 120000.00 AND 400000.00""".stripMargin,
    // q_zone_map_string: lexicographic probe over the priority-
    // clustered layout; ASCII-only domain keeps DuckDB's binary
    // collation, parquet's byte-order stats and Spark's UTF8 compare
    // in agreement
    "q_zone_map_string" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE o_orderpriority BETWEEN '3' AND '3~'""".stripMargin,
    // q_zone_map_prefix: the startsWith probe through the automatic
    // read path (prefix -> [p, p ++ DEL) interval inside the
    // FileIndex); oracle is the plain LIKE prefix filter
    "q_zone_map_prefix" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE o_orderpriority LIKE '3%'""".stripMargin,
    // q_delete_versioned: predicate DELETE through the commit log with
    // copy-on-write pruning (the query asserts the untouched clusters'
    // files carried by reference); oracle = the surviving row set
    "q_delete_versioned" ->
      """WITH b AS (SELECT max(c_custkey) // 3 AS third FROM customer)
        |SELECT c_custkey, c_acctbal FROM customer, b
        |WHERE NOT (c_custkey > third + 1 AND c_custkey <= 2 * third - 1
        |  AND c_acctbal < 0)""".stripMargin,
    // q_update_versioned: predicate UPDATE (COW, top price band only —
    // asserted); oracle replays the CASE WHEN assignment
    "q_update_versioned" ->
      """SELECT o_orderkey,
        |  CASE WHEN CAST(o_totalprice AS DECIMAL(12,2)) > 200000.00
        |    THEN 'X-' || o_orderpriority ELSE o_orderpriority END AS o_orderpriority,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        |FROM orders""".stripMargin,
    // q_delete_mor / q_update_mor: the merge-on-read twins — same
    // surviving-row semantics as the COW queries (the oracle can't
    // tell HOW the rows died, which is the point: deletion vectors
    // are invisible to readers); the in-query requires pin the
    // zero-rewrite property
    "q_delete_mor" ->
      """WITH b AS (SELECT max(c_custkey) // 3 AS third FROM customer)
        |SELECT c_custkey, c_acctbal FROM customer, b
        |WHERE NOT (c_custkey > third + 1 AND c_custkey <= 2 * third - 1
        |  AND c_acctbal < 0)""".stripMargin,
    "q_update_mor" ->
      """SELECT o_orderkey,
        |  CASE WHEN CAST(o_totalprice AS DECIMAL(12,2)) > 200000.00
        |    THEN 'X-' || o_orderpriority ELSE o_orderpriority END AS o_orderpriority,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        |FROM orders""".stripMargin,
    // q_count_meta: COUNT(*) from manifest + stats metadata (plus the
    // tiny deletion vector) — no data-file scan on the Spark side
    "q_count_meta" ->
      """SELECT count(*) AS cnt FROM orders
        |WHERE NOT (CAST(o_totalprice AS DECIMAL(12,2)) < 10000.00)""".stripMargin,
    // q_restore: after undoing the odd-key append, the head reads
    // exactly the even-key v1 slice (file-list identity asserted
    // in-query — the restore moved zero data)
    "q_restore" ->
      """SELECT s_suppkey, CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS s_acctbal
        |FROM supplier WHERE s_suppkey % 2 = 0""".stripMargin,
    // q_clone: the clone's head after divergence = the full base
    // snapshot (unaffected by src's later delete) plus the appended
    // +100.00 batch; zero-copy + vacuum-survival asserted in-query
    "q_clone" ->
      """SELECT s_suppkey, s_nationkey,
        |       CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS s_acctbal
        |FROM supplier
        |UNION ALL
        |SELECT s_suppkey, s_nationkey,
        |       CAST(CAST(CAST(s_acctbal AS DECIMAL(12,2)) + 100.00 AS DECIMAL(12,2)) AS DOUBLE) AS s_acctbal
        |FROM supplier WHERE s_suppkey % 7 = 0""".stripMargin,
    // q_mat_view: incremental maintenance must be indistinguishable
    // from a full recompute of the defining aggregate over the rows
    // surviving the three commits (H1 overwrite, H2 append, < 50000
    // delete)
    "q_mat_view" ->
      """SELECT o_custkey, count(*) AS mv_count,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(18,4))) AS DOUBLE) AS mv_sum
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND NOT (CAST(o_totalprice AS DECIMAL(12,2)) < 50000.00)
        |GROUP BY 1""".stripMargin,
    // q_mat_view_bucketed: the bucketed (O(touched)-write) state must
    // equal the same full recompute minus the one deleted customer
    "q_mat_view_bucketed" ->
      """SELECT o_custkey, count(*) AS mv_count,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(18,4))) AS DOUBLE) AS mv_sum
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND o_custkey <> (SELECT min(o_custkey) FROM orders
        |                    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |                      AND o_orderdate < TIMESTAMP '1998-01-01')
        |GROUP BY 1""".stripMargin,
    // q_partition_join: the value-pair-aligned join over two
    // partitioned tables (dim's 5-LOW partition dropped — pruned at
    // the manifest on the fact side too) must equal the plain join
    "q_partition_join" ->
      """SELECT o_orderpriority, substr(o_orderpriority, 1, 1) AS pr,
        |  count(*) AS n,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS DOUBLE) AS spend
        |FROM orders WHERE o_orderpriority <> '5-LOW'
        |GROUP BY 1, 2""".stripMargin,
    // q_zone_map_nested: the struct-nested price band must resolve to
    // the flat source band (file skipping asserted in-query on the
    // dotted stats name AND exercised through the automatic path)
    "q_zone_map_nested" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
        |  o_orderpriority AS prio
        |FROM orders
        |WHERE CAST(o_totalprice AS DECIMAL(12,2)) >= 60000
        |  AND CAST(o_totalprice AS DECIMAL(12,2)) <= 140000""".stripMargin,
    // q_id_mapping: after rename -> drop -> re-add under fresh column
    // ids, pre-drop rows read NULL priority (no resurrection) while
    // the re-added column's own values survive — the CASE replay
    "q_id_mapping" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS priority,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        |FROM orders""".stripMargin,
    // q_partition_join_outer: the aligned LEFT join preserves the
    // dropped dim value's fact rows null-extended — the CASE replay
    "q_partition_join_outer" ->
      """SELECT o_orderpriority,
        |  CASE WHEN o_orderpriority <> '5-LOW'
        |       THEN substr(o_orderpriority, 1, 1) END AS pr,
        |  count(*) AS n,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS DOUBLE) AS spend
        |FROM orders
        |GROUP BY 1, 2""".stripMargin,
    // q_mat_view_stats: abelian count/sum/sum-of-squares maintenance
    // must land exactly at the from-scratch aggregate; avg/var derive
    // in double with the SAME op order on both sides (exact decimal
    // components -> identical doubles)
    "q_mat_view_stats" ->
      """WITH s AS (
        |  SELECT o_custkey, count(*) AS mv_count,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sum_d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sumsq_d,
        |    CAST(count(o_totalprice) AS DOUBLE) AS n
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |    AND NOT (CAST(o_totalprice AS DECIMAL(12,2)) < 50000.00)
        |  GROUP BY 1)
        |SELECT o_custkey, mv_count, sum_d AS mv_sum,
        |  sum_d / n AS mv_avg,
        |  sumsq_d / n - (sum_d / n) * (sum_d / n) AS mv_var
        |FROM s""".stripMargin,
    // q_multi_commit: after two atomic multi-table transactions, the
    // catalog-pinned join must equal the plain join over the complete
    // source tables (the protocol asserts live in-query)
    "q_multi_commit" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS DOUBLE) AS spend
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    // q_multi_mutate: a cross-table DELETE+UPDATE transaction must
    // resolve to the plain NOT(pred) / CASE rewrite of the sources
    "q_multi_mutate" ->
      """SELECT c_mktsegment,
        |  CASE WHEN c_custkey % 10 = 3 THEN 'erased' ELSE 'live' END AS status,
        |  count(*) AS n,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS DOUBLE) AS spend
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE NOT (CAST(o_totalprice AS DECIMAL(12,2)) < 10000.00)
        |GROUP BY 1, 2""".stripMargin,
    // q_drop_partition: after the metadata-only drop of the 3-MEDIUM
    // value directory, the head reads exactly the other priorities'
    // rows (file-subtraction identity asserted in-query)
    "q_drop_partition" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        |FROM orders WHERE o_orderpriority <> '3-MEDIUM'""".stripMargin,
    // q_mat_view_minmax: semilattice merges (append) + delta-scoped
    // recompute (top-band delete touched the stored maxima) must land
    // exactly at the from-scratch extrema over the surviving rows
    "q_mat_view_minmax" ->
      """SELECT o_custkey, count(*) AS mv_count,
        |  CAST(min(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS mv_min,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS mv_max
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND NOT (CAST(o_totalprice AS DECIMAL(12,2)) > 300000.00)
        |GROUP BY 1""".stripMargin,
    // q_mat_view_join: the joined view's delta-join maintenance must
    // land exactly at the from-scratch join-aggregate over the FINAL
    // state of both sides (1997 fact minus the deleted small orders,
    // the COMPLETE dim after its second append)
    "q_mat_view_join" ->
      """SELECT c_mktsegment, count(*) AS mv_count,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS DOUBLE) AS mv_sum
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND NOT (CAST(o_totalprice AS DECIMAL(12,2)) < 50000.00)
        |GROUP BY 1""".stripMargin,
    // q_mat_view_chain: the 3-table chain view's telescoping
    // maintenance must land exactly at the from-scratch 3-way join
    // aggregate over the FINAL state of all sides (full fact, mid
    // minus the %7 customers, dim minus nations >= 20)
    "q_mat_view_chain" ->
      """SELECT n_name, count(*) AS mv_count,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS DOUBLE) AS mv_sum
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND NOT (c_custkey % 7 = 0) AND NOT (n_nationkey >= 20)
        |GROUP BY 1""".stripMargin,
    // q_mat_view_nested: the outer view's rollup of the inner view's
    // state deltas must equal all three rollup levels recomputed from
    // the surviving source rows — groups (distinct custkeys), rows,
    // and spend per bucket
    "q_mat_view_nested" ->
      """SELECT o_custkey % 10 AS bucket,
        |  count(DISTINCT o_custkey) AS n_groups,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND NOT (CAST(o_totalprice AS DECIMAL(12,2)) < 60000.00)
        |GROUP BY 1""".stripMargin,
    // q_mat_view_factored: the higher-order (fact pre-aggregated)
    // factoring must land exactly at the from-scratch 3-way join's
    // three rollup levels — live customers, order rows, spend
    "q_mat_view_factored" ->
      """SELECT n_name,
        |  count(DISTINCT o_custkey) AS n_custs,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS DOUBLE) AS spend
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND NOT (c_custkey % 7 = 0)
        |  AND NOT (CAST(o_totalprice AS DECIMAL(12,2)) < 60000.00)
        |GROUP BY 1""".stripMargin,
    // q_zone_map_nulls: the IS NOT NULL survivors of the three
    // nullness-clustered commits (all-null %4=0 slice excluded, %4=1
    // fully kept, %4>=2 kept only where %3=0 made the value non-null)
    "q_zone_map_nulls" ->
      """SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS c_acctbal
        |FROM customer WHERE c_custkey % 4 = 1
        |UNION ALL
        |SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS c_acctbal
        |FROM customer WHERE c_custkey % 4 >= 2 AND c_custkey % 3 = 0""".stripMargin,
    // q_check_constraint: the head after the valid append — the
    // violating append published nothing (asserted in-query)
    "q_check_constraint" ->
      """SELECT s_suppkey, CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS s_acctbal
        |FROM supplier
        |UNION ALL
        |SELECT s_suppkey + 100000,
        |       CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS s_acctbal
        |FROM supplier WHERE s_suppkey % 5 = 0""".stripMargin,
    // q_rename_column: the head after the metadata-only rename + an
    // append under the new name (file identity asserted in-query);
    // pre-rename files' physical column translates at read
    "q_rename_column" ->
      """SELECT s_suppkey, CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS balance
        |FROM supplier
        |UNION ALL
        |SELECT s_suppkey + 100000,
        |       CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS balance
        |FROM supplier WHERE s_suppkey % 4 = 0""".stripMargin,
    // q_add_column: the head after the metadata-only ADD COLUMN (file
    // identity asserted in-query — zero data IO) + an append that
    // populates the new column; pre-add rows read it as NULL
    "q_add_column" ->
      """SELECT s_suppkey, CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS s_acctbal,
        |       CAST(NULL AS BIGINT) AS s_tier
        |FROM supplier
        |UNION ALL
        |SELECT s_suppkey + 100000,
        |       CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS s_acctbal,
        |       s_suppkey % 5 AS s_tier
        |FROM supplier WHERE s_suppkey % 3 = 0""".stripMargin,
    // q_drop_column: the head after the metadata-only drop + the
    // narrowed-schema append (file identity asserted in-query)
    "q_drop_column" ->
      """SELECT s_suppkey, CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS s_acctbal
        |FROM supplier
        |UNION ALL
        |SELECT s_suppkey + 100000,
        |       CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS s_acctbal
        |FROM supplier WHERE s_suppkey % 3 = 0""".stripMargin,
    // q_table_changes: the v1->v2 CDC delta; both EXCEPT ALL
    // directions replayed over the same merge the upsert committed
    "q_table_changes" ->
      """WITH target AS (
        |  SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 <> 0),
        |updates AS (
        |  SELECT o_custkey AS c_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS c_acctbal
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1),
        |merged AS (
        |  SELECT coalesce(t.c_custkey, u.c_custkey) AS c_custkey,
        |    coalesce(u.c_acctbal, t.c_acctbal) AS c_acctbal
        |  FROM target t FULL OUTER JOIN updates u ON t.c_custkey = u.c_custkey)
        |SELECT *, 'insert' AS _change FROM
        |  (SELECT * FROM merged EXCEPT ALL SELECT * FROM target)
        |UNION ALL
        |SELECT *, 'delete' AS _change FROM
        |  (SELECT * FROM target EXCEPT ALL SELECT * FROM merged)""".stripMargin,
    // q_synth_docs: the generator is a PURE function of doc_id with a
    // deliberately SQL-replayable lang hash (Knuth multiplicative mod
    // 2^32 — see SyntheticDocsSource.langOf), so the oracle rebuilds
    // the scanned id range with DuckDB's range() and replays the hash
    // in plain BIGINT arithmetic. No source tables involved.
    "q_synth_docs" ->
      """WITH ids AS (
        |  SELECT range AS doc_id FROM range(0, 200000)
        |  WHERE range >= 50000 AND range < 150000),
        |langs AS (
        |  SELECT doc_id,
        |    CASE ((doc_id * 2654435761) % 4294967296) % 4
        |      WHEN 0 THEN 'en' WHEN 1 THEN 'de'
        |      WHEN 2 THEN 'es' ELSE 'fr' END AS lang
        |  FROM ids)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM langs GROUP BY lang""".stripMargin,
    "q_cdc_apply" ->
      """WITH log AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value,
        |    CASE WHEN event_type = 'purchase' THEN 'delete' ELSE 'upsert' END AS op,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id AS last_event_id, ts_s AS updated_s,
        |  value AS current_value
        |FROM log WHERE rn = 1 AND op = 'upsert'""".stripMargin,
    "q_scd2" ->
      """SELECT user_id, event_id, event_type AS state,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS valid_from_s,
        |  lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS valid_to_s,
        |  lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) IS NULL AS is_current
        |FROM events""".stripMargin,
    "q_islands" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |g AS (SELECT user_id, day,
        |  day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS grp FROM d)
        |SELECT user_id, min(day) AS island_start, max(day) AS island_end,
        |  count(*) AS days
        |FROM g GROUP BY user_id, grp""".stripMargin,
    "q_sessionize" ->
      """SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
        |  SELECT user_id, CASE WHEN prev_s IS NULL OR ts_s - prev_s > 1800 THEN 1 ELSE 0 END AS new_sess FROM (
        |    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |      lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_s
        |    FROM events) x) y GROUP BY user_id""".stripMargin,
    "q_window_tumbling" ->
      """SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour, event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1,2""".stripMargin,
    "q_skew_agg" ->
      """SELECT user_id, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
        | count(DISTINCT event_type) AS n_types
        |FROM events GROUP BY 1""".stripMargin,
    "q_asof_join" ->
      """SELECT event_id, o_orderkey, o_orderstatus FROM (
        |  SELECT e.event_id, o.o_orderkey, o.o_orderstatus,
        |    row_number() OVER (PARTITION BY e.event_id ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o ON e.user_id=o.o_custkey AND o.o_orderdate <= e.ts) x
        |WHERE rn=1""".stripMargin,
    "q_moving_avg" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM orders GROUP BY 1)
        |SELECT d, total,
        |  CAST(sum(CAST(total AS DECIMAL(18,4))) OVER w AS DOUBLE)
        |    / count(*) OVER w AS ma7
        |FROM daily WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_ntile" ->
      """SELECT o_orderkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank
        |FROM orders WINDOW w AS (ORDER BY o_totalprice, o_orderkey)""".stripMargin,
    "q_cume_dist" ->
      """SELECT c_custkey, c_acctbal, cume_dist() OVER w AS cume
        |FROM customer WINDOW w AS (ORDER BY c_acctbal, c_custkey)""".stripMargin,
    "q_correlated_subquery" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders o
        |WHERE o_totalprice > (
        |  SELECT CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)/count(*)
        |  FROM orders i WHERE i.o_custkey = o.o_custkey)
        |GROUP BY 1""".stripMargin,
    "q_array_agg" ->
      """SELECT l_orderkey, array_to_string(list_sort(list(l_linenumber)), ',') AS lines,
        | count(*) AS n_lines
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_null_funcs" ->
      """SELECT c_custkey,
        | coalesce(nullif(c_mktsegment, 'BUILDING'), 'IS_BUILDING') AS seg2,
        | CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS pos_bal,
        | CAST(c_acctbal IS NULL AS BIGINT) AS bal_is_null
        |FROM customer""".stripMargin,
    "q_cross_join" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation",
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "q_sample" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE (l_orderkey*31 + l_linenumber) % 20 = 0
        |GROUP BY 1""".stripMargin,
    "q_mode" ->
      """WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |           FROM orders GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY o_orderstatus ORDER BY n DESC, o_orderpriority) AS rn
        |      FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, n FROM r WHERE rn = 1""".stripMargin,
    // DuckDB's NATIVE distinct window aggregate — an independent
    // implementation of the semantics the Spark side rewrites to
    // dense_rank (cumulative frame ordered by the counted expression)
    "q_window_distinct" ->
      """SELECT o_orderkey, o_custkey,
        | CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        | count(DISTINCT date_trunc('month', o_orderdate)) OVER (
        |   PARTITION BY o_custkey ORDER BY date_trunc('month', o_orderdate)) AS n_distinct_months
        |FROM orders""".stripMargin,
    // the refreshed view must equal the one-shot aggregate — the
    // incremental-maintenance contract
    "q_incremental_agg" ->
      """SELECT o_custkey, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY 1""".stripMargin,
    "q_winsorize" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.01) AS lo,
        |    quantile_cont(l_extendedprice, 0.99) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(least(greatest(l_extendedprice, lo), hi) AS DECIMAL(18,4))) AS DOUBLE) AS sum_clipped,
        |  CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
        |  CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high
        |FROM lineitem l JOIN b USING (l_returnflag) GROUP BY 1""".stripMargin,
    "q_outliers" ->
      """WITH med AS (
        |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
        |  FROM lineitem GROUP BY 1),
        |dev AS (
        |  SELECT l.l_returnflag, med, abs(l_extendedprice - med) AS adev
        |  FROM lineitem l JOIN med USING (l_returnflag)),
        |mad AS (SELECT l_returnflag, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1)
        |SELECT d.l_returnflag, count(*) AS n, min(d.med) AS med, min(mad.mad) AS mad,
        |  CAST(sum(CASE WHEN adev > mad.mad * 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad USING (l_returnflag) GROUP BY 1""".stripMargin,
    "q_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events),
        |x AS (
        |  SELECT user_id, event_id, s,
        |    CASE WHEN lag(s) OVER w IS NULL OR s - lag(s) OVER w >= 1800
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
        |g AS (
        |  SELECT user_id, s,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM x)
        |SELECT user_id, min(s) AS session_start_s, max(s) AS last_event_s,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id, sess""".stripMargin,
    "q_train_test_split" ->
      s"""WITH $embHashCtes,
        |s AS (
        |  SELECT e2.label, CASE WHEN ((xx.h % 10) + 10) % 10 = 0 THEN 'test'
        |                        ELSE 'train' END AS split
        |  FROM xx JOIN embeddings e2 ON xx.vec_id = e2.vec_id)
        |SELECT split, label, count(*) AS n FROM s GROUP BY 1, 2""".stripMargin,
    // the squares are EXACT 64-bit integer products (q < 2^31 →
    // q² < 2^62), matching the engine's hi/lo long split — DuckDB's
    // sum(BIGINT) auto-promotes to HUGEINT, so Σq² is exact on both
    // sides before the one double cast
    "q_standardize" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(round(l_extendedprice * 1e4) AS BIGINT)) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(round(l_extendedprice * 1e4) AS BIGINT)
        |              * CAST(round(l_extendedprice * 1e4) AS BIGINT)) AS DOUBLE) AS sx2
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, l_orderkey, l_linenumber, l_extendedprice AS x,
        |  round((l_extendedprice - (sx / 1e4) / n) /
        |    sqrt((sx2 / 1e8) / n - ((sx / 1e4) / n) * ((sx / 1e4) / n)), 6) AS z
        |FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag""".stripMargin,
    "q_basket_cap_audit" ->
      """SELECT
        |  CAST(sum(CASE WHEN basket_sz > 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_baskets,
        |  CAST(sum(CASE WHEN basket_sz > 1000 THEN basket_sz - 1000 ELSE 0 END) AS BIGINT)
        |    AS rows_dropped,
        |  max(basket_sz) AS max_basket
        |FROM (SELECT l_orderkey, count(DISTINCT l_partkey) AS basket_sz
        |      FROM lineitem GROUP BY l_orderkey)""".stripMargin,
    "q_dq_audit" ->
      """SELECT 'orders_null_custkey' AS rule,
        |  (SELECT count(*) FROM orders) AS n_checked,
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS n_violations
        |UNION ALL
        |SELECT 'orders_orphan_custkey',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |UNION ALL
        |SELECT 'lineitem_nonpositive_price',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem WHERE l_extendedprice <= 0)
        |UNION ALL
        |SELECT 'lineitem_ship_before_order',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |   WHERE l.l_shipdate < o.o_orderdate)
        |UNION ALL
        |SELECT 'customer_negative_balance',
        |  (SELECT count(*) FROM customer),
        |  (SELECT count(*) FROM customer WHERE c_acctbal < 0)""".stripMargin,
    "q_rfm" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', DATE '1990-01-01', CAST(max(o_orderdate) AS DATE)) AS BIGINT) AS rec_days,
        |    count(*) AS freq,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS monetary
        |  FROM orders GROUP BY 1),
        |cuts AS (
        |  SELECT quantile_cont(rec_days, [0.25, 0.5, 0.75]) AS rq,
        |         quantile_cont(freq, [0.25, 0.5, 0.75]) AS fq,
        |         quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mq
        |  FROM pc)
        |SELECT o_custkey, rec_days, freq, monetary,
        |  1 + CAST(rec_days > rq[1] AS BIGINT) + CAST(rec_days > rq[2] AS BIGINT)
        |    + CAST(rec_days > rq[3] AS BIGINT) AS r_score,
        |  1 + CAST(freq > fq[1] AS BIGINT) + CAST(freq > fq[2] AS BIGINT)
        |    + CAST(freq > fq[3] AS BIGINT) AS f_score,
        |  1 + CAST(monetary > mq[1] AS BIGINT) + CAST(monetary > mq[2] AS BIGINT)
        |    + CAST(monetary > mq[3] AS BIGINT) AS m_score
        |FROM pc CROSS JOIN cuts""".stripMargin,
    "q_market_basket" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |n AS (SELECT count(DISTINCT o) AS n_orders FROM li),
        |pc AS (SELECT p, count(*) AS n_p FROM li GROUP BY 1),
        |pairs AS (
        |  SELECT a.p AS pa, b.p AS pb, count(*) AS n_ab
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |scored AS (
        |  SELECT pa, pb, n_ab,
        |    (CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE)) /
        |      (CAST(ca.n_p AS DOUBLE) * CAST(cb.n_p AS DOUBLE)) AS lift
        |  FROM pairs JOIN pc ca ON pa = ca.p JOIN pc cb ON pb = cb.p CROSS JOIN n)
        |SELECT pa, pb, n_ab, round(lift, 6) AS lift
        |FROM scored ORDER BY lift DESC, pa, pb LIMIT 50""".stripMargin,
    "q_drift" ->
      """WITH r AS (
        |  SELECT CAST(floor(value / 32) AS BIGINT) AS bucket, count(*) AS n_ref
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1),
        |c AS (
        |  SELECT CAST(floor(value / 32) AS BIGINT) AS bucket, count(*) AS n_cur
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY 1),
        |t AS (SELECT (SELECT sum(n_ref) FROM r) AS t_ref,
        |             (SELECT sum(n_cur) FROM c) AS t_cur)
        |SELECT coalesce(r.bucket, c.bucket) AS bucket,
        |  coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur,
        |  round(CAST(coalesce(n_ref, 0) AS DOUBLE) / CAST(t_ref AS DOUBLE), 6) AS p_ref,
        |  round(CAST(coalesce(n_cur, 0) AS DOUBLE) / CAST(t_cur AS DOUBLE), 6) AS p_cur,
        |  round(abs(CAST(coalesce(n_ref, 0) AS DOUBLE) / CAST(t_ref AS DOUBLE)
        |    - CAST(coalesce(n_cur, 0) AS DOUBLE) / CAST(t_cur AS DOUBLE)), 6) AS shift
        |FROM r FULL OUTER JOIN c ON r.bucket = c.bucket CROSS JOIN t""".stripMargin,
    "q_fuzzy_join" ->
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM part a JOIN part b
        |  ON a.p_partkey < b.p_partkey
        | AND abs(length(a.p_name) - length(b.p_name)) <= 2
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,
    "q_skyline" ->
      """SELECT p_partkey, p_retailprice, p_size FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))""".stripMargin,
    "q_profile" -> {
      def num(c: String, mn: String, mx: String): String =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           | count(*) - count($c) AS n_null, count(DISTINCT $c) AS n_distinct,
           | CAST($mn AS DOUBLE) AS min_d, CAST($mx AS DOUBLE) AS max_d FROM orders""".stripMargin
      Seq(
        num("o_orderkey", "min(o_orderkey)", "max(o_orderkey)"),
        num("o_custkey", "min(o_custkey)", "max(o_custkey)"),
        num("o_totalprice", "min(o_totalprice)", "max(o_totalprice)"),
        num("o_orderdate", "epoch_us(min(o_orderdate))", "epoch_us(max(o_orderdate))"),
        num("o_orderstatus", "NULL", "NULL"),
        num("o_orderpriority", "NULL", "NULL")).mkString("\nUNION ALL\n")
    },
    // priority sampling: splitmix64(o_orderkey) replayed in HUGEINT
    // (the tokenHashSql finalizer chain), then integer w/u priorities
    "q_weighted_sample" -> {
      import SqlU64._
      s"""WITH p0 AS (SELECT o_orderkey, o_totalprice,
         |    (CAST(o_orderkey AS HUGEINT) + ${lit(u(0x9e3779b97f4a7c15L))}) % $M64 AS z
         |  FROM orders),
         |p1 AS (SELECT o_orderkey, o_totalprice, ${mix("z", 30, 0xbf58476d1ce4e5b9L)} AS z FROM p0),
         |p2 AS (SELECT o_orderkey, o_totalprice, ${mix("z", 27, 0x94d049bb133111ebL)} AS z FROM p1),
         |ph AS (SELECT o_orderkey, o_totalprice, ${xor64("z", shr("z", 31))} AS h FROM p2),
         |pk AS (SELECT o_orderkey, o_totalprice,
         |    CAST(h // 8589934592 AS BIGINT) + 1 AS u32,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM ph)
         |SELECT o_orderkey, o_totalprice, (cents * 2147483648) // u32 AS priority
         |FROM pk ORDER BY priority DESC, o_orderkey LIMIT 50""".stripMargin
    },
    "dedup_exact" ->
      "SELECT min(doc_id) AS canonical_id, count(*) AS copies FROM documents GROUP BY text",
    "dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(list_transform(string_split(text, ' '),
        |    t -> lower(regexp_replace(t, '[^A-Za-z]', '', 'g'))), w -> w <> '') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    ts[CAST(i AS BIGINT)] || ' ' || ts[CAST(i AS BIGINT)+1] || ' ' || ts[CAST(i AS BIGINT)+2] AS shingle
        |  FROM toks, unnest(range(1, len(ts)-1)) AS t(i)),
        |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        |  FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id<b.doc_id GROUP BY 1,2)
        |SELECT id_a, id_b,
        |  CAST(common AS DOUBLE)/(sa.n_shingles + sb.n_shingles - common) AS jaccard
        |FROM pairs JOIN sizes sa ON id_a=sa.doc_id JOIN sizes sb ON id_b=sb.doc_id
        |WHERE CAST(common AS DOUBLE)/(sa.n_shingles + sb.n_shingles - common) >= 0.55""".stripMargin,
    "q_window_nav" ->
      """SELECT event_id, user_id,
        | lag(value, 1) OVER w AS prev_value,
        | lead(value, 1) OVER w AS next_value,
        | first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_value,
        | last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_value
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
    "q_string_agg" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations, count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY 1""".stripMargin,
    "q_regex" ->
      """SELECT p_partkey,
        | regexp_matches(p_type, '^ECONOMY|PROMO') AS is_cheap_line,
        | regexp_extract(p_type, '([A-Z]+)$', 1) AS last_word,
        | CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS BIGINT) AS vowel_runs
        |FROM part""".stripMargin,
    "q_stats_agg" ->
      """WITH c AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice*100) AS DECIMAL(18,0)) AS cx,
        |    CAST(round(l_quantity) AS DECIMAL(18,0)) AS qy
        |  FROM lineitem),
        |s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(cx) AS DOUBLE)/100.0 AS sum_x,
        |    CAST(sum(cx*cx) AS DOUBLE)/10000.0 AS sum_xx,
        |    CAST(sum(cx*qy) AS DOUBLE)/100.0 AS sum_xy,
        |    CAST(sum(qy) AS DOUBLE) AS sum_y,
        |    CAST(sum(qy*qy) AS DOUBLE) AS sum_yy
        |  FROM c GROUP BY 1)
        |SELECT l_returnflag, n,
        |  sum_x/n AS mean_x,
        |  (sum_xx - sum_x*sum_x/n)/nullif(CAST(n-1 AS DOUBLE), 0.0) AS var_x,
        |  sqrt((sum_xx - sum_x*sum_x/n)/nullif(CAST(n-1 AS DOUBLE), 0.0)) AS stddev_x,
        |  (sum_xy - sum_x*sum_y/n) /
        |    nullif(sqrt(sum_xx - sum_x*sum_x/n) * sqrt(sum_yy - sum_y*sum_y/n), 0.0) AS corr_xy
        |FROM s""".stripMargin,
    "q_arg_max" ->
      """SELECT o_orderpriority,
        | arg_max(o_orderkey, CAST(round(o_totalprice*10000) AS DECIMAL(38,0))*10000000000000 + o_orderkey) AS top_order,
        | arg_min(o_orderkey, CAST(round(o_totalprice*10000) AS DECIMAL(38,0))*10000000000000 + o_orderkey) AS bottom_order,
        | count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin,
    "q_having" ->
      """SELECT l_partkey,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty,
        | count(*) AS n
        |FROM lineitem GROUP BY 1
        |HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 500.0""".stripMargin,
    "q_range_join" ->
      """WITH win AS (
        |  SELECT event_id AS win_id,
        |    ts - INTERVAL 15 MINUTE AS ws, ts + INTERVAL 15 MINUTE AS we
        |  FROM events WHERE event_type='purchase' AND value > 200.0)
        |SELECT win_id, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM win JOIN events e ON e.ts >= ws AND e.ts < we
        |GROUP BY 1""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        | CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        | count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "q_range_frame" ->
      """SELECT o_orderkey, o_custkey,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |   PARTITION BY o_custkey ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
        |   RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_90d
        |FROM orders""".stripMargin,
    "q_setops_all" ->
      """WITH building AS (
        |  SELECT o_custkey FROM orders JOIN customer ON o_custkey=c_custkey
        |  WHERE c_mktsegment='BUILDING'),
        |big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0),
        |tagged AS (
        |  SELECT 'both_all' AS tag, o_custkey FROM (
        |    SELECT * FROM building INTERSECT ALL SELECT * FROM big)
        |  UNION ALL
        |  SELECT 'only_building_all' AS tag, o_custkey FROM (
        |    SELECT * FROM building EXCEPT ALL SELECT * FROM big))
        |SELECT tag, o_custkey, count(*) AS n FROM tagged GROUP BY 1,2""".stripMargin,
    "q_cond_agg" ->
      """SELECT l_returnflag,
        | CAST(count_if(l_quantity > 25.0) AS BIGINT) AS n_bulk,
        | bool_and(l_discount <= 0.1) AS all_low_disc,
        | bool_or(l_tax > 0.07) AS any_high_tax,
        | count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_bit_agg" ->
      """SELECT l_returnflag,
        | CAST(bit_and(l_linenumber) AS BIGINT) AS band,
        | CAST(bit_or(l_linenumber) AS BIGINT) AS bor,
        | CAST(bit_xor(l_linenumber) AS BIGINT) AS bxor,
        | count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_median" ->
      """SELECT o_orderpriority, median(o_totalprice) AS median_price, count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin,
    "text_scrub" ->
      """SELECT event_id,
        | regexp_replace(props, '[0-9]+', '#', 'g') AS scrubbed,
        | CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_masked
        |FROM events""".stripMargin,
    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem""".stripMargin,
    "q_explode" ->
      """SELECT p_partkey,
        | CAST(generate_subscripts(string_split(p_name, ' '), 1) AS BIGINT) AS pos,
        | unnest(string_split(p_name, ' ')) AS word
        |FROM part""".stripMargin,
    "q_outer_join" ->
      """WITH ue AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1)
        |SELECT CASE WHEN ue.user_id IS NULL THEN 'cust_only'
        |            WHEN c.c_custkey IS NULL THEN 'event_only'
        |            ELSE 'both' END AS side, count(*) AS n
        |FROM ue FULL OUTER JOIN customer c ON ue.user_id = c.c_custkey
        |GROUP BY 1""".stripMargin,
    "q_topk_native" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) r WHERE rn <= 3""".stripMargin,
    "q_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1""".stripMargin,
    "dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(list_transform(string_split(text, ' '),
        |    t -> lower(regexp_replace(t, '[^A-Za-z]', '', 'g'))), w -> w <> '') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    ts[CAST(i AS BIGINT)] || ' ' || ts[CAST(i AS BIGINT)+1] || ' ' || ts[CAST(i AS BIGINT)+2] AS shingle
        |  FROM toks, unnest(range(1, len(ts)-1)) AS t(i)),
        |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
        |cand AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        |  FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id<b.doc_id GROUP BY 1,2),
        |pairs AS (
        |  SELECT id_a, id_b FROM cand
        |  JOIN sizes sa ON id_a=sa.doc_id JOIN sizes sb ON id_b=sb.doc_id
        |  WHERE CAST(common AS DOUBLE)/(sa.n_shingles + sb.n_shingles - common) >= 0.55),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT reach.id, edges.dst FROM reach, edges WHERE reach.r = edges.src)
        |SELECT id, min(r) AS cluster FROM reach GROUP BY id""".stripMargin,
    // same CC replay as dedup_clusters, then the survivorship pick:
    // arg_max over the identical length-shifted composite
    "dedup_golden" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(list_transform(string_split(text, ' '),
        |    t -> lower(regexp_replace(t, '[^A-Za-z]', '', 'g'))), w -> w <> '') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    ts[CAST(i AS BIGINT)] || ' ' || ts[CAST(i AS BIGINT)+1] || ' ' || ts[CAST(i AS BIGINT)+2] AS shingle
        |  FROM toks, unnest(range(1, len(ts)-1)) AS t(i)),
        |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
        |cand AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        |  FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id<b.doc_id GROUP BY 1,2),
        |pairs AS (
        |  SELECT id_a, id_b FROM cand
        |  JOIN sizes sa ON id_a=sa.doc_id JOIN sizes sb ON id_b=sb.doc_id
        |  WHERE CAST(common AS DOUBLE)/(sa.n_shingles + sb.n_shingles - common) >= 0.55),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT reach.id, edges.dst FROM reach, edges WHERE reach.r = edges.src),
        |cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
        |SELECT cluster,
        |  arg_max(d.doc_id, length(d.text) * 10000000000 - d.doc_id) AS golden_id,
        |  max(length(d.text)) AS max_len, count(*) AS n_members
        |FROM cl JOIN documents d ON cl.id = d.doc_id
        |GROUP BY cluster""".stripMargin,
    "q_retention" ->
      """WITH wk AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |cohort AS (SELECT user_id, min(wk) AS cohort_week FROM wk GROUP BY 1)
        |SELECT cohort_week,
        |  CAST(date_diff('day', cohort_week, wk) // 7 AS BIGINT) AS week_offset,
        |  count(*) AS n_active
        |FROM wk JOIN cohort USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "text_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, lower(regexp_replace(tok, '[^A-Za-z]', '', 'g')) AS term
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) u),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1,2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, term,
        |         round(tf * ln(CAST(n_docs AS DOUBLE)/df), 6) AS score
        |       FROM tf JOIN dfreq USING(term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM sc)
        |SELECT doc_id, term, score FROM r WHERE rn <= 3""".stripMargin,
    "text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, lower(regexp_replace(tok, '[^A-Za-z]', '', 'g')) AS term
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) u),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1,2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, term, tf, df,
        |  round(tf * ln(CAST(n_docs AS DOUBLE)/df), 6) AS score
        |FROM tf JOIN dfreq USING(term) CROSS JOIN n""".stripMargin,
    "text_stats" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS ts
        |  FROM documents)
        |SELECT doc_id,
        | CAST(len(ts) AS BIGINT) AS n_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars_actual,
        | CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
        | CAST(len(list_filter(ts, w -> list_contains(['the','a','an','of','to','and','in','is','it','for','on','with'], w))) AS BIGINT) AS n_stopwords,
        | CAST(list_sum(list_transform(ts, w -> length(w))) AS BIGINT) AS sum_token_len,
        | CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)/nullif(CAST(length(text) AS DOUBLE), 0.0) AS alpha_ratio,
        | CAST(len(list_filter(ts, w -> list_contains(['the','a','an','of','to','and','in','is','it','for','on','with'], w))) AS DOUBLE)/nullif(CAST(len(ts) AS DOUBLE), 0.0) AS stopword_ratio,
        | CAST(list_sum(list_transform(ts, w -> length(w))) AS DOUBLE)/nullif(CAST(len(ts) AS DOUBLE), 0.0) AS avg_token_len
        |FROM toks""".stripMargin,
    "q_json_typed" ->
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
        | count(*) AS n,
        | min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        | max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1""".stripMargin,
    "q_array_funcs" ->
      """SELECT p_partkey,
        | CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words,
        | array_to_string(list_sort(string_split(p_name, ' ')), ',') AS sorted_words,
        | list_contains(string_split(p_name, ' '), 'green') AS has_green,
        | array_to_string(list_slice(string_split(p_name, ' '), 1, 2), ',') AS first_two,
        | CAST(len(list_distinct(string_split(p_name, ' '))) AS BIGINT) AS n_distinct_words
        |FROM part""".stripMargin,
    "q_map_ops" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | CAST(year(l_shipdate) AS BIGINT) AS l_year,
        | CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey=o_orderkey
        |JOIN supplier ON l_suppkey=s_suppkey
        |JOIN customer ON o_custkey=c_custkey
        |JOIN nation n1 ON s_nationkey=n1.n_nationkey
        |JOIN nation n2 ON c_nationkey=n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1,2,3""".stripMargin,
    "q10_returns" ->
      """SELECT c_custkey, c_name, n_name,
        | CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey=o_orderkey
        |JOIN customer ON o_custkey=c_custkey
        |JOIN nation ON c_nationkey=n_nationkey
        |WHERE l_returnflag='R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        |GROUP BY 1,2,3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q18_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 250.0)
        |SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        | o_totalprice, total_qty
        |FROM big JOIN orders ON l_orderkey=o_orderkey
        |JOIN customer ON o_custkey=c_custkey""".stripMargin,
    "q6_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice*l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24.0""".stripMargin,
    "q4_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY 1""".stripMargin,
    "q14_promo_share" ->
      """WITH agg AS (
        |  SELECT
        |    CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice*(1.0-l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE)
        |      AS promo_revenue,
        |    CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |      AS total_revenue
        |  FROM lineitem JOIN part ON l_partkey=p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01')
        |SELECT promo_revenue, total_revenue,
        | 100.0 * promo_revenue / NULLIF(total_revenue, 0.0) AS promo_share
        |FROM agg""".stripMargin,
    "q22_idle" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
        |FROM customer c
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)/count(*)
        |                   FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
        |GROUP BY 1""".stripMargin,
    "text_chunk" ->
      """SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_id,
        | CAST(least(len(t) - start, 32) AS BIGINT) AS n_tokens,
        | array_to_string(t[start+1 : start+32], ' ') AS chunk_text
        |FROM (
        |  SELECT doc_id, t, unnest(range(0, greatest(len(t), 1), 24)) AS start
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents) toks
        |) starts""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin,
    "q17_small_qty" ->
      """WITH th AS (
        |  SELECT l_partkey AS pk,
        |    0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)/count(*)) AS qty_threshold
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)/7.0 AS avg_yearly,
        | count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey JOIN th ON l_partkey = pk
        |WHERE p_brand = 'Brand#1' AND l_quantity < qty_threshold""".stripMargin,
    "q8_market_share" ->
      """WITH j AS (
        |  SELECT year(o_orderdate) AS o_year, supp.supp_nation,
        |    CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4)) AS rev
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        |  JOIN orders ON l_orderkey = o_orderkey
        |    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN (SELECT n_nationkey AS s_nk, n_name AS supp_nation FROM nation) supp ON s_nationkey = s_nk)
        |SELECT o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE CAST(0.0 AS DECIMAL(18,4)) END) AS DOUBLE) AS nation_revenue,
        |  CAST(sum(rev) AS DOUBLE) AS total_revenue,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE CAST(0.0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |    / nullif(CAST(sum(rev) AS DOUBLE), 0.0) AS mkt_share
        |FROM j GROUP BY 1""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |GROUP BY 1""".stripMargin,
    "q19_disjunctive" ->
      """SELECT CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand='Brand#2' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1.0 AND 30.0)
        |   OR (p_brand='Brand#4' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10.0 AND 40.0)
        |   OR (p_brand='Brand#16' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20.0 AND 50.0)""".stripMargin,
    "q21_waiting" ->
      """WITH l1 AS (
        |  SELECT l_orderkey, l_suppkey FROM lineitem
        |  WHERE l_returnflag = 'R'
        |    AND l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        |    AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = lineitem.l_orderkey
        |                AND l2.l_suppkey <> lineitem.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = lineitem.l_orderkey
        |                AND l3.l_suppkey <> lineitem.l_suppkey AND l3.l_returnflag = 'R'))
        |SELECT s_suppkey, s_name, numwait FROM (
        |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS numwait FROM l1 GROUP BY 1)
        |JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY numwait DESC, s_suppkey ASC LIMIT 10""".stripMargin,
    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size BETWEEN 10 AND 40
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY 1, 2""".stripMargin,
    "q20_excess" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,4))) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2),
        |sh AS (
        |  SELECT l_suppkey,
        |    CAST(qty AS DOUBLE) / CAST(sum(qty) OVER (PARTITION BY l_partkey) AS DOUBLE) AS share
        |  FROM ps)
        |SELECT s_suppkey, s_name, n_parts_dominated FROM (
        |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_parts_dominated
        |  FROM sh WHERE share > 0.5 GROUP BY 1)
        |JOIN supplier ON l_suppkey = s_suppkey""".stripMargin,
    "q2_min_cost" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS supply_cost
        |  FROM lineitem GROUP BY 1, 2),
        |regional AS (
        |  SELECT l_partkey, l_suppkey, supply_cost, s_acctbal, s_name, n_name
        |  FROM ps
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
        |cand AS (
        |  SELECT l_partkey, l_suppkey, supply_cost, s_acctbal, s_name, n_name, p_brand,
        |    min(supply_cost) OVER (PARTITION BY l_partkey) AS min_cost
        |  FROM regional JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'ECONOMY' AND p_size BETWEEN 10 AND 30)
        |SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, p_brand,
        |  l_suppkey AS s_suppkey, supply_cost
        |FROM cand
        |WHERE supply_cost = min_cost
        |ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC, s_suppkey ASC
        |LIMIT 100""".stripMargin,
    "q9_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice*(1.0-l_discount) - 0.5*p_retailprice*l_quantity
        |    AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2""".stripMargin,
    "q11_important" ->
      """WITH pv AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS part_value
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_name = 'NATION_3')
        |  GROUP BY 1)
        |SELECT l_partkey, part_value FROM pv
        |WHERE part_value > (SELECT CAST(sum(CAST(part_value AS DECIMAL(18,4))) AS DOUBLE) FROM pv) * 0.001
        |ORDER BY part_value DESC, l_partkey ASC""".stripMargin,
    "q12_ship_priority" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1""".stripMargin,
    "text_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(list_transform(string_split(text, ' '),
        |    t -> lower(regexp_replace(t, '[^A-Za-z]', '', 'g'))), w -> w <> '') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    ts[CAST(i AS BIGINT)] || ' ' || ts[CAST(i AS BIGINT)+1] || ' ' || ts[CAST(i AS BIGINT)+2] AS shingle
        |  FROM toks, unnest(range(1, len(ts)-1)) AS t(i)),
        |pairs AS (
        |  SELECT tr.doc_id AS train_id, be.doc_id AS bench_id, CAST(count(*) AS BIGINT) AS n_common
        |  FROM sh tr JOIN sh be ON tr.shingle = be.shingle
        |  WHERE tr.doc_id % 20 <> 0 AND be.doc_id % 20 = 0
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT train_id, CAST(count(*) AS BIGINT) AS n_bench_hits, max(n_common) AS max_overlap
        |FROM pairs GROUP BY 1""".stripMargin,
    "text_pack" ->
      """WITH chunks AS (
        |  SELECT doc_id, CAST(start // 32 AS BIGINT) AS chunk_id,
        |    CAST(least(len(t) - start, 32) AS BIGINT) AS n_tokens
        |  FROM (
        |    SELECT doc_id, t, unnest(range(0, greatest(len(t), 1), 32)) AS start
        |    FROM (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents) toks
        |  ) starts),
        |packed AS (
        |  SELECT doc_id, chunk_id, n_tokens,
        |    COALESCE(sum(n_tokens) OVER (PARTITION BY doc_id ORDER BY chunk_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 64 AS pack_id
        |  FROM chunks)
        |SELECT doc_id, CAST(pack_id AS BIGINT) AS pack_id, count(*) AS n_chunks,
        | CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
        |FROM packed GROUP BY 1, 2""".stripMargin,
    "text_bpe_train" -> BpeSql.trainSql,
    "text_bpe_encode" -> BpeSql.encodeSql,
    "text_pack_bpe" -> BpeSql.packSql,
    "q_topk_weighted" ->
      """SELECT o_orderpriority AS k,
        |  array_to_string(list(o_orderkey ORDER BY o_totalprice DESC, o_orderkey)[1:5], ',') AS top_orders
        |FROM orders GROUP BY 1""".stripMargin,
    "q_interpolate" ->
      """WITH daily AS (
        |  SELECT user_id AS k, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM events GROUP BY 1, 2),
        |x AS (
        |  SELECT k, d, total, lead(d) OVER w AS nd, lead(total) OVER w AS nv
        |  FROM daily WINDOW w AS (PARTITION BY k ORDER BY d)),
        |g AS (
        |  SELECT k, d AS obs_d, total, nd, nv,
        |    CASE WHEN nd IS NULL THEN [d]
        |         ELSE list_transform(generate_series(d, nd - INTERVAL 1 DAY, INTERVAL 1 DAY),
        |                             t -> CAST(t AS DATE)) END AS grid
        |  FROM x),
        |e AS (SELECT k, obs_d, total, nd, nv, unnest(grid) AS d FROM g)
        |SELECT k, d, d = obs_d AS observed,
        |  round(CASE WHEN d = obs_d THEN total
        |        ELSE total + (nv - total) *
        |          (CAST(date_diff('day', obs_d, d) AS DOUBLE) /
        |           CAST(date_diff('day', obs_d, nd) AS DOUBLE)) END, 6) AS total_interp
        |FROM e""".stripMargin,
    "q_resample_by_key" ->
      """WITH daily AS (
        |  SELECT o_orderpriority AS k, CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM orders GROUP BY 1, 2),
        |bounds AS (SELECT k, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1),
        |spine AS (
        |  SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM bounds),
        |j AS (SELECT spine.k, spine.d, daily.total
        |      FROM spine LEFT JOIN daily ON spine.k = daily.k AND spine.d = daily.d)
        |SELECT k, d, total IS NOT NULL AS observed,
        |  last_value(total IGNORE NULLS) OVER (
        |    PARTITION BY k ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS total_ffill
        |FROM j""".stripMargin,
    "q_resample" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM orders GROUP BY 1),
        |spine AS (
        |  SELECT unnest(generate_series(
        |    (SELECT min(d) FROM daily), (SELECT max(d) FROM daily), INTERVAL 1 DAY))::DATE AS d),
        |j AS (SELECT spine.d, daily.total FROM spine LEFT JOIN daily ON spine.d = daily.d)
        |SELECT d, total IS NOT NULL AS observed,
        |  last_value(total IGNORE NULLS) OVER (
        |    ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS total_ffill
        |FROM j""".stripMargin,
    "q_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view FROM events WHERE event_type='view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click FROM events e JOIN v ON e.user_id=v.user_id
        |  WHERE e.event_type='click' AND e.ts > v.t_view
        |    AND e.ts <= v.t_view + INTERVAL 1 DAY GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase FROM events e JOIN c ON e.user_id=c.user_id
        |  WHERE e.event_type='purchase' AND e.ts > c.t_click
        |    AND e.ts <= c.t_click + INTERVAL 1 DAY GROUP BY 1)
        |SELECT count(*) AS n_view, count(c.t_click) AS n_view_click,
        |  count(p.t_purchase) AS n_view_click_purchase
        |FROM v LEFT JOIN c ON v.user_id=c.user_id LEFT JOIN p ON v.user_id=p.user_id""".stripMargin,
    // full SimHash reproduction in SQL: FNV-1a + splitmix token hashes
    // (recursive CTE over chars, unsigned-64 state in HUGEINT),
    // TF-weighted bit votes, 4x16-bit pigeonhole banding, hamming
    // verify — proven bit-identical to the JVM kernel
    "dedup_simhash" -> {
      import SqlU64._
      s"""WITH RECURSIVE toks AS (
         |  $TokStreamSql),
         |$tokenHashSql,
         |votes AS (
         |  SELECT doc_id, b.bit,
         |    sum(CASE WHEN (h // power(2::HUGEINT, b.bit)::HUGEINT) % 2 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM thash CROSS JOIN (SELECT unnest(range(64)) AS bit) b
         |  GROUP BY 1, 2),
         |sigs AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN v > 0 THEN power(2::HUGEINT, bit)::HUGEINT ELSE 0::HUGEINT END) AS sh
         |  FROM votes GROUP BY 1),
         |banded AS (
         |  SELECT doc_id, sh, b.band,
         |    CAST((sh // power(2::HUGEINT, b.band * 16)::HUGEINT) % 65536 AS BIGINT) AS chunk
         |  FROM sigs CROSS JOIN (SELECT unnest(range(4)) AS band) b),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    bit_count(xor(CAST(a.sh // $P32 AS BIGINT), CAST(b.sh // $P32 AS BIGINT)))
         |      + bit_count(xor(CAST(a.sh % $P32 AS BIGINT), CAST(b.sh % $P32 AS BIGINT))) AS hamming
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming FROM pairs WHERE hamming <= 3""".stripMargin
    },
    // full SRP-LSH reproduction: inlined plane literals → per-table
    // buckets → hamming<=1 candidate join → exact-cosine ranking;
    // proven bit-identical to the Spark pipeline (even unrounded
    // cosines matched; rounding kept for safety)
    "ann_lsh" ->
      s"""WITH planes(pid, pv) AS (VALUES ${srpPlanesSql(similarity.Ann.LshTables, similarity.Ann.LshBits, 64)}),
         |e AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
         |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE))))) AS v
         |  FROM embeddings),
         |proj AS (
         |  SELECT vec_id, pid // ${similarity.Ann.LshBits} AS tbl,
         |    CASE WHEN list_dot_product(v, pv) >= 0 THEN 1 << (pid % ${similarity.Ann.LshBits}) ELSE 0 END AS bit
         |  FROM e CROSS JOIN planes),
         |buckets AS (
         |  SELECT vec_id, tbl, CAST(sum(bit) AS BIGINT) AS bucket FROM proj GROUP BY 1, 2),
         |cand AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id
         |  FROM buckets q JOIN buckets c ON q.tbl = c.tbl
         |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
         |    AND bit_count(xor(q.bucket, c.bucket)) <= 1
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT q_id, cand.vec_id, list_dot_product(eq.v, ec.v) AS cos
         |  FROM cand JOIN e eq ON q_id = eq.vec_id JOIN e ec ON cand.vec_id = ec.vec_id),
         |ranked AS (
         |  SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, rk, vec_id AS neighbor_id, round(cos, 6) AS cosine
         |FROM ranked WHERE rk <= 5""".stripMargin,
    // the SRP blocking recovers every >=threshold pair on this corpus
    // (spec-pinned vs brute force), so the LSH output is oracle-
    // comparable against the exact all-pairs threshold join
    "dedup_embedding" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE))))) AS v
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v), 6) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) >= 0.35""".stripMargin,
    "dedup_bloom" ->
      // exact counts replayed; the two Bloom guarantees are literal
      // TRUE here — the Spark side must COMPUTE them true (the
      // q_approx_distinct contract-oracle pattern)
      """WITH batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents
        |  WHERE doc_id % 10 <> 0 AND doc_id % 50 = 1),
        |tn AS (SELECT b.doc_id FROM batch b WHERE NOT EXISTS (
        |  SELECT 1 FROM documents c WHERE c.doc_id % 10 <> 0 AND c.text = b.text))
        |SELECT (SELECT count(*) FROM batch) AS n_batch,
        |  (SELECT count(*) FROM tn) AS n_truly_new,
        |  TRUE AS no_false_negatives, TRUE AS fp_share_within_bound""".stripMargin,
    "dedup_cross" ->
      """SELECT n.doc_id FROM documents n
        |WHERE n.doc_id % 10 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents c
        |  WHERE c.doc_id % 10 <> 0 AND c.text = n.text)""".stripMargin,
    "text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(list_transform(string_split(text, ' '),
        |    t -> lower(regexp_replace(t, '[^A-Za-z]', '', 'g'))), w -> w <> '') AS ts
        |  FROM documents),
        |counts AS (
        |  SELECT doc_id,
        |    CAST(greatest(len(ts)-2, 0) AS BIGINT) AS n_shingles,
        |    CAST(CASE WHEN len(ts) >= 3 THEN len(list_distinct(
        |      list_transform(range(1, len(ts)-1), i ->
        |        ts[CAST(i AS BIGINT)] || ' ' || ts[CAST(i AS BIGINT)+1] || ' ' || ts[CAST(i AS BIGINT)+2])))
        |    ELSE 0 END AS BIGINT) AS n_distinct
        |  FROM toks)
        |SELECT doc_id, n_shingles, n_distinct,
        |  CAST(n_shingles - n_distinct AS DOUBLE) /
        |    nullif(CAST(n_shingles AS DOUBLE), 0.0) AS dup_ratio
        |FROM counts""".stripMargin,
    // integer-quantized bigram surprisal: s = bitlen(q)-1 for
    // q = (2*c1 + V) // (2*c12 + 1) ≥ 1 — floor(log2(n/d)) ==
    // bitlen(n // d) - 1 for n ≥ d, so both engines compute the exact
    // same integers (no ln() ulp drift)
    "text_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(list_transform(string_split(text, ' '),
        |    t -> lower(regexp_replace(t, '[^A-Za-z]', '', 'g'))), w -> w <> '') AS ts
        |  FROM documents),
        |uni AS (
        |  SELECT w1, CAST(count(*) AS BIGINT) AS c1
        |  FROM (SELECT unnest(ts) AS w1 FROM toks) GROUP BY 1),
        |vocab AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
        |bi AS (
        |  SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ts)), i ->
        |      struct_pack(w1 := ts[CAST(i AS BIGINT)], w2 := ts[CAST(i AS BIGINT)+1]))) AS bg
        |    FROM toks WHERE len(ts) >= 2)),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2),
        |s AS (
        |  SELECT doc_id,
        |    length(bin((2*c1 + (SELECT v FROM vocab)) // (2*c12 + 1))) - 1 AS s
        |  FROM bi JOIN bc USING (w1, w2) JOIN uni USING (w1))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(s) * 1000 // count(*) AS BIGINT) AS lm_bits_milli
        |FROM s GROUP BY doc_id""".stripMargin,
    "text_domain_mix" ->
      """WITH per AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(len(list_filter(string_split_regex(text, '\s+'), w -> w <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1)
        |SELECT lang, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / (SELECT CAST(sum(n_tokens) AS DOUBLE) FROM per) AS token_share
        |FROM per""".stripMargin,
    "pipeline_corpus" ->
      """WITH stats AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '')) AS BIGINT) AS n_tokens,
        |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) /
        |      nullif(CAST(length(text) AS DOUBLE), 0.0) AS alpha_ratio
        |  FROM documents),
        |kept AS (
        |  SELECT * FROM stats
        |  WHERE n_tokens BETWEEN 20 AND 5000 AND alpha_ratio > 0.815),
        |canon AS (
        |  SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
        |    arg_min(n_tokens, doc_id) AS n_tokens
        |  FROM kept GROUP BY text)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM canon GROUP BY 1""".stripMargin,
    "text_stratified_sample" ->
      """SELECT lang, count(*) AS n_sampled,
        | CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents
        |WHERE (doc_id*31 + 7) % 100 < (CASE lang
        |  WHEN 'en' THEN 80 WHEN 'de' THEN 50 WHEN 'es' THEN 50
        |  WHEN 'fr' THEN 25 ELSE 10 END)
        |GROUP BY 1""".stripMargin,
    // rolling fingerprint is plain modular arithmetic over UTF-8 bytes:
    // reproduced in DuckDB with HUGEINT (int128) + hex-decoded bytes
    // text_chunk_dedup: FULL content-defined-chunking replay —
    // hex-decoded UTF-8 bytes, recursive prefix hashes mod 2^61-1,
    // 16-byte rolling windows, the %32 anchor rule, the bounded cut
    // recursion over per-doc anchor lists, chunk hashes from the same
    // prefix array, and the corpus-wide occurrence grouping.
    // MATERIALIZED CTEs are load-bearing (the BPE lesson: plain CTEs
    // re-inline per recursive iteration)
    "text_chunk_dedup" ->
      """WITH RECURSIVE
        |h AS MATERIALIZED (
        |  SELECT doc_id, hex(encode(text)) AS hx, length(hex(encode(text)))//2 AS n
        |  FROM documents WHERE length(text) > 0),
        |bytes AS MATERIALIZED (
        |  SELECT doc_id, i,
        |    CAST((strpos('0123456789ABCDEF', substring(hx, 2*i-1, 1)) - 1) * 16
        |       + (strpos('0123456789ABCDEF', substring(hx, 2*i, 1)) - 1) AS HUGEINT) AS b
        |  FROM h, (SELECT unnest(range(1, (SELECT max(n) FROM h) + 1)) AS i) r
        |  WHERE i <= n),
        |pref(doc_id, i, p) AS (
        |  SELECT doc_id, 0, CAST(0 AS HUGEINT) FROM h
        |  UNION ALL
        |  SELECT pref.doc_id, pref.i + 1,
        |    (pref.p * 257 + b.b) % CAST(2305843009213693951 AS HUGEINT)
        |  FROM pref JOIN bytes b ON b.doc_id = pref.doc_id AND b.i = pref.i + 1),
        |prefm AS MATERIALIZED (SELECT * FROM pref),
        |pow(k, v) AS (
        |  SELECT 0, CAST(1 AS HUGEINT)
        |  UNION ALL
        |  SELECT k + 1, (v * 257) % CAST(2305843009213693951 AS HUGEINT) FROM pow WHERE k < 128),
        |powm AS MATERIALIZED (SELECT * FROM pow),
        |alists AS MATERIALIZED (
        |  SELECT h.doc_id, h.n,
        |    coalesce(any_value(al.cs), []) AS cs
        |  FROM h LEFT JOIN (
        |    SELECT p2.doc_id, list(p2.i ORDER BY p2.i) AS cs
        |    FROM prefm p2
        |    JOIN prefm p1 ON p1.doc_id = p2.doc_id AND p1.i = p2.i - 16
        |    JOIN powm ON powm.k = 16
        |    WHERE p2.i >= 16
        |      AND (((p2.p - (p1.p * powm.v) % CAST(2305843009213693951 AS HUGEINT))
        |            % CAST(2305843009213693951 AS HUGEINT)
        |            + CAST(2305843009213693951 AS HUGEINT))
        |           % CAST(2305843009213693951 AS HUGEINT)) % 32 = 0
        |    GROUP BY 1) al ON al.doc_id = h.doc_id
        |  GROUP BY 1, 2),
        |cuts(doc_id, c) AS (
        |  SELECT doc_id, 0 FROM h
        |  UNION ALL
        |  SELECT cuts.doc_id,
        |    coalesce(
        |      list_min(list_filter(a.cs,
        |        x -> x >= cuts.c + 24 AND x <= least(cuts.c + 128, a.n))),
        |      least(cuts.c + 128, a.n))
        |  FROM cuts JOIN alists a ON a.doc_id = cuts.doc_id
        |  WHERE cuts.c < a.n),
        |chunks AS MATERIALIZED (
        |  SELECT doc_id, c AS s, e FROM (
        |    SELECT doc_id, c, lead(c) OVER (PARTITION BY doc_id ORDER BY c) AS e
        |    FROM cuts)
        |  WHERE e IS NOT NULL),
        |withHash AS MATERIALIZED (
        |  SELECT ch.doc_id, ch.e - ch.s AS len,
        |    (((pe.p - (ps.p * pw.v) % CAST(2305843009213693951 AS HUGEINT))
        |      % CAST(2305843009213693951 AS HUGEINT)
        |      + CAST(2305843009213693951 AS HUGEINT))
        |     % CAST(2305843009213693951 AS HUGEINT)) AS hsh
        |  FROM chunks ch
        |  JOIN prefm ps ON ps.doc_id = ch.doc_id AND ps.i = ch.s
        |  JOIN prefm pe ON pe.doc_id = ch.doc_id AND pe.i = ch.e
        |  JOIN powm pw ON pw.k = ch.e - ch.s),
        |occ AS (SELECT hsh, len, count(*) AS n_occ FROM withHash GROUP BY 1, 2)
        |SELECT w.doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN o.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
        |  CAST(sum(CASE WHEN o.n_occ >= 2 THEN w.len ELSE 0 END) AS BIGINT) AS dup_bytes,
        |  CAST(sum(w.len) AS BIGINT) AS total_bytes,
        |  CAST(CAST(sum(CASE WHEN o.n_occ >= 2 THEN w.len ELSE 0 END) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(w.len) AS BIGINT) AS DOUBLE) AS dup_ratio
        |FROM withHash w JOIN occ o ON o.hsh = w.hsh AND o.len = w.len
        |GROUP BY 1""".stripMargin,
    // text_feature_hash: the full token-hash kernel replay (shared
    // recursive FNV/splitmix CTEs), low-6-bit dimension index, bit-6
    // sign, signed counts with cancelled dims dropped
    "text_feature_hash" ->
      s"""WITH RECURSIVE toks AS (
         |  $TokStreamSql),
         |$tokenHashSql
         |SELECT doc_id, CAST(h % 64 AS BIGINT) AS dim,
         |  CAST(sum(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS weight
         |FROM thash
         |GROUP BY 1, 2
         |HAVING sum(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END) <> 0""".stripMargin,
    "text_fingerprint" ->
      """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents)
        |SELECT doc_id,
        |  CAST(list_reduce(
        |    list_prepend(CAST(0 AS HUGEINT),
        |      list_transform(range(1, length(hx)//2 + 1),
        |        i -> CAST((strpos('0123456789ABCDEF', substring(hx, 2*i-1, 1)) - 1) * 16
        |             + (strpos('0123456789ABCDEF', substring(hx, 2*i, 1)) - 1) AS HUGEINT))),
        |    (acc, x) -> (acc * 257 + x) % CAST(2305843009213693951 AS HUGEINT)) AS BIGINT) AS fp
        |FROM h""".stripMargin,
    // langid argmax = max (hits, lang) struct — reproduced with a
    // DESC/DESC row_number over the per-profile hit counts
    "text_langid" ->
      """WITH toks AS (
        |  SELECT doc_id, lang AS labeled_lang,
        |    list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS ts
        |  FROM documents),
        |scores AS (
        |  SELECT doc_id, labeled_lang, p.lang,
        |    len(list_filter(ts, w -> list_contains(p.words, w))) AS hits
        |  FROM toks CROSS JOIN (VALUES
        |    ('en', ['the','and','of','to','is','in','that','it']),
        |    ('de', ['der','die','das','und','ist','nicht','ein','zu']),
        |    ('es', ['el','la','los','las','es','un','una','que']),
        |    ('fr', ['le','la','les','est','une','des','que','dans'])) AS p(lang, words)),
        |best AS (
        |  SELECT doc_id, labeled_lang, lang, hits,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
        |  FROM scores)
        |SELECT doc_id, labeled_lang,
        |  CASE WHEN hits > 0 THEN lang ELSE 'und' END AS predicted_lang
        |FROM best WHERE rn = 1""".stripMargin,
    // exact vector paths: deterministic (fixed normalize order, exact
    // dots, vec_id tie-breaks) → oracle-checkable; cosine rounded to 6
    // on both sides (last-ulp instruction-order differences)
    "ann_bruteforce" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE))))) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q_id, e.vec_id, list_dot_product(e.v, qv) AS cos
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q_id),
        |ranked AS (
        |  SELECT q_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored)
        |SELECT q_id, rk, vec_id AS neighbor_id, round(cos, 6) AS cosine
        |FROM ranked WHERE rk <= 5""".stripMargin,
    // full replay of the int8 pipeline: same normalize, scale =
    // 127/max|v|, floor(x*s+0.5) quantize (identical IEEE op chain —
    // library rounds differ on negative halves), exact-integer
    // candidate dot / (sa*sb), top-20 cut with vec_id tie-break, then
    // full-precision re-rank of the candidates
    "ann_quantized" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE))))) AS v
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, v,
        |    127.0 / greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) AS s
        |  FROM e),
        |qz AS (
        |  SELECT vec_id, s,
        |    list_transform(v, x -> CAST(floor(x*s + 0.5) AS BIGINT)) AS qv8
        |  FROM m),
        |q AS (SELECT vec_id AS q_id, qv8 AS q_qv8, s AS q_s FROM qz WHERE vec_id < 10),
        |scored AS (
        |  SELECT q_id, c.vec_id,
        |    CAST(list_dot_product(c.qv8, q_qv8) AS DOUBLE) / (c.s * q_s) AS qscore
        |  FROM qz c CROSS JOIN q WHERE c.vec_id <> q_id),
        |cand AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY qscore DESC, vec_id) AS crk
        |    FROM scored) WHERE crk <= 20),
        |rer AS (
        |  SELECT cand.q_id, cand.vec_id, list_dot_product(ec.v, eq.v) AS cos
        |  FROM cand
        |  JOIN e ec ON cand.vec_id = ec.vec_id
        |  JOIN e eq ON cand.q_id = eq.vec_id),
        |ranked AS (
        |  SELECT q_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM rer)
        |SELECT q_id, rk, vec_id AS neighbor_id, round(cos, 6) AS cosine
        |FROM ranked WHERE rk <= 5""".stripMargin,
    // ann_binary: sign/hamming/re-rank replay — hamming over sign
    // bits computed positionally (count of differing-sign dims),
    // mathematically identical to the engine's bit_count(w XOR qw)
    // over the packed words, with the same (ham ASC, vec_id) cut
    "ann_binary" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE))))) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q_id, e.vec_id,
        |    len(list_filter(range(1, 65), j -> (e.v[j] > 0) <> (qv[j] > 0))) AS ham
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q_id),
        |cand AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY ham ASC, vec_id) AS crk
        |    FROM scored) WHERE crk <= 50),
        |rer AS (
        |  SELECT cand.q_id, cand.vec_id, list_dot_product(ec.v, eq.v) AS cos
        |  FROM cand
        |  JOIN e ec ON cand.vec_id = ec.vec_id
        |  JOIN e eq ON cand.q_id = eq.vec_id),
        |ranked AS (
        |  SELECT q_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM rer)
        |SELECT q_id, rk, vec_id AS neighbor_id, round(cos, 6) AS cosine
        |FROM ranked WHERE rk <= 5""".stripMargin,
    "knn_join" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE))))) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE label = 0),
        |scored AS (
        |  SELECT q_id, e.vec_id, list_dot_product(e.v, qv) AS cos
        |  FROM e CROSS JOIN q WHERE e.label <> 0),
        |ranked AS (
        |  SELECT q_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored)
        |SELECT q_id, rk, vec_id AS neighbor_id, round(cos, 6) AS cosine
        |FROM ranked WHERE rk <= 3""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id,
        | CAST(len(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n]')) AS BIGINT) AS bpeish_tokens
        |FROM documents""".stripMargin
  )
}
