package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType, LongType, NumericType}

/** Incrementally maintained materialized aggregate views over a
  * [[VersionedTableOps]] table — the "incremental ETL" composition of
  * the lakehouse layer's own pieces, and the operational form of what
  * q_incremental_agg demonstrates as a query shape:
  *
  *  - the DELTA comes from [[VersionedTableOps.changesBetween]], so a
  *    refresh after appends scans ONLY the appended files (the CDC
  *    append fast path — at 100 TB the difference between a view you
  *    can afford to keep fresh and one you cannot), and a refresh
  *    after a DELETE/UPDATE commit folds the removed rows back OUT of
  *    the aggregate (counts and sums are abelian-group aggregates:
  *    they merge under insertion AND deletion; min/max are maintained
  *    separately — see [[MaterializedViewOps.refreshMinMax]] — because
  *    they are only semilattice-mergeable and need a delta-scoped
  *    recompute when a delete touches the current extremum);
  *  - the REFRESH CURSOR is the view table's own (appId, txnVer)
  *    manifest watermark ([[VersionedTableOps.lastTxn]]): the source
  *    version a refresh consumed commits atomically WITH the
  *    refreshed state, so a crashed-and-rerun refresh is a no-op and
  *    two racing refreshers serialize on the fail-if-exists publish —
  *    exactly the idempotent-append machinery, reused as exactly-once
  *    view maintenance. A JOINED view carries BOTH source cursors in
  *    ONE commit ([[VersionedTableOps.overwriteTxns]]) — no crash
  *    window where the view is fresh against one source only;
  *  - the view STATE is itself a versioned table: atomic refreshes,
  *    time travel over past refresh states, vacuum — for free.
  *
  * State sums are kept in fixed DECIMAL(28,4) (exact, order- and
  * partitioning-independent, no precision drift across refreshes);
  * counts in LONG. The state write is O(groups) per refresh — for a
  * group cardinality where that dominates, partition the view table
  * and upsert touched partitions instead (the delta names them).
  */
class MaterializedViewOps(val vt: VersionedTableOps) {

  private val SumType = DecimalType(28, 4)

  private def appIdFor(viewKey: String) = s"mv:$viewKey"

  /** BUCKETED STATE (round-9 advisory): with `buckets = b > 0`, the
    * view state table is created PARTITIONED on `pmod(hash(keys), b)`
    * and every refresh REPLACES only the buckets its delta touched —
    * untouched buckets' files carry into the new commit by reference
    * ([[VersionedTableOps.replacePartitions]]'s copy-on-write
    * identity), so the state write is O(touched groups + b_touched
    * file overhead), not O(all groups). At 10⁸-10⁹ groups this is the
    * difference between a refresh that costs its delta and one that
    * rewrites the world. The bucket count is part of the view's
    * identity: it persists as a `…#buckets` watermark recommitted with
    * every refresh (immutable thereafter — rebucketing is a rebuild),
    * and later refreshes may omit the parameter. Unbucketed (b = 0,
    * the default) keeps the original whole-state overwrite — right for
    * small-cardinality views where b file-floors would dominate.
    * Sizing: touched-bucket discovery collects ≤ b ints to the driver
    * and each refresh writes ≥ 1 file per touched bucket — pick b so a
    * bucket holds a comfortable file's worth of groups (10³-10⁴
    * buckets for 10⁸-10⁹ groups), capped at 2²⁰.
    */
  val BucketCol = "__mv_bucket"

  private def bucketsApp(viewKey: String) = s"${appIdFor(viewKey)}#buckets"

  private def bucketExpr(keyCols: Seq[String], b: Int) =
    pmod(hash(keyCols.map(col): _*), lit(b))

  /** The view's persistent bucket count: stored wins, a conflicting
    * parameter fails loudly, 0 = unbucketed.
    */
  private def resolveBuckets(view: String, viewKey: String,
      vHead: Option[Manifest], param: Int): Int = {
    require(param >= 0 && param <= (1 << 20),
      s"buckets must be in [0, 2^20], got $param")
    val stored = cursorOf(view, vHead, bucketsApp(viewKey)).map(_.toInt)
    stored match {
      case Some(b) =>
        require(param == 0 || param == b,
          s"view $view is bucketed at $b; rebucketing to $param is a rebuild, " +
            "not a refresh")
        b
      case None =>
        require(vHead.isEmpty || param == 0,
          s"view $view already has unbucketed state; bucketing is set at the " +
            "first refresh")
        param
    }
  }

  /** The view's head, listed and decoded ONCE per refresh (None before
    * its first commit). Cursor AND state are pinned to this one view
    * snapshot: a racing refresher that commits between a cursor read
    * and a state read would otherwise hand us ITS post-delta state
    * while we still merge from OUR older cursor — double-applying its
    * delta. Pinned, the merge is (state@head) + delta(cursor@head ->
    * source head), which is correct under any interleaving; the txn
    * watermark then makes whichever racer lands second a no-op or a
    * correct re-derivation, never a double count. A caught-up refresh
    * returns this head's version, the one whose cursor it checked.
    */
  private def viewHead(view: String): Option[Manifest] =
    vt.versions(view).lastOption.map(v => vt.snapshot(view, Some(v)))

  /** `appId`'s watermark as of the resolved view head. */
  private def cursorOf(view: String, vHead: Option[Manifest], appId: String): Option[Long] =
    vHead.flatMap(vt.txnAt(view, _, appId))

  /** The state without the internal bucket column (present only on
    * bucketed views; a no-op otherwise).
    */
  private def dropBucket(df: DataFrame): DataFrame = df.drop(BucketCol)

  /** NULL-SAFE state↔delta merge plumbing (round-8 advisory): a GROUP
    * BY treats NULL as one ordinary group, so the view's state can
    * legitimately hold a NULL-keyed row — but a plain equi-join (and
    * Spark's USING-column join) never matches NULL to NULL, which
    * would leave the state row and the delta row as TWO view rows
    * (and a min/max recompute would never find the group's rows).
    * Every state-merge join therefore goes through `<=>`; the view
    * DEFINITION joins ([[refreshJoin]]'s joinKeys) stay non-null-safe
    * on purpose — SQL `JOIN USING` drops NULL keys, and the view must
    * match what its defining query computes.
    */
  private def nsCond(l: String, r: String, keys: Seq[String]): org.apache.spark.sql.Column =
    keys.map(k => col(s"$l.$k") <=> col(s"$r.$k")).reduce(_ && _)

  private def nsKeys(l: String, r: String, keys: Seq[String]) =
    keys.map(k => coalesce(col(s"$l.$k"), col(s"$r.$k")).as(k))

  /** Bring `view` up to date with `source`'s head: compute the
    * version delta since the last refresh (full snapshot on first
    * refresh), fold it into the per-`keyCols` counts and `sumCols`
    * sums, and commit the new state with the consumed source version
    * as its transaction watermark. Returns the view's committed
    * version (the current one if already fresh — refresh is
    * idempotent at every level).
    *
    * Optional `where`: a SQL predicate over the SOURCE columns that
    * defines the view's row scope (`SELECT keys, count, sums FROM src
    * WHERE ... GROUP BY keys`). Filters DISTRIBUTE over the version
    * delta — an inserted/deleted row outside the scope simply
    * contributes nothing — so incremental maintenance stays exact
    * under every mutation with no extra machinery. SQL three-valued
    * semantics: NULL-evaluating rows are out of scope, matching what
    * the full recompute's WHERE would keep.
    *
    * Optional `derive`: (name, expression) columns computed on the
    * DELTA (after the where filter) before the fold — the hook that
    * lets a caller maintain sums of derived quantities (e.g. a
    * non-null indicator whose sum is the AVG denominator, the SQL
    * materialized-view AVG state) without the fold knowing about
    * them; `sumCols` may then name derived columns.
    */
  def refresh(spark: SparkSession, view: String, source: String,
      keyCols: Seq[String], sumCols: Seq[String],
      viewKey: String = "mv", where: Option[String] = None,
      buckets: Int = 0,
      derive: Seq[(String, org.apache.spark.sql.Column)] = Nil): Long = {
    val head = vt.versions(source).last
    val vHead = viewHead(view)
    val cursor = cursorOf(view, vHead, appIdFor(viewKey))
    if (cursor.exists(_ >= head)) return vHead.get.version
    val delta0 = cursor match {
      case Some(v) => vt.changesBetween(spark, source, v, head)
      case None => // first refresh: the head snapshot, all inserts
        vt.read(spark, source, Some(head))
          .withColumn("_change", lit("insert"))
    }
    val delta1 = where.fold(delta0)(w => delta0.filter(expr(w)))
    val delta = derive.foldLeft(delta1) { case (d, (n, c)) => d.withColumn(n, c) }
    foldDelta(spark, view, vHead, cursor.isDefined, delta, keyCols, sumCols,
      Seq(appIdFor(viewKey) -> head), buckets, viewKey)
  }

  /** A JOINED view definition — the delta-join (DBToaster) shape:
    *
    * {{{ SELECT keys, count(*), sum(sumCols...)
    *     FROM left JOIN right USING (joinKeys) [WHERE ...]
    *     GROUP BY keys }}}
    *
    * maintained incrementally from BOTH sources' version deltas via
    * the signed decomposition
    *
    * {{{ Δ(A ⋈ B) = ΔA ⋈ B@oldR  ∪  A@newL ⋈ ΔB }}}
    *
    * (the ΔA ⋈ ΔB cross term lives inside A@newL ⋈ ΔB; each joined
    * row carries its delta row's insert/delete sign, and the fold is
    * the same abelian count/sum merge as the single-table view). Cost
    * per refresh: each delta joined against ONE snapshot of the other
    * side — the deltas are small on the append fast path, so AQE
    * broadcasts them against the big snapshot; never snapshot ⋈
    * snapshot after the first refresh. Both source cursors commit
    * atomically in the view's manifest ([[VersionedTableOps
    * .overwriteTxns]]). Reading `right@oldR` requires the cursor
    * version to still be retained — keep vacuum retention above the
    * view's refresh lag, the same contract changesBetween carries.
    *
    * `left`/`right` columns must be disjoint apart from `joinKeys`
    * (checked); `where` may reference columns of either side.
    */
  def refreshJoin(spark: SparkSession, view: String,
      left: String, right: String, joinKeys: Seq[String],
      keyCols: Seq[String], sumCols: Seq[String],
      viewKey: String = "mvj", where: Option[String] = None,
      buckets: Int = 0,
      derive: Seq[(String, org.apache.spark.sql.Column)] = Nil): Long = {
    val appL = s"${appIdFor(viewKey)}:left"
    val appR = s"${appIdFor(viewKey)}:right"
    val headL = vt.versions(left).last
    val headR = vt.versions(right).last
    val vHead = viewHead(view)
    val curL = cursorOf(view, vHead, appL)
    val curR = cursorOf(view, vHead, appR)
    if (curL.exists(_ >= headL) && curR.exists(_ >= headR))
      return vHead.get.version
    // a view with commits but no join-cursor pair was maintained by
    // something else (e.g. the single-source refresh) — silently
    // adopting its state would merge deltas into an unrelated
    // aggregate; only an EMPTY view can start a join history
    require(vHead.isEmpty || (curL.isDefined && curR.isDefined),
      s"view $view has commits without this viewKey's cursor pair — " +
        "not (yet) a refreshJoin view; start from an empty view table")
    val lCols = vt.read(spark, left, Some(headL)).columns.toSet
    val rCols = vt.read(spark, right, Some(headR)).columns.toSet
    require((lCols intersect rCols) == joinKeys.toSet,
      s"left/right columns must be disjoint apart from the join keys; " +
        s"shared: ${(lCols intersect rCols).toSeq.sorted}")
    val delta0 =
      if (curL.isEmpty) {
        vt.read(spark, left, Some(headL))
          .join(vt.read(spark, right, Some(headR)), joinKeys)
          .withColumn("_change", lit("insert"))
      } else {
        // a side with no new commits contributes an EMPTY delta — skip
        // its term entirely rather than planning snapshot ⋈ empty (the
        // common fact-append refresh must not touch the fact snapshot
        // at all: its cost is ΔA ⋈ dim, nothing else)
        val part1 = if (curL.get >= headL) None else Some(
          vt.changesBetween(spark, left, curL.get, headL)
            .join(vt.read(spark, right, Some(curR.get)), joinKeys))
        val part2 = if (curR.get >= headR) None else Some(
          vt.read(spark, left, Some(headL))
            .join(vt.changesBetween(spark, right, curR.get, headR), joinKeys))
        (part1.toSeq ++ part2.toSeq).reduce(_ unionByName _)
      }
    val delta1 = where.fold(delta0)(w => delta0.filter(expr(w)))
    // same derived-column hook as the single-table [[refresh]]: (name,
    // expression) columns computed on the JOINED delta before the fold
    // (e.g. the non-null indicator whose signed sum is a join view's
    // AVG denominator)
    val delta = derive.foldLeft(delta1) { case (d, (n, c)) => d.withColumn(n, c) }
    foldDelta(spark, view, vHead, curL.isDefined, delta, keyCols, sumCols,
      Seq(appL -> headL, appR -> headR), buckets, viewKey)
  }

  /** The N-ARY chain generalization of [[refreshJoin]]:
    *
    * {{{ SELECT keys, count(*), sum(sumCols...)
    *     FROM s0 JOIN s1 USING (chainKeys(0))
    *             JOIN s2 USING (chainKeys(1)) ... [WHERE ...]
    *     GROUP BY keys }}}
    *
    * maintained from ALL N sources' version deltas via the telescoping
    * signed decomposition
    *
    * {{{ Δ(S₀ ⋈ … ⋈ Sₙ₋₁) = Σᵢ  S₀@new ⋈ … ⋈ Sᵢ₋₁@new ⋈ ΔSᵢ
    *                              ⋈ Sᵢ₊₁@old ⋈ … ⋈ Sₙ₋₁@old }}}
    *
    * — term i joins every source BEFORE i at its new head and every
    * source AFTER i at its old cursor, so each inserted/deleted joined
    * row is produced by EXACTLY ONE term (the cross terms ΔSᵢ ⋈ ΔSⱼ,
    * i<j, live inside term j's new-side prefix). A source with no new
    * commits contributes no term, so the common fact-append refresh
    * costs ΔS_fact ⋈ the dim snapshots and nothing else — at 100 TB
    * the deltas are small and AQE broadcasts them against the big
    * side; after the first refresh no term ever joins snapshot ⋈
    * snapshot. All N cursors commit atomically in the view's manifest
    * ([[VersionedTableOps.overwriteTxns]]); reading `Sⱼ@old` requires
    * cursor versions to still be retained, the [[refreshJoin]]
    * contract generalized.
    *
    * `chainKeys(i)` joins the accumulated prefix (S₀…Sᵢ) with Sᵢ₊₁;
    * sources' columns must be pairwise disjoint apart from chain keys
    * (checked). Two sources delegate to the same math as
    * [[refreshJoin]] but under this method's per-index cursor ids —
    * pick one flavor per view and stay with it.
    */
  def refreshJoinChain(spark: SparkSession, view: String,
      sources: Seq[String], chainKeys: Seq[Seq[String]],
      keyCols: Seq[String], sumCols: Seq[String],
      viewKey: String = "mvc", where: Option[String] = None,
      buckets: Int = 0,
      derive: Seq[(String, org.apache.spark.sql.Column)] = Nil): Long = {
    require(sources.size >= 2, "chain views need at least two sources")
    require(chainKeys.size == sources.size - 1,
      s"need ${sources.size - 1} chain-key sets for ${sources.size} sources")
    val n = sources.size
    val apps = sources.indices.map(i => s"${appIdFor(viewKey)}:$i")
    val heads = sources.map(s => vt.versions(s).last)
    val vHead = viewHead(view)
    val curs = apps.map(cursorOf(view, vHead, _))
    if (curs.zip(heads).forall { case (c, h) => c.exists(_ >= h) })
      return vHead.get.version
    require(vHead.isEmpty || curs.forall(_.isDefined),
      s"view $view has commits without this viewKey's full cursor set — " +
        "not (yet) a refreshJoinChain view; start from an empty view table")
    // column disjointness: a shared non-key column would silently
    // resolve to one side in the chain join and the fold
    val colSets = sources.zip(heads).map { case (s, h) =>
      vt.read(spark, s, Some(h)).columns.toSet }
    val keySet = chainKeys.flatten.toSet
    colSets.zip(sources).foreach { case (cs, s) =>
      require(!cs.contains("_change"),
        s"$s has a _change column — it would collide with the delta sign") }
    for (i <- 0 until n; j <- (i + 1) until n) {
      val shared = (colSets(i) intersect colSets(j)) -- keySet
      require(shared.isEmpty,
        s"${sources(i)} and ${sources(j)} share non-chain-key columns: " +
          shared.toSeq.sorted.mkString(", "))
    }
    def chain(frames: Seq[DataFrame]): DataFrame =
      frames.tail.zip(chainKeys).foldLeft(frames.head) {
        case (acc, (f, keys)) => acc.join(f, keys) }
    val first = curs.head.isEmpty
    val delta0 =
      if (first)
        chain(sources.zip(heads).map { case (s, h) => vt.read(spark, s, Some(h)) })
          .withColumn("_change", lit("insert"))
      else {
        val terms = (0 until n).flatMap { i =>
          if (curs(i).get >= heads(i)) None // no new commits: no term
          else Some(chain((0 until n).map { j =>
            if (j < i) vt.read(spark, sources(j), Some(heads(j)))
            else if (j == i) vt.changesBetween(spark, sources(i), curs(i).get, heads(i))
            else vt.read(spark, sources(j), Some(curs(j).get))
          }))
        }
        terms.reduce(_ unionByName _)
      }
    val delta1 = where.fold(delta0)(w => delta0.filter(expr(w)))
    // same derived-column hook as [[refresh]]/[[refreshJoin]]: (name,
    // expression) columns computed on the joined delta before the fold
    // — expression sums (e.g. a*b across chain members) maintain with
    // no new state machinery
    val delta = derive.foldLeft(delta1) { case (d, (n, c)) => d.withColumn(n, c) }
    foldDelta(spark, view, vHead, !first, delta, keyCols, sumCols,
      apps.zip(heads), buckets, viewKey)
  }

  /** The chain view's per-source freshness, in source order. */
  def freshAsOfChain(view: String, nSources: Int,
      viewKey: String = "mvc"): Seq[Option[Long]] =
    (0 until nSources).map(i => vt.lastTxn(view, s"${appIdFor(viewKey)}:$i"))

  /** The FACTORED chain (higher-order IVM) as ONE entry point: an
    * `inner` per-`chainKeys.head` aggregate view of the fact is
    * derived and maintained first, then the chain over
    * (inner, dims...) — so a FACT delta costs the inner's single-table
    * refresh and a DIM-side delta joins the O(keys) inner STATE, never
    * the fact (categorically: the destructive spec deletes the fact's
    * directory and a dim-delta refresh still succeeds). This is the
    * same composition q_mat_view_factored assembles, packaged so the
    * caller doesn't thread the sum-of-counts column conventions by
    * hand; read the result through [[readFactored]], which un-mangles
    * them. `whereFact` scopes FACT rows (it filters the inner's
    * delta); scoping dim rows would need a per-dim predicate and is
    * deliberately not offered here — filter the dim table itself.
    * Trade vs the raw chain: the outer's mv_count counts LIVE JOIN
    * KEYS, not fact rows (fact-row counts ride as a sum), and the
    * inner view is extra state (O(distinct chain keys)).
    */
  def refreshChainFactored(spark: SparkSession, view: String,
      inner: String, fact: String, dims: Seq[String],
      chainKeys: Seq[Seq[String]], keyCols: Seq[String],
      sumCols: Seq[String], viewKey: String = "mvhf",
      whereFact: Option[String] = None): Long = {
    require(dims.nonEmpty, "factored chains need at least one dim side")
    // chainKeys.head is BOTH the fact→inner grouping and the
    // inner ⋈ dims(0) hop (the inner's key columns are exactly its
    // group-by keys); later sets are the remaining hops
    require(chainKeys.size == dims.size,
      s"need ${dims.size} chain-key sets: the first doubles as the " +
        "fact grouping, one per dim hop")
    refresh(spark, inner, fact, chainKeys.head, sumCols,
      viewKey = s"$viewKey.in", where = whereFact)
    refreshJoinChain(spark, view, inner +: dims, chainKeys,
      keyCols, "mv_count" +: sumCols.map(c => s"mv_sum_$c"),
      viewKey = s"$viewKey.out")
  }

  /** The factored chain's state with the derived column names
    * un-mangled: `n_keys` (live join keys per group — the outer's own
    * count), `mv_count` (FACT rows, rolled up through the inner), and
    * `mv_sum_<c>` for each original sum column.
    */
  def readFactored(spark: SparkSession, view: String,
      keyCols: Seq[String], sumCols: Seq[String],
      version: Option[Long] = None): DataFrame = {
    val st = vt.read(spark, view, version)
    st.select(keyCols.map(col) ++ (Seq(
      col("mv_count").as("n_keys"),
      col("mv_sum_mv_count").cast("long").as("mv_count")) ++
      sumCols.map(c => col(s"mv_sum_mv_sum_$c").as(s"mv_sum_$c"))): _*)
  }

  /** A per-row refusal of a refresh: delta rows where `bad` holds are
    * counted inside the fold's delta aggregation, and a refresh that
    * saw any refuses with `msg(count)` before it publishes.
    */
  private case class RowGuard(bad: org.apache.spark.sql.Column, msg: Long => String)

  /** Guard, aggregate and merge a SIGNED delta (`_change` column:
    * insert/delete) into the view's pinned state (`vHead`), committing
    * with the given watermarks — the shared core of every refresh
    * flavor. The delta is evaluated once: its O(groups) aggregate
    * carries the guards' counts, which the driver checks before the
    * merge.
    */
  private def foldDelta(spark: SparkSession, view: String,
      vHead: Option[Manifest], hasState: Boolean, delta: DataFrame,
      keyCols: Seq[String], sumCols: Seq[String],
      txns: Seq[(String, Long)], bucketsParam: Int, viewKey: String,
      rowGuards: Seq[RowGuard] = Nil): Long = {
    val buckets = resolveBuckets(view, viewKey, vHead, bucketsParam)
    val vView = vHead.map(_.version)
    // OVERFLOW GUARDS (round-7 advisory): the per-row cast to the
    // fixed sum type silently yields NULL under non-ANSI semantics
    // when |value| >= 10^24 — sum() would skip the NULL while
    // mv_count still counts the row, silently diverging from a full
    // recompute. Three layers close it:
    //  1. statically reject source types that cannot fit SumType
    //     (wide decimals; non-numeric columns);
    //  2. for float/double columns (the only in-range types whose
    //     values can exceed 10^24), count the DELTA's cast-overflow
    //     rows as a guard of the delta aggregation and fail loudly
    //     (integers/longs fit by range);
    //  3. the group/merge re-casts raise instead of nulling (below).
    sumCols.foreach { c =>
      delta.schema(c).dataType match {
        case d: DecimalType =>
          require(d.precision - d.scale <= SumType.precision - SumType.scale,
            s"sum column $c: ${d.simpleString} cannot be maintained exactly in " +
              s"${SumType.simpleString}; narrow the source or widen the view type")
        case _: NumericType => ()
        case other => throw new IllegalArgumentException(
          s"sum column $c has non-numeric type ${other.simpleString}")
      }
    }
    val floaty = sumCols.filter(c => delta.schema(c).dataType match {
      case DoubleType | FloatType => true
      case _ => false
    })
    // try_cast: NULL on overflow under BOTH ANSI and legacy modes —
    // the count itself must never throw mid-job
    val guards = floaty.map(c => RowGuard(col(c).isNotNull && col(c).try_cast(SumType).isNull,
      n => s"sum column $c: $n delta rows overflow ${SumType.simpleString}; " +
        "refusing a silently-divergent view")) ++ rowGuards
    val guardNames = guards.indices.map(i => s"__guard_$i")
    val guardAggs = guards.zip(guardNames).map { case (g, n) =>
      sum(when(g.bad, 1L).otherwise(0L)).as(n) }
    // a group holding a guarded row is refused by its count, not by the
    // group-total raise below
    val unguarded = guards.map(g => sum(when(g.bad, 1L).otherwise(0L)) === 0L)
      .reduceOption(_ && _).getOrElse(lit(true))
    val del = col("_change") === "delete"
    // per-row try_cast: a row that overflows is counted by its guard
    // and refuses the refresh, so in a published fold a NULL here can
    // only be a source NULL
    val aggs =
      sum(when(del, lit(-1L)).otherwise(lit(1L))).cast(LongType).as("mv_count") +:
        sumCols.map { c =>
          val s = sum(when(del, -col(c)).otherwise(col(c)).try_cast(SumType))
          // the sum itself widens to DECIMAL(38,4); a GROUP total past
          // SumType's range must raise, not null (a legitimate NULL is
          // s itself null: every value in the group was NULL)
          when(s.isNotNull && s.try_cast(SumType).isNull && unguarded,
            raise_error(lit(s"materialized-view sum $c overflowed " +
              s"${SumType.simpleString} in a delta group")))
            .otherwise(s.try_cast(SumType)).as(s"mv_sum_$c")
        }
    val aggregated = delta.groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail ++ guardAggs: _*)
    // materialized once when it is read more than once — by the guard
    // check (driver-side, before anything is staged) and by the
    // bucketed path's touched-bucket discovery; otherwise the merge
    // consumes the aggregate directly. The guard check is the first
    // action on the lazy checkpoint, so it also materializes it
    val deltaAgg = if (guards.isEmpty && buckets == 0) aggregated else {
      val pinned = aggregated.localCheckpoint(eager = guards.isEmpty)
      if (guards.nonEmpty) {
        val counts = pinned.select(guardNames.map(col): _*).rdd
          .map(r => guardNames.indices.map(r.getLong))
          .fold(guardNames.map(_ => 0L))((a, b) => a.zip(b).map(p => p._1 + p._2))
        guards.zip(counts).foreach { case (g, n) => require(n == 0L, g.msg(n)) }
      }
      pinned.drop(guardNames: _*)
    }
    val valCols = "mv_count" +: sumCols.map(c => s"mv_sum_$c")
    def mergeWith(state: DataFrame): DataFrame = state.as("s")
      .join(deltaAgg.as("d"), nsCond("s", "d", keyCols), "full_outer")
      .select(nsKeys("s", "d", keyCols) ++ valCols.map { c =>
        val t = if (c == "mv_count") LongType else SumType
        val added = coalesce(col(s"s.$c"), lit(0)) + coalesce(col(s"d.$c"), lit(0))
        // the coalesces make `added` non-null, so a null try_cast
        // can ONLY be overflow — raise instead of silently
        // nulling the group's sum (guard layer 3; try_cast keeps
        // the detection mode-independent)
        val casted = added.try_cast(t)
        when(casted.isNull,
          raise_error(lit(s"materialized-view sum $c overflowed " +
            s"${SumType.simpleString} on merge")))
          .otherwise(casted).as(c)
      }: _*)
    // a key whose rows are all deleted leaves the view entirely —
    // count 0 is "no rows", which an aggregate over the source would
    // never emit
    if (buckets == 0) {
      val merged = if (!hasState) deltaAgg else mergeWith(vt.read(spark, view, vView))
      return vt.overwriteTxns(spark, view, merged.filter(col("mv_count") > 0), txns)
    }
    // BUCKETED path: state partitioned on pmod(hash(keys), buckets);
    // read ONLY the buckets the delta touches, merge, and replace just
    // those partitions — untouched state carries by file reference
    require(!keyCols.contains(BucketCol) && !sumCols.contains(BucketCol),
      s"view columns collide with the internal bucket column $BucketCol")
    val bTxns = txns :+ (bucketsApp(viewKey) -> buckets.toLong)
    val bc = bucketExpr(keyCols, buckets)
    if (!hasState)
      return vt.overwritePartitioned(spark, view,
        deltaAgg.filter(col("mv_count") > 0).withColumn(BucketCol, bc),
        Seq(BucketCol), txns = bTxns,
        // first refresh writes up to `buckets` value dirs — spread the
        // per-file writer setup instead of creating them all from one
        // AQE-coalesced task (stageData partWidthHint scaladoc)
        partWidth = Some(buckets))
    // bounded collect: <= `buckets` ints (the bucket count is the
    // user's partition-granularity knob, capped at 2^20)
    val touched = deltaAgg.select(bc.as(BucketCol)).distinct()
      .collect().map(_.getInt(0).toString).toSeq.sorted
    val merged =
      if (touched.isEmpty) deltaAgg.limit(0) // cursor-only advance
      else mergeWith(dropBucket(
        vt.readPartitions(spark, view, BucketCol, touched, vView)))
    vt.replacePartitions(spark, view,
      merged.filter(col("mv_count") > 0).withColumn(BucketCol, bc),
      BucketCol, touched, bTxns)
  }

  private def sqName(c: String) = s"${c}_sq"

  /** A STATS view: per-`keyCols` `mv_count`, `mv_sum_c` and
    * `mv_sum_c_sq` (sum of squares) for each of `cols` — everything
    * avg, variance and stddev derive from EXACTLY at read time
    * ([[readStats]]), all three state columns abelian (they merge
    * under insertion AND deletion, so the whole mutation surface
    * maintains with no rescan, unlike min/max).
    *
    * Exactness rule: squares are kept in the same DECIMAL(28,4) state
    * as sums, so inputs must be EXACT types whose squares fit —
    * decimals with scale ≤ 2 and ≤ 12 integer digits, or integrals
    * probed to |v| ≤ 10^12 over the delta. Floats are REFUSED: their
    * squares cannot be represented exactly at any fixed scale, and a
    * quantized sum-of-squares silently corrupts small-magnitude
    * variances — cast to a decimal at ingestion instead.
    */
  def refreshStats(spark: SparkSession, view: String, source: String,
      keyCols: Seq[String], cols: Seq[String],
      viewKey: String = "mvs", where: Option[String] = None,
      buckets: Int = 0): Long = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}
    val head = vt.versions(source).last
    val vHead = viewHead(view)
    val cursor = cursorOf(view, vHead, appIdFor(viewKey))
    if (cursor.exists(_ >= head)) return vHead.get.version
    val delta0 = cursor match {
      case Some(v) => vt.changesBetween(spark, source, v, head)
      case None => vt.read(spark, source, Some(head))
        .withColumn("_change", lit("insert"))
    }
    val delta1 = where.fold(delta0)(w => delta0.filter(expr(w)))
    // the derived state columns are keyed by suffix — a source column
    // that IS another's square/nn name would collide in the state
    val reserved = cols.flatMap(c => Seq(sqName(c), nnName(c))).toSet
    require(cols.forall(c => !reserved.contains(c)),
      s"stats columns collide with derived-state names: " +
        cols.filter(reserved.contains).mkString(", "))
    val integrals = cols.filter { c =>
      delta1.schema(c).dataType match {
        case d: DecimalType =>
          require(d.scale <= 2 && d.precision - d.scale <= 12,
            s"stats column $c: ${d.simpleString} squares cannot be held exactly " +
              s"in ${SumType.simpleString}; keep scale <= 2 and <= 12 integer digits")
          false
        case ByteType | ShortType | IntegerType | LongType => true
        case other => throw new IllegalArgumentException(
          s"stats column $c has type ${other.simpleString}; stats views need " +
            "exact types (decimal scale <= 2 or integral) — cast at ingestion")
      }
    }
    // STRICT bound: |v| < 10^12 — v = ±10^12 itself squares to
    // exactly 10^24, which needs 25 integer digits and does NOT fit
    // DECIMAL(28,4)'s 24 (the decimal rule above is strict the same
    // way: <= 12 integer digits means < 10^12). Counted inside the
    // fold's one delta aggregation; such a row's square is left NULL,
    // never computed, and the refresh refuses before publishing
    val lim = 1000000000000L
    val guards = integrals.map(c => RowGuard(abs(col(c)) >= lim, n =>
      s"stats column $c: $n delta rows at or past |v| = 1e12; " +
        "their squares cannot be held exactly"))
    // squares and per-column NON-NULL counts ride as ADDITIONAL
    // abelian sums ((28,4)×(28,4) squares of guarded inputs are exact
    // and fit the final (28,4) state; the nn count gives the SQL
    // AVG/VAR denominator — NULLs contribute to neither numerator nor
    // denominator, matching the aggregate a recompute would run)
    val delta = cols.foldLeft(delta1) { (d, c) =>
      val sq = (col(c).cast(SumType) * col(c).cast(SumType)).cast(SumType)
      d.withColumn(sqName(c), if (integrals.contains(c)) when(abs(col(c)) < lim, sq) else sq)
        .withColumn(nnName(c),
          when(col(c).isNotNull, lit(1L)).otherwise(lit(null).cast("long")))
    }
    foldDelta(spark, view, vHead, cursor.isDefined, delta,
      keyCols, cols ++ cols.map(sqName) ++ cols.map(nnName),
      Seq(appIdFor(viewKey) -> head), buckets, viewKey, guards)
  }

  private def nnName(c: String) = s"${c}_nn"

  /** The stats view with avg / population variance / stddev DERIVED
    * from the exact state, computed in double with a fixed operation
    * order (stable across refresh histories and engines). A group
    * whose values were all NULL derives NULL.
    */
  def readStats(spark: SparkSession, view: String, keyCols: Seq[String],
      cols: Seq[String], version: Option[Long] = None): DataFrame = {
    val st = vt.read(spark, view, version)
    val derived = cols.flatMap { c =>
      // SQL aggregate semantics: the denominator is the NON-NULL
      // count; an all-NULL group derives NULL (never 0/0 — the merge
      // path stores such a group's sums as 0, the first refresh as
      // NULL; both normalize here)
      val nRaw = col(s"mv_sum_${nnName(c)}")
      val n = when(nRaw.isNull || nRaw === 0, lit(null).cast("double"))
        .otherwise(nRaw.cast("double"))
      val avg = col(s"mv_sum_$c").cast("double") / n
      val varp = col(s"mv_sum_${sqName(c)}").cast("double") / n - avg * avg
      Seq(avg.as(s"mv_avg_$c"), varp.as(s"mv_var_$c"),
        sqrt(varp).as(s"mv_std_$c"))
    }
    st.select(keyCols.map(col) ++ (col("mv_count") +:
      cols.map(c => col(s"mv_sum_$c"))) ++ derived: _*)
  }

  /** A MIN/MAX view: per-`keyCols` `mv_count`, `mv_min_c`, `mv_max_c`
    * for each of `cols` — the aggregates [[refresh]] deliberately does
    * not offer, because they are only SEMILATTICE-mergeable: an insert
    * can only improve an extremum (`least`/`greatest` merge, no
    * rescan), but a delete of the current extremum invalidates it and
    * no amount of stored state can answer "what is the runner-up"
    * without looking at the data again.
    *
    * Maintenance rule per (group, refresh):
    *  - inserts: extrema merge in as `least(stored, min(inserted))` /
    *    `greatest(stored, max(inserted))` — pure state math;
    *  - deletes: a group needs a recompute ONLY when a deleted value
    *    TOUCHES its stored extremum (`deleted_min <= stored_min` or
    *    `deleted_max >= stored_max`); all other deletes provably leave
    *    the extrema alone. Recompute is DELTA-SCOPED: one aggregate
    *    over `source@head` semi-joined to just the touched groups —
    *    at 100 TB that scan carries the source's zone maps (a
    *    key-clustered layout prunes it to the touched groups' files),
    *    and a refresh after pure appends never rescans anything.
    *
    * Counts ride along (same abelian fold as [[refresh]]), so the
    * fully-deleted-group rule stays: count 0 leaves the view. `where`
    * scopes rows exactly as in [[refresh]], including the recompute
    * scan. `cols` must be orderable scalar types.
    */
  def refreshMinMax(spark: SparkSession, view: String, source: String,
      keyCols: Seq[String], cols: Seq[String],
      viewKey: String = "mvx", where: Option[String] = None,
      buckets: Int = 0): Long = {
    import org.apache.spark.sql.types._
    val head = vt.versions(source).last
    val vHead = viewHead(view)
    val vView = vHead.map(_.version)
    val b = resolveBuckets(view, viewKey, vHead, buckets)
    val cursor = cursorOf(view, vHead, appIdFor(viewKey))
    if (cursor.exists(_ >= head)) return vHead.get.version
    val delta0 = cursor match {
      case Some(v) => vt.changesBetween(spark, source, v, head)
      case None => vt.read(spark, source, Some(head))
        .withColumn("_change", lit("insert"))
    }
    val delta = where.fold(delta0)(w => delta0.filter(expr(w)))
    cols.foreach { c =>
      delta.schema(c).dataType match {
        case _: NumericType | StringType | DateType | TimestampType | BooleanType => ()
        case other => throw new IllegalArgumentException(
          s"min/max column $c has non-orderable-scalar type ${other.simpleString}")
      }
    }
    val del = col("_change") === "delete"
    val aggs =
      sum(when(del, lit(-1L)).otherwise(lit(1L))).cast(LongType).as("mv_count") +:
        cols.flatMap(c => Seq(
          min(when(!del, col(c))).as(s"__ins_min_$c"),
          max(when(!del, col(c))).as(s"__ins_max_$c"),
          min(when(del, col(c))).as(s"__del_min_$c"),
          max(when(del, col(c))).as(s"__del_max_$c")))
    val deltaAgg = delta.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val txns0 = Seq(appIdFor(viewKey) -> head)
    val txns = if (b == 0) txns0 else txns0 :+ (bucketsApp(viewKey) -> b.toLong)
    if (cursor.isEmpty) {
      // first refresh: the head snapshot IS the state — deltas are all
      // inserts, extrema are the plain group min/max
      val init = deltaAgg.select(keyCols.map(col) ++ (col("mv_count") +:
        cols.flatMap(c => Seq(
          col(s"__ins_min_$c").as(s"mv_min_$c"),
          col(s"__ins_max_$c").as(s"mv_max_$c")))): _*)
        .filter(col("mv_count") > 0)
      return if (b == 0) vt.overwriteTxns(spark, view, init, txns)
        else vt.overwritePartitioned(spark, view,
          init.withColumn(BucketCol, bucketExpr(keyCols, b)),
          Seq(BucketCol), txns = txns)
    }
    // bucketed: scope the state read AND the state write to the
    // buckets the delta touches (the same O(touched) contract as
    // foldDelta's — untouched buckets carry by file reference)
    val touchedBuckets =
      if (b == 0) Nil
      else deltaAgg.select(bucketExpr(keyCols, b).as(BucketCol)).distinct()
        .collect().map(_.getInt(0).toString).toSeq.sorted
    if (b > 0 && touchedBuckets.isEmpty) // empty delta: cursor-only advance
      return vt.replacePartitions(spark, view,
        dropBucket(vt.read(spark, view, vView)).limit(0)
          .withColumn(BucketCol, bucketExpr(keyCols, b)),
        BucketCol, touchedBuckets, txns)
    val state0 =
      if (b == 0) vt.read(spark, view, vView)
      else dropBucket(vt.readPartitions(spark, view, BucketCol, touchedBuckets, vView))
    // a delete touches a group's extremum iff its deleted-side min/max
    // reaches the stored one; everything else merges as pure state
    val touches = cols.map(c =>
      (col(s"d.__del_min_$c").isNotNull && col(s"s.mv_min_$c").isNotNull &&
        col(s"d.__del_min_$c") <= col(s"s.mv_min_$c")) ||
      (col(s"d.__del_max_$c").isNotNull && col(s"s.mv_max_$c").isNotNull &&
        col(s"d.__del_max_$c") >= col(s"s.mv_max_$c"))).reduce(_ || _)
    val cand = state0.as("s")
      .join(deltaAgg.as("d"), nsCond("s", "d", keyCols), "full_outer")
      .select(nsKeys("s", "d", keyCols) ++ (Seq(
        (coalesce(col("s.mv_count"), lit(0L)) + coalesce(col("d.mv_count"), lit(0L)))
          .cast(LongType).as("mv_count"),
        coalesce(touches, lit(false)).as("__recompute")) ++
        cols.flatMap(c => Seq(
          least(col(s"s.mv_min_$c"), col(s"d.__ins_min_$c")).as(s"mv_min_$c"),
          greatest(col(s"s.mv_max_$c"), col(s"d.__ins_max_$c")).as(s"mv_max_$c")))): _*)
      .filter(col("mv_count") > 0)
      // consumed twice (recompute key set + final merge): pin the plan
      .localCheckpoint(false)
    val needKeys = cand.filter(col("__recompute")).select(keyCols.map(col): _*)
    val outCols = keyCols.map(col) ++ (col("mv_count") +:
      cols.flatMap(c => Seq(col(s"mv_min_$c"), col(s"mv_max_$c"))))
    // the pure-append refresh (no delete touched any extremum) must
    // not open the source at all — that absence of a rescan IS the
    // semilattice payoff; the check is one action on the O(groups)
    // checkpointed candidate frame
    val fin = if (needKeys.isEmpty) cand.select(outCols: _*) else {
      // the recompute scan goes through the zone-map-indexed read with
      // the touched groups' KEY RANGE as a plain filter: on a
      // key-clustered layout the FileIndex prunes to the touched
      // files, so the rescan is file-local, not O(snapshot) — the
      // "zone maps can prove it usually doesn't" half of the design.
      // The range is a superset of the key set; the semi join below
      // stays the exact scope. Single-key views only (the common
      // shape); compound keys fall back to the full scan.
      val srcBase = vt.readIndexed(spark, source, Some(head))
      val srcScoped =
        if (keyCols.size != 1) srcBase
        else {
          val k = keyCols.head
          // the range bound ignores a NULL-keyed touched group (min/max
          // skip NULLs), so its presence is probed alongside and keeps
          // an IS NULL disjunct in the scope filter — the null-count
          // zone maps still let the FileIndex skip all-non-null files
          val b = needKeys.agg(min(col(k)).as("lo"), max(col(k)).as("hi"),
            max(when(col(k).isNull, 1).otherwise(0)).as("hasNull")).head
          val hasNullKey = !b.isNullAt(2) && b.getInt(2) == 1
          if (b.isNullAt(0))
            if (hasNullKey) srcBase.filter(col(k).isNull) else srcBase
          else {
            val rng = col(k) >= lit(b.get(0)) && col(k) <= lit(b.get(1))
            srcBase.filter(if (hasNullKey) rng || col(k).isNull else rng)
          }
        }
      val srcHead = where.fold(srcScoped)(w => srcScoped.filter(expr(w)))
      val recAggs = cols.flatMap(c => Seq(
        min(col(c)).as(s"__rec_min_$c"),
        max(col(c)).as(s"__rec_max_$c")))
      val rec = srcHead.as("src")
        .join(needKeys.as("k"), nsCond("src", "k", keyCols), "left_semi")
        .groupBy(keyCols.map(col): _*)
        .agg(recAggs.head, recAggs.tail: _*)
      cand.as("c").join(rec.as("r"), nsCond("c", "r", keyCols), "left_outer")
        .select(keyCols.map(k => col(s"c.$k").as(k)) ++ (col("c.mv_count").as("mv_count") +:
          cols.flatMap(c => Seq(
            when(col("c.__recompute"), col(s"r.__rec_min_$c"))
              .otherwise(col(s"c.mv_min_$c")).as(s"mv_min_$c"),
            when(col("c.__recompute"), col(s"r.__rec_max_$c"))
              .otherwise(col(s"c.mv_max_$c")).as(s"mv_max_$c")))): _*)
    }
    if (b == 0) vt.overwriteTxns(spark, view, fin, txns)
    else vt.replacePartitions(spark, view,
      fin.withColumn(BucketCol, bucketExpr(keyCols, b)),
      BucketCol, touchedBuckets, txns)
  }

  /** The current view state (or a past refresh via `version` — the
    * state table is versioned like any other). Bucketed views' internal
    * bucket column is dropped; the state is the aggregate, buckets are
    * layout.
    */
  def read(spark: SparkSession, view: String,
      version: Option[Long] = None): DataFrame =
    dropBucket(vt.read(spark, view, version))

  /** Source version the view is consistent as of (None before the
    * first refresh).
    */
  def freshAsOf(view: String, viewKey: String = "mv"): Option[Long] =
    vt.lastTxn(view, appIdFor(viewKey))

  /** The joined view's per-source freshness (left, right). */
  def freshAsOfJoin(view: String,
      viewKey: String = "mvj"): (Option[Long], Option[Long]) =
    (vt.lastTxn(view, s"${appIdFor(viewKey)}:left"),
      vt.lastTxn(view, s"${appIdFor(viewKey)}:right"))
}

object MaterializedView extends MaterializedViewOps(VersionedTable)
