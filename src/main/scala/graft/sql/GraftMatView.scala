package graft.sql

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, sqrt, when}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.sources.{MaterializedViewOps, VersionedTableOps}

/** SQL MATERIALIZED VIEWS (round-11, the round-10 verdict's item 6):
  * the incrementally-maintained aggregate views the Scala API exposes
  * ([[graft.sources.MaterializedViewOps]]) as pure SQL text —
  *
  * {{{
  *   CREATE MATERIALIZED VIEW g.db.v [BUCKETS n] AS
  *     SELECT k1, k2, COUNT(*) AS mv_count, SUM(x) AS mv_sum_x
  *     FROM g.db.src [WHERE p] GROUP BY k1, k2
  *
  *   REFRESH MATERIALIZED VIEW g.db.v
  *   CALL g.system.refresh_view('db.v')     -- the procedure twin
  * }}}
  *
  * Spark's grammar has no MATERIALIZED VIEW statement, so a parser
  * extension ([[GraftSqlParser]]) recognizes exactly these two
  * statements and delegates EVERYTHING else untouched (the
  * Delta-style injectParser shape). The AS-select is parsed by the
  * DELEGATE parser and the unresolved plan pattern-matched — no
  * hand-rolled SQL parsing of the query body — and must be the
  * maintainable shape: plain source columns in GROUP BY, COUNT(*)
  * aliased `mv_count`, each SUM aliased `mv_sum_<col>` (the canonical
  * state-column names [[MaterializedViewOps]] writes — requiring them
  * in the statement makes the statement text and the state schema
  * agree by construction, so a later plain SELECT against the view
  * reads exactly what the statement declared).
  *
  * The DEFINITION persists as `_mv.json` beside the view's commit log
  * (source path, keys, sums, where, buckets), so REFRESH replays it
  * with no session state; the refresh CURSOR itself stays where the
  * Scala API keeps it — the view table's (appId, txnVer) manifest
  * watermark, giving SQL refreshes the same exactly-once,
  * crash-idempotent contract. Views default to BUCKETED state
  * (512 buckets): the refresh write cost is O(touched buckets), the
  * round-10 headline property, rather than O(all groups); `BUCKETS 0`
  * opts back into whole-state overwrites for tiny views.
  */
object GraftMatView {

  val DefaultBuckets = 512

  /** The SQL-created views' refresh-cursor keys, one per maintenance
    * flavor (the cursors are (appId, version) watermarks — a view is
    * maintained by exactly one flavor for its whole life).
    */
  private val ViewKey = "sqlmv"
  private val ViewKeyMinMax = "sqlmvx"
  private val ViewKeyJoin = "sqlmvj"
  private val ViewKeyStats = "sqlmvv"
  private val ViewKeyChain = "sqlmvc"

  /** The delta column whose signed sum is AVG's denominator: a
    * non-null indicator over the averaged column, maintained as an
    * ordinary abelian sum next to the numerator (state column
    * `mv_sum_<c>__nn`). NULLs contribute to neither — SQL AVG
    * semantics, same rule as refreshStats' nn counts.
    */
  private[sql] def nnCol(c: String) = s"${c}__nn"

  private val CreateRe =
    """(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+([\w.`]+)\s+(?:BUCKETS\s+(\d+)\s+)?AS\s+(.+?)\s*;?\s*$""".r
  private val RefreshRe =
    """(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.`]+)\s*;?\s*$""".r
  private val HistoryRe =
    """(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+([\w.`]+)\s*;?\s*$""".r

  def parse(sqlText: String, delegate: ParserInterface): Option[LogicalPlan] =
    sqlText match {
      case CreateRe(ident, buckets, select) =>
        val shape = analyzeSelect(delegate.parsePlan(select))
        Some(GraftCreateMatViewCommand(delegate.parseMultipartIdentifier(ident),
          Option(buckets).map(_.toInt), shape))
      case RefreshRe(ident) =>
        Some(GraftRefreshMatViewCommand(delegate.parseMultipartIdentifier(ident)))
      case HistoryRe(ident) =>
        // DESCRIBE HISTORY (round 13): the commit log as a SQL-queryable
        // surface — Spark's own grammar has no such statement, so it
        // rides the same parser extension as MATERIALIZED VIEW
        Some(GraftDescribeHistoryCommand(delegate.parseMultipartIdentifier(ident)))
      case _ => None
    }

  /** The statement shape [[analyzeSelect]] extracts — source parts
    * still unresolved (the CREATE command resolves them against the
    * catalog at run time). `sourcesParts` lists EVERY FROM table in
    * join order (1 = single-table, 2 = join, 3+ = chain) with
    * `chainKeys(i)` joining the accumulated prefix to table i+1;
    * `exprSums` are `SUM(<expression>) AS mv_sum_<name>` items as
    * (name, expression-SQL) pairs, maintained through the refreshers'
    * derive hook; `declared` is the statement's output column order,
    * which the read side reproduces.
    */
  private[sql] case class MatViewShape(kind: String, keys: Seq[String],
      sums: Seq[String], avgs: Seq[String], minmax: Seq[String],
      vars: Seq[String], stds: Seq[String], exprSums: Seq[(String, String)],
      sourcesParts: Seq[Seq[String]], chainKeys: Seq[Seq[String]],
      whereSql: Option[String], declared: Seq[String])

  /** The maintainable-aggregate shapes, extracted from the UNRESOLVED
    * plan the delegate parser produced. Round 12 widens the round-11
    * COUNT/SUM single-table shape to everything the Scala engine
    * maintains ([[MaterializedViewOps]]): AVG (count+sum state,
    * derived at read), MIN/MAX (semilattice state with delta-scoped
    * recompute on extremum-touching deletes), and a two-table
    * equi-join FROM (the delta-join decomposition). Anything else
    * refuses with a message naming the rule it broke — a definition
    * this layer cannot maintain incrementally must not be accepted
    * and silently staled.
    */
  private def analyzeSelect(plan: LogicalPlan): MatViewShape = {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.{Inner, UsingJoin}
    def refuse(why: String): Nothing = throw new UnsupportedOperationException(
      s"CREATE MATERIALIZED VIEW: $why — the maintainable shapes are " +
        "SELECT <keys>, COUNT(*) AS mv_count[, SUM(c) AS mv_sum_c | " +
        "SUM(<expr>) AS mv_sum_<name> | AVG(c) AS mv_avg_c ...] " +
        "FROM <graft table> [JOIN <graft table> USING (k...)]* [WHERE p] " +
        "GROUP BY <keys>, or the MIN/MAX flavor: SELECT <keys>, " +
        "COUNT(*) AS mv_count, MIN(c) AS mv_min_c, MAX(c) AS mv_max_c ... " +
        "FROM <graft table> [WHERE p] GROUP BY <keys>")
    plan match {
      case Aggregate(grouping, aggExprs, child, _) =>
        val (from, whereSql) = child match {
          case Filter(cond, inner) => (inner, Some(cond.sql))
          case inner => (inner, None)
        }
        // flatten a LEFT-DEEP chain of inner USING joins: the SQL
        // `a JOIN b USING (k1) JOIN c USING (k2)` parses as
        // Join(Join(a,b,k1), c, k2), and refreshJoinChain's
        // chainKeys(i) joins the accumulated prefix with table i+1 —
        // the exact same nesting
        def flatten(p: LogicalPlan): (Seq[Seq[String]], Seq[Seq[String]]) =
          p match {
            case r: UnresolvedRelation => (Seq(r.multipartIdentifier), Nil)
            case Join(l, r: UnresolvedRelation, UsingJoin(Inner, uk), None, _) =>
              val (srcs, ks) = flatten(l)
              (srcs :+ r.multipartIdentifier, ks :+ uk)
            case j: Join => refuse("JOIN must be a left-deep chain of INNER " +
              "`JOIN ... USING (keys)` (the signed delta decomposition needs " +
              s"shared-name equi-keys), not ${j.joinType} with ${j.condition}")
            case other => refuse(s"FROM must be graft tables joined with " +
              s"USING, not ${other.nodeName}")
          }
        val (srcsParts, chainKeys) = flatten(from)
        val keys = grouping.map {
          case a: UnresolvedAttribute if a.nameParts.length == 1 => a.nameParts.head
          case other => refuse(s"GROUP BY must name plain source columns, not ${other.sql}")
        }
        var sums = Vector.empty[String]
        var avgs = Vector.empty[String]
        var mins = Vector.empty[String]
        var maxs = Vector.empty[String]
        var vars = Vector.empty[String]
        var stds = Vector.empty[String]
        var exprSums = Vector.empty[(String, String)]
        var declared = Vector.empty[String]
        var sawCount = false
        def oneCol(f: UnresolvedFunction, what: String): String = f.arguments match {
          case Seq(c: UnresolvedAttribute) if c.nameParts.length == 1 => c.nameParts.head
          case _ => refuse(s"$what must be over one plain source column")
        }
        aggExprs.foreach {
          case a: UnresolvedAttribute
              if a.nameParts.length == 1 && keys.contains(a.nameParts.head) =>
            declared :+= a.nameParts.head
          case Alias(f: UnresolvedFunction, name)
              if f.nameParts.map(_.toLowerCase) == Seq("count") && !f.isDistinct =>
            f.arguments match {
              case Seq(_: UnresolvedStar) | Seq(Literal(1, _)) => ()
              case _ => refuse("the count must be COUNT(*) (row count, not a " +
                "null-skipping column count)")
            }
            if (name != "mv_count")
              refuse(s"COUNT(*) must be aliased AS mv_count, not $name")
            sawCount = true
            declared :+= "mv_count"
          case Alias(f: UnresolvedFunction, name)
              if f.nameParts.map(_.toLowerCase) == Seq("sum") && !f.isDistinct =>
            f.arguments match {
              case Seq(c: UnresolvedAttribute) if c.nameParts.length == 1 =>
                val cn = c.nameParts.head
                if (name != s"mv_sum_$cn")
                  refuse(s"SUM($cn) must be aliased AS mv_sum_$cn, not $name")
                sums :+= cn
              case Seq(e) =>
                // SUM over an arbitrary expression (round 13): the
                // expression is computed on the delta through the
                // refreshers' derive hook under the alias's suffix, so
                // the maintained state IS the declared column —
                // mv_sum_<name> — with zero new state machinery. The
                // expression must be deterministic (a refresh
                // re-evaluates it per delta) and self-contained.
                if (!name.startsWith("mv_sum_") || name == "mv_sum_")
                  refuse(s"SUM(${e.sql}) must be aliased AS mv_sum_<name> " +
                    s"(the maintained state column's name), not $name")
                val suffix = name.stripPrefix("mv_sum_")
                if (e.exists(_.isInstanceOf[
                    org.apache.spark.sql.catalyst.expressions.SubqueryExpression]))
                  refuse(s"SUM expressions cannot carry subqueries (${e.sql})")
                val nonDet = Set("rand", "randn", "random", "uuid", "shuffle",
                  "monotonically_increasing_id")
                e.foreach {
                  case f2: UnresolvedFunction
                      if nonDet(f2.nameParts.last.toLowerCase) =>
                    refuse(s"SUM expressions must be deterministic — a refresh " +
                      s"re-evaluates them per delta (${e.sql})")
                  case _ => ()
                }
                exprSums :+= (suffix -> e.sql)
              case _ => refuse("SUM takes one column or one expression")
            }
            declared :+= name
          case Alias(f: UnresolvedFunction, name)
              if f.nameParts.map(_.toLowerCase) == Seq("avg") && !f.isDistinct =>
            val cn = oneCol(f, "AVG")
            if (name != s"mv_avg_$cn")
              refuse(s"AVG($cn) must be aliased AS mv_avg_$cn, not $name")
            avgs :+= cn
            declared :+= name
          case Alias(f: UnresolvedFunction, name)
              if f.nameParts.map(_.toLowerCase) == Seq("var_pop") && !f.isDistinct =>
            val cn = oneCol(f, "VAR_POP")
            if (name != s"mv_var_$cn")
              refuse(s"VAR_POP($cn) must be aliased AS mv_var_$cn, not $name")
            vars :+= cn
            declared :+= name
          case Alias(f: UnresolvedFunction, name)
              if f.nameParts.map(_.toLowerCase) == Seq("stddev_pop") && !f.isDistinct =>
            val cn = oneCol(f, "STDDEV_POP")
            if (name != s"mv_std_$cn")
              refuse(s"STDDEV_POP($cn) must be aliased AS mv_std_$cn, not $name")
            stds :+= cn
            declared :+= name
          case Alias(f: UnresolvedFunction, _)
              if Seq(Seq("stddev"), Seq("std"), Seq("stddev_samp"),
                Seq("variance"), Seq("var_samp"))
                .contains(f.nameParts.map(_.toLowerCase)) =>
            refuse("only POPULATION variance/stddev are maintainable " +
              "(VAR_POP / STDDEV_POP — the exact count+sum+sum-of-squares " +
              "state derives them; sample variants differ only by the n/(n-1) " +
              "factor, compute it in the reading query)")
          case Alias(f: UnresolvedFunction, name)
              if f.nameParts.map(_.toLowerCase) == Seq("min") && !f.isDistinct =>
            val cn = oneCol(f, "MIN")
            if (name != s"mv_min_$cn")
              refuse(s"MIN($cn) must be aliased AS mv_min_$cn, not $name")
            mins :+= cn
            declared :+= name
          case Alias(f: UnresolvedFunction, name)
              if f.nameParts.map(_.toLowerCase) == Seq("max") && !f.isDistinct =>
            val cn = oneCol(f, "MAX")
            if (name != s"mv_max_$cn")
              refuse(s"MAX($cn) must be aliased AS mv_max_$cn, not $name")
            maxs :+= cn
            declared :+= name
          case other => refuse(s"unsupported select item ${other.sql}: keys, " +
            "COUNT(*) AS mv_count, SUM/AVG/MIN/MAX over one column only")
        }
        if (!sawCount) refuse("the select must include COUNT(*) AS mv_count " +
          "(the maintained state carries the group count)")
        if (keys.isEmpty) refuse("GROUP BY must name at least one key")
        // AVG's denominator rides as a derived `<c>__nn` sum — a
        // source column that IS that name would collide in the state;
        // expression sums' suffixes live in the same namespace
        val nnClash = avgs.map(nnCol).toSet
          .intersect((keys ++ sums ++ avgs ++ exprSums.map(_._1)).toSet)
        if (nnClash.nonEmpty)
          refuse(s"column(s) ${nnClash.mkString(", ")} collide with AVG's " +
            "derived non-null-indicator state names (<col>__nn)")
        val exprClash = exprSums.map(_._1).toSet
          .intersect((keys ++ sums ++ avgs).toSet)
        if (exprClash.nonEmpty)
          refuse(s"SUM-expression name(s) ${exprClash.mkString(", ")} collide " +
            "with declared keys or aggregate columns")
        val dupExpr = exprSums.map(_._1).diff(exprSums.map(_._1).distinct)
        if (dupExpr.nonEmpty)
          refuse(s"duplicate SUM-expression name(s) ${dupExpr.mkString(", ")}")
        val minmax = (mins ++ maxs).distinct
        val stats = (vars ++ stds).distinct
        val isChain = srcsParts.size > 2
        if (minmax.nonEmpty) {
          // MIN/MAX state is maintained by a different refresher
          // (semilattice merge + delta-scoped recompute on deletes) —
          // one flavor per view, and the refresher maintains BOTH
          // extrema per column, so they must be declared in pairs for
          // the statement to match the state schema
          if (sums.nonEmpty || avgs.nonEmpty || stats.nonEmpty || exprSums.nonEmpty)
            refuse("MIN/MAX cannot mix with SUM/AVG/VAR/STDDEV in one view " +
              "(different maintenance state) — create two views over the " +
              "same source")
          if (srcsParts.size > 1)
            refuse("MIN/MAX views maintain a single table (deletes may need " +
              "a delta-scoped source rescan, which a join view cannot do)")
          if (mins.toSet != maxs.toSet)
            refuse("MIN and MAX must be declared in pairs over the same " +
              "column (the maintained state carries both extrema)")
          MatViewShape("minmax", keys, Nil, Nil, minmax, Nil, Nil, Nil,
            srcsParts, Nil, whereSql, declared)
        } else if (stats.nonEmpty) {
          // VAR_POP/STDDEV_POP ride refreshStats' exact count + sum +
          // sum-of-squares + non-null-count state (single-table: the
          // exactness type probe runs over the delta) — SUM and AVG
          // of the same or other columns share the fold for free
          if (srcsParts.size > 1)
            refuse("VAR_POP/STDDEV_POP views maintain a single table " +
              "(the exact sum-of-squares state rides refreshStats)")
          if (exprSums.nonEmpty)
            refuse("SUM expressions cannot mix with VAR_POP/STDDEV_POP " +
              "(refreshStats derives its state per plain column) — create " +
              "two views over the same source")
          // refreshStats' derived state names (<c>_sq / <c>_nn) are
          // reserved — validate at PARSE time so a colliding CREATE
          // refuses before any side effect (round-12 advice: the
          // run-time check inside refreshStats fired after _mv.json
          // was written, stranding an orphan definition)
          val statsCols = (sums ++ avgs ++ vars ++ stds).distinct
          val reserved = statsCols.flatMap(c => Seq(s"${c}_sq", s"${c}_nn")).toSet
          val statClash = reserved.intersect(
            (keys ++ sums ++ avgs ++ vars ++ stds).toSet)
          if (statClash.nonEmpty)
            refuse(s"column(s) ${statClash.mkString(", ")} collide with the " +
              "stats flavor's derived state names (<col>_sq / <col>_nn)")
          MatViewShape("stats", keys, sums, avgs, Nil, vars, stds, Nil,
            srcsParts, Nil, whereSql, declared)
        } else if (isChain) {
          MatViewShape("chain", keys, sums, avgs, Nil, Nil, Nil, exprSums,
            srcsParts, chainKeys, whereSql, declared)
        } else if (srcsParts.size == 2) {
          MatViewShape("join", keys, sums, avgs, Nil, Nil, Nil, exprSums,
            srcsParts, chainKeys, whereSql, declared)
        } else {
          MatViewShape("agg", keys, sums, avgs, Nil, Nil, Nil, exprSums,
            srcsParts, Nil, whereSql, declared)
        }
      case other => refuse(s"the AS query must be a grouped aggregate, " +
        s"got ${other.nodeName}")
    }
  }

  /** `<catalog>.<db...>.<name>` → (store backend, warehouse path,
    * catalog name). Conf-based — the same per-name resolution the
    * catalog itself re-reads on every lookup, so these commands need
    * no access to Spark's (private) catalog manager.
    */
  private[sql] def resolve(spark: SparkSession,
      parts: Seq[String]): (VersionedTableOps, String, String) = {
    require(parts.length >= 3,
      s"materialized-view statements need a fully-qualified " +
        s"<catalog>.<namespace>.<name>, got ${parts.mkString(".")}")
    val cat = parts.head
    require(spark.conf.getOption(s"spark.sql.catalog.$cat")
        .contains(classOf[GraftCatalog].getName),
      s"catalog $cat is not a graft catalog")
    val root = spark.conf.getOption(s"spark.sql.catalog.$cat.root").getOrElse(
      throw new IllegalArgumentException(s"spark.sql.catalog.$cat.root is not set"))
    val path = parts.tail.foldLeft(Paths.get(root))((p, s) => p.resolve(s)).toString
    (GraftCatalog.opsFor(cat), path, cat)
  }

  // ---- the persisted definition ----

  private[sql] case class MatViewDef(kind: String, source: String,
      source2: Option[String], joinKeys: Seq[String], keyCols: Seq[String],
      sumCols: Seq[String], avgCols: Seq[String], minmaxCols: Seq[String],
      varCols: Seq[String], stdCols: Seq[String],
      whereSql: Option[String], buckets: Int,
      sources: Seq[String] = Nil, chainKeys: Seq[Seq[String]] = Nil,
      exprSums: Seq[(String, String)] = Nil, declared: Seq[String] = Nil)

  // Real JSON through the commit log's shared mapper: the WHERE
  // predicate is arbitrary SQL text — newlines, brackets, quotes.
  // Files without a "kind" field read back with kind = "agg", their
  // only flavor.
  private val json = graft.sources.ManifestCodec.mapper

  private def defPath(view: String) = Paths.get(view, "_mv.json")

  private[sql] def writeDef(view: String, d: MatViewDef): Unit = {
    Files.createDirectories(Paths.get(view))
    val n = json.createObjectNode()
    n.put("kind", d.kind)
    n.put("source", d.source)
    d.source2.foreach(n.put("source2", _))
    def arr(f: String, xs: Seq[String]): Unit = {
      val a = n.putArray(f); xs.foreach(a.add)
    }
    arr("joinKeys", d.joinKeys)
    arr("keys", d.keyCols)
    arr("sums", d.sumCols)
    arr("avgs", d.avgCols)
    arr("minmax", d.minmaxCols)
    arr("vars", d.varCols)
    arr("stds", d.stdCols)
    d.whereSql match {
      case Some(w) => n.put("where", w)
      case None => n.putNull("where")
    }
    n.put("buckets", d.buckets)
    arr("sources", d.sources)
    val ck = n.putArray("chainKeys")
    d.chainKeys.foreach { ks =>
      val inner = ck.addArray(); ks.foreach(inner.add)
    }
    val es = n.putArray("exprSums")
    d.exprSums.foreach { case (nm, sql) =>
      val o = es.addObject(); o.put("name", nm); o.put("expr", sql)
    }
    arr("declared", d.declared)
    Files.writeString(defPath(view), json.writeValueAsString(n))
  }

  private[sql] def readDef(view: String): MatViewDef = {
    require(Files.exists(defPath(view)),
      s"$view is not a SQL materialized view (no _mv.json definition)")
    val n = json.readTree(Files.readString(defPath(view)))
    def str(f: String): Option[String] =
      Option(n.get(f)).filterNot(_.isNull).map(_.asText)
    def arr(f: String): Seq[String] = Option(n.get(f)).toSeq.flatMap(a =>
      (0 until a.size).map(a.get(_).asText))
    val chainKeys = Option(n.get("chainKeys")).toSeq.flatMap(a =>
      (0 until a.size).map { i =>
        val inner = a.get(i)
        (0 until inner.size).map(inner.get(_).asText): Seq[String]
      })
    val exprSums = Option(n.get("exprSums")).toSeq.flatMap(a =>
      (0 until a.size).map { i =>
        val o = a.get(i)
        o.get("name").asText -> o.get("expr").asText
      })
    MatViewDef(str("kind").getOrElse("agg"),
      str("source").getOrElse(sys.error(s"malformed _mv.json at $view")),
      str("source2"), arr("joinKeys"), arr("keys"), arr("sums"), arr("avgs"),
      arr("minmax"), arr("vars"), arr("stds"), str("where"),
      Option(n.get("buckets")).map(_.asInt).getOrElse(0),
      arr("sources"), chainKeys, exprSums, arr("declared"))
  }

  /** An AVG/expression view's MAINTAINED sums: the declared sums,
    * each SUM-expression's suffix (its derived delta column), plus
    * (for each averaged column) its numerator sum and its
    * non-null-indicator sum — all abelian, all folded by the one
    * refresher.
    */
  private def aggSumCols(d: MatViewDef): Seq[String] =
    (d.sumCols ++ d.exprSums.map(_._1) ++
      d.avgCols.filterNot(d.sumCols.contains) ++
      d.avgCols.map(nnCol)).distinct

  /** The derive hook a definition needs: AVG's non-null indicators
    * plus each SUM expression computed (re-parsed from its stored SQL
    * text) on the delta under its state suffix.
    */
  private def deriveCols(spark: SparkSession,
      d: MatViewDef): Seq[(String, org.apache.spark.sql.Column)] =
    d.exprSums.map { case (nm, sql) =>
      nm -> org.apache.spark.sql.functions.expr(sql)
    } ++ d.avgCols.map(c => nnCol(c) ->
      when(col(c).isNotNull, lit(1L)).otherwise(lit(null).cast("long")))

  /** Bring a SQL-defined view up to date — shared by REFRESH, the
    * `refresh_view` procedure, and CREATE's initial population.
    * Dispatches on the definition's kind: plain abelian fold
    * (COUNT/SUM/AVG/SUM-expression state), the min/max semilattice
    * refresher, the two-source delta-join, or the N-source telescoped
    * chain. Returns the view's committed version.
    */
  def refresh(spark: SparkSession, ops: VersionedTableOps, view: String): Long =
    refreshDef(spark, ops, view, readDef(view))

  /** [[refresh]] against an in-memory definition — CREATE runs the
    * initial fold through this BEFORE persisting `_mv.json`, so a
    * failing first refresh leaves NO orphan definition behind
    * (round-12 advice: the stats flavor's run-time name check fired
    * after the write, stranding the file).
    */
  private[sql] def refreshDef(spark: SparkSession, ops: VersionedTableOps,
      view: String, d: MatViewDef): Long = {
    val mv = new MaterializedViewOps(ops)
    d.kind match {
      case "minmax" =>
        mv.refreshMinMax(spark, view, d.source, d.keyCols, d.minmaxCols,
          viewKey = ViewKeyMinMax, where = d.whereSql, buckets = d.buckets)
      case "stats" =>
        // one refreshStats fold maintains every referenced column's
        // exact sum + sum-of-squares + non-null count; AVG/VAR/STD
        // derive at read, declared SUMs read their state directly
        mv.refreshStats(spark, view, d.source, d.keyCols,
          (d.sumCols ++ d.avgCols ++ d.varCols ++ d.stdCols).distinct,
          viewKey = ViewKeyStats, where = d.whereSql, buckets = d.buckets)
      case "chain" =>
        mv.refreshJoinChain(spark, view, d.sources, d.chainKeys,
          d.keyCols, aggSumCols(d),
          viewKey = ViewKeyChain, where = d.whereSql, buckets = d.buckets,
          derive = deriveCols(spark, d))
      case "join" =>
        mv.refreshJoin(spark, view, d.source, d.source2.getOrElse(
            sys.error(s"join view $view lost its second source")),
          d.joinKeys, d.keyCols, aggSumCols(d),
          viewKey = ViewKeyJoin, where = d.whereSql, buckets = d.buckets,
          derive = deriveCols(spark, d))
      case _ =>
        mv.refresh(spark, view, d.source, d.keyCols, aggSumCols(d),
          viewKey = ViewKey, where = d.whereSql, buckets = d.buckets,
          derive = deriveCols(spark, d))
    }
  }

  /** The read-side projection a SQL reader of the view sees: the
    * DECLARED schema. AVG derives from its count+sum state in double
    * with a fixed operation order (numerator sum / non-null count —
    * NULL for an all-NULL group, SQL semantics); the internal state
    * columns (`mv_sum_<c>__nn`, undeclared numerator sums) are
    * hidden. Views without AVG pass through untouched — their state
    * IS the declared schema.
    */
  private[sql] def derivedRead(view: String, df: DataFrame): DataFrame = {
    if (!Files.exists(defPath(view))) return df
    val d = readDef(view)
    // present columns in the statement's declared order (round-12
    // advice: SELECT * returned derived avg/var/std APPENDED after the
    // state columns). Old definitions carry no declared list — they
    // keep the state order they always had.
    def ordered(out: DataFrame): DataFrame =
      if (d.declared.isEmpty) out else out.select(d.declared.map(col): _*)
    if (d.kind == "stats") return ordered(derivedStatsRead(d, df))
    if (d.avgCols.isEmpty) return ordered(df)
    val withAvgs = d.avgCols.foldLeft(df) { (acc, c) =>
      val nn = col(s"mv_sum_${nnCol(c)}")
      acc.withColumn(s"mv_avg_$c",
        when(nn.isNull || nn === 0, lit(null).cast("double"))
          .otherwise(col(s"mv_sum_$c").cast("double") / nn.cast("double")))
    }
    val hidden = d.avgCols.map(c => s"mv_sum_${nnCol(c)}") ++
      d.avgCols.filterNot(d.sumCols.contains).map(c => s"mv_sum_$c")
    ordered(withAvgs.drop(hidden: _*))
  }

  /** The stats-flavor declared read: refreshStats' state columns are
    * `mv_sum_<c>`, `mv_sum_<c>_sq`, `mv_sum_<c>_nn`; avg/var/std
    * derive in double with EXACTLY readStats' fixed operation order
    * (sum/n, sq/n − avg², sqrt — the hash-pinned q_mat_view_stats
    * chain), NULL for an all-NULL group, internal state hidden.
    */
  private def derivedStatsRead(d: MatViewDef, df: DataFrame): DataFrame = {
    val cols = (d.sumCols ++ d.avgCols ++ d.varCols ++ d.stdCols).distinct
    val withDerived = cols.foldLeft(df) { (acc, c) =>
      val nnRaw = col(s"mv_sum_${c}_nn")
      val n = when(nnRaw.isNull || nnRaw === 0, lit(null).cast("double"))
        .otherwise(nnRaw.cast("double"))
      val avg = col(s"mv_sum_$c").cast("double") / n
      val varp = col(s"mv_sum_${c}_sq").cast("double") / n - avg * avg
      val a1 = if (d.avgCols.contains(c)) acc.withColumn(s"mv_avg_$c", avg) else acc
      val a2 = if (d.varCols.contains(c)) a1.withColumn(s"mv_var_$c", varp) else a1
      if (d.stdCols.contains(c)) a2.withColumn(s"mv_std_$c", sqrt(varp)) else a2
    }
    val hidden = cols.flatMap(c => Seq(s"mv_sum_${c}_sq", s"mv_sum_${c}_nn")) ++
      cols.filterNot(d.sumCols.contains).map(c => s"mv_sum_$c")
    withDerived.drop(hidden: _*)
  }
}

/** One CREATE MATERIALIZED VIEW = persist the definition + the first
  * refresh (full-snapshot fold, committed with the source cursor(s)).
  */
case class GraftCreateMatViewCommand(viewParts: Seq[String],
    buckets: Option[Int], shape: GraftMatView.MatViewShape)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (ops, viewPath, cat) = GraftMatView.resolve(spark, viewParts)
    require(ops.versions(viewPath).isEmpty,
      s"materialized view ${viewParts.mkString(".")} already exists")
    // every source must live in the SAME catalog: the refresh cursors
    // are versions of that catalog's commit log
    def srcPath(parts: Seq[String]): String = {
      require(parts.length >= 3 && parts.head == cat,
        s"the view's source must be a table of catalog $cat, fully qualified " +
          s"(got ${parts.mkString(".")})")
      val (_, p, _) = GraftMatView.resolve(spark, parts)
      require(ops.versions(p).nonEmpty,
        s"source table ${parts.mkString(".")} does not exist")
      p
    }
    val srcPaths = shape.sourcesParts.map(srcPath)
    // a SUM-expression's suffix becomes a DELTA column (the derive
    // hook's withColumn) — it must not shadow any real source column
    if (shape.exprSums.nonEmpty) {
      val srcCols = srcPaths.flatMap(p => ops.read(spark, p).columns).toSet
      val shadowed = shape.exprSums.map(_._1).filter(srcCols.contains)
      require(shadowed.isEmpty,
        s"SUM-expression name(s) ${shadowed.mkString(", ")} shadow source " +
          "columns — pick fresh mv_sum_<name> suffixes")
    }
    val d = GraftMatView.MatViewDef(
      shape.kind, srcPaths.head,
      if (shape.kind == "join") srcPaths.lift(1) else None,
      if (shape.kind == "join") shape.chainKeys.flatten else Nil,
      shape.keys, shape.sums, shape.avgs, shape.minmax, shape.vars,
      shape.stds, shape.whereSql,
      buckets.getOrElse(GraftMatView.DefaultBuckets),
      sources = if (shape.kind == "chain") srcPaths else Nil,
      chainKeys = if (shape.kind == "chain") shape.chainKeys else Nil,
      exprSums = shape.exprSums, declared = shape.declared)
    // initial fold FIRST, definition file second: a failing first
    // refresh (type probes, name collisions, missing columns) leaves
    // no orphan _mv.json behind (round-12 advice)
    GraftMatView.refreshDef(spark, ops, viewPath, d)
    GraftMatView.writeDef(viewPath, d)
    Nil
  }
  override def simpleString(maxFields: Int): String =
    s"GraftCreateMatView ${viewParts.mkString(".")}"
}

/** DESCRIBE HISTORY <catalog>.<ns...>.<table>: one row per retained
  * version — (version, op, ts, num_files, num_dvs), straight from the
  * commit manifests ([[graft.sources.VersionedTableOps.history]]).
  * Driver-side manifest reads only, no data IO — the observability
  * twin of CALL <cat>.system.history, as a first-class statement whose
  * result composes with SQL (it is a plain local relation). A dropped
  * table's retained history stays DESCRIBEable until vacuum — the
  * same forensics window every other history surface keeps.
  */
case class GraftDescribeHistoryCommand(tableParts: Seq[String])
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types._

  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)(),
      AttributeReference("op", StringType, nullable = false)(),
      AttributeReference("ts", TimestampType, nullable = false)(),
      AttributeReference("num_files", IntegerType, nullable = false)(),
      AttributeReference("num_dvs", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val (ops, path, _) = GraftMatView.resolve(spark, tableParts)
    require(ops.versions(path).nonEmpty,
      s"no table at ${tableParts.mkString(".")} to describe")
    ops.history(spark, path).collect().toSeq
  }
  override def simpleString(maxFields: Int): String =
    s"GraftDescribeHistory ${tableParts.mkString(".")}"
}

/** One REFRESH MATERIALIZED VIEW = one incremental fold of the source
  * delta since the view's cursor (no-op when already fresh).
  */
case class GraftRefreshMatViewCommand(viewParts: Seq[String])
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (ops, viewPath, _) = GraftMatView.resolve(spark, viewParts)
    GraftMatView.refresh(spark, ops, viewPath)
    Nil
  }
  override def simpleString(maxFields: Int): String =
    s"GraftRefreshMatView ${viewParts.mkString(".")}"
}

/** Parser extension: the two MATERIALIZED VIEW statements above, with
  * every other string delegated verbatim (expressions, identifiers,
  * schemas included — this parser adds statements, it never changes
  * the language).
  */
object GraftSqlParser {
  /** Idempotent wrap: a session configured with BOTH extension
    * classes (GraftExtensions and GraftSqlExtensions each inject the
    * parser) must not stack two layers — the double wrap was harmless
    * but paid the MATERIALIZED VIEW regex match twice per statement
    * (round-11 advice).
    */
  def wrap(delegate: ParserInterface): ParserInterface = delegate match {
    case p: GraftSqlParser => p
    case d => new GraftSqlParser(d)
  }
}

class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftMatView.parse(sqlText, delegate).getOrElse(delegate.parsePlan(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}
