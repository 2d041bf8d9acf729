package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{InMemoryCommitStore, VersionedTable, VersionedTableOps}
import graft.sql.GraftCatalog

/** The SQL entry point (graft.sql.GraftCatalog + GraftSqlRule): plain
  * `spark.sql` text must reach versioned-table snapshots with the
  * SAME semantics as the Scala read path — zone-map file skipping,
  * deletion-vector subtraction, column renames, version pinning —
  * on BOTH commit-store backends (POSIX links and the object-store
  * contract). TestSpark's session carries the two activation configs
  * (the same pair Verify/Bench set), so these run against the exact
  * wiring the driver gate uses.
  */
class SqlCatalogSpec extends SparkSpec {

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-sqlcat-$tag").toString

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("k"), (col("id") * 10).as("v"))


  /** The full battery, parameterized on the ops backend: tests run it
    * once against the default POSIX catalog name and once against an
    * object-store-backed catalog registered under a second name —
    * identical SQL, identical answers.
    */
  private def battery(catalog: String, ops: VersionedTableOps): Unit = {
    val root = freshRoot(catalog)
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.root", root)

    // three key-clustered commits under namespace `db`
    val table = s"$root/db/t"
    val v1 = ops.overwrite(spark, table, rows(0, 100))
    Thread.sleep(5) // commit times must be distinguishable for AS OF
    val tsAfterV1 = System.currentTimeMillis()
    Thread.sleep(5)
    ops.append(spark, table, rows(100, 200))
    ops.append(spark, table, rows(200, 300))

    // head read: all three commits visible
    val head = spark.sql(s"SELECT k, v FROM $catalog.db.t")
    assert(head.count() === 300)
    assert(head.agg(sum("v")).head.getLong(0) === (0L until 300).map(_ * 10).sum)

    // zone-map skipping THROUGH the SQL plan: a mid-band predicate
    // opens fewer files than the snapshot holds
    val total = ops.snapshotFiles(table).size
    val pruned = spark.sql(
      s"SELECT k, v FROM $catalog.db.t WHERE k BETWEEN 120 AND 180")
    assert(pruned.collect().map(_.getLong(0)).toSet === (120L to 180L).toSet)
    assert(scannedFiles(pruned) < total,
      s"SQL range read must prune manifest files (total $total)")

    // VERSION AS OF pins the pre-append snapshot
    val pinned = spark.sql(s"SELECT k FROM $catalog.db.t VERSION AS OF $v1")
    assert(pinned.collect().map(_.getLong(0)).toSet === (0L until 100).toSet)

    // TIMESTAMP AS OF resolves on commit publish times
    val ts = new java.sql.Timestamp(tsAfterV1)
    val asOf = spark.sql(
      s"SELECT count(*) AS n FROM $catalog.db.t TIMESTAMP AS OF '$ts'")
    assert(asOf.head.getLong(0) === 100)

    // a statement referencing the table is pinned at resolution: the
    // loadTable version survives concurrent commits (snapshot read)
    val before = spark.sql(s"SELECT count(*) AS n FROM $catalog.db.t")
    val planned = before.queryExecution.analyzed // resolution happens here
    ops.append(spark, table, rows(300, 310))
    assert(before.head.getLong(0) === 300,
      "a resolved statement reads the snapshot it resolved against")
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.t").head.getLong(0) === 310)
    assert(planned != null)

    // deletion vectors subtract through SQL (the wrong-rows hazard a
    // raw file scan would hit): MoR delete moves no files, yet SQL
    // must not see the deleted rows
    val filesBefore = ops.snapshotFiles(table).toSet
    ops.deleteMoR(spark, table, col("k") < 10L)
    assert(ops.snapshotFiles(table).toSet === filesBefore)
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.t").head.getLong(0) === 300)

    // column renames resolve logically through SQL: data files keep
    // the physical name, the SQL reader sees the logical one
    ops.renameColumn(spark, table, "v", "val")
    val renamed = spark.sql(s"SELECT k, val FROM $catalog.db.t WHERE k = 20")
    assert(renamed.head.getLong(1) === 200)

    // catalog metadata surfaces
    val tables = spark.sql(s"SHOW TABLES IN $catalog.db").collect()
    assert(tables.map(_.getString(1)).toSet === Set("t"))
    val desc = spark.sql(s"DESCRIBE TABLE $catalog.db.t").collect()
    assert(desc.map(_.getString(0)).toSet.intersect(Set("k", "val")) === Set("k", "val"))

    // SHOW CREATE TABLE (round 13): the stored schema + provider +
    // properties rendered as re-runnable DDL through Spark's own v2
    // exec over this catalog's Table surface
    val ddl = spark.sql(s"SHOW CREATE TABLE $catalog.db.t").head.getString(0)
    assert(ddl.toUpperCase.startsWith("CREATE TABLE"), ddl)
    assert(ddl.contains("k") && ddl.contains("val") && ddl.contains("BIGINT"),
      s"the DDL must carry the declared columns: $ddl")
    assert(ddl.contains("graft"), s"the DDL must name the provider: $ddl")
    // re-runnable: executing the rendered DDL under a fresh name
    // creates a table with the same declared schema (location/version
    // properties are informational — the catalog derives the new path
    // from the new name)
    val ddl2 = ddl.replaceFirst("TABLE\\s+\\S*\\bt\\b", s"TABLE $catalog.db.tddl")
    spark.sql(ddl2)
    assert(spark.sql(s"SELECT * FROM $catalog.db.tddl").columns.toSeq ===
      spark.sql(s"SELECT * FROM $catalog.db.t").columns.toSeq,
      "the rendered DDL must recreate the declared schema")

    // DESCRIBE HISTORY (round 13): the commit log as a SQL-queryable
    // relation — version/op/ts/file counts straight from the
    // manifests, agreeing with the Scala history() surface
    val hist = spark.sql(s"DESC HISTORY $catalog.db.t").collect()
    val scalaHist = ops.history(spark, table).collect()
    assert(hist.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      scalaHist.map(r => (r.getLong(0), r.getString(1))).toSeq,
      "DESCRIBE HISTORY must mirror the commit log")
    assert(hist.map(_.getLong(0)).toSeq === hist.map(_.getLong(0)).toSeq.sorted,
      "history rows come in version order")
    intercept[Exception] { spark.sql(s"DESCRIBE HISTORY $catalog.db.nosuch") }

    // a second table in a sibling namespace lists independently
    ops.overwrite(spark, s"$root/other/u", rows(0, 5))
    assert(spark.sql(s"SHOW TABLES IN $catalog.other").collect()
      .map(_.getString(1)).toSet === Set("u"))
    val nss = spark.sql(s"SHOW NAMESPACES IN $catalog").collect()
      .map(_.getString(0)).toSet
    assert(Set("db", "other").subsetOf(nss))

    // DROP TABLE (round 12): the metadata-only tombstone commit —
    // the name disappears from every SQL surface immediately, bytes
    // remain until the vacuum step (pinned pre-drop readers keep
    // their snapshots), re-CREATE of the name continues the history
    val preDropVersions = ops.versions(table).size
    spark.sql(s"DROP TABLE $catalog.db.t")
    assert(ops.versions(table).size === preDropVersions + 1,
      "DROP TABLE is one commit")
    assert(!spark.sql(s"SHOW TABLES IN $catalog.db").collect()
      .map(_.getString(1)).contains("t"), "a dropped table must not list")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM $catalog.db.t").collect()
    }
    // Scala-side forensics: pre-drop versions stay time-travelable
    // until vacuum; the head is zero rows
    assert(ops.read(spark, table, Some(preDropVersions.toLong)).count() === 300)
    assert(ops.read(spark, table).count() === 0)
    // SQL VERSION AS OF keeps reaching pre-drop snapshots too —
    // DELIBERATE: the tombstone hides the NAME (head reads), not the
    // retained history; forensics before vacuum is the point of the
    // grace window
    assert(spark.sql(
      s"SELECT count(*) AS n FROM $catalog.db.t VERSION AS OF $preDropVersions")
      .head.getLong(0) === 300)
    // step two: vacuum(retain=1) reclaims every data byte (the
    // zero-file tombstone head references nothing)
    val rep = ops.vacuum(table, retain = 1, graceMs = 0)
    assert(rep.deletedDirs > 0 && rep.deletedBytes > 0,
      s"vacuum after DROP must reclaim the data, got $rep")
    // re-CREATE continues the commit history under the same name
    spark.sql(s"CREATE TABLE $catalog.db.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $catalog.db.t VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT))")
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.t").head.getLong(0) === 1)
    // PURGE still refuses — physical removal is not one commit
    val purgeErr = intercept[Exception] {
      spark.sql(s"DROP TABLE $catalog.db.t PURGE")
    }
    assert(purgeErr.getMessage.contains("PURGE") ||
      purgeErr.getMessage.toLowerCase.contains("purge"))

    // strictRecreate (round 13, the round-12 advice's opt-in): with the
    // conf on, CREATE over a tombstoned head refuses while pre-drop
    // snapshots are still retained (the grace window otherwise lets
    // VERSION AS OF on the recreated name reach the previous owner's
    // data); after vacuum truncates the history to the bare tombstone,
    // the same CREATE proceeds
    spark.sql(s"DROP TABLE $catalog.db.t")
    spark.conf.set(s"spark.sql.catalog.$catalog.strictRecreate", "true")
    try {
      val strictErr = intercept[IllegalStateException] {
        spark.sql(s"CREATE TABLE $catalog.db.t (k BIGINT)")
      }
      assert(strictErr.getMessage.contains("strictRecreate"),
        s"unexpected refusal shape: ${strictErr.getMessage}")
      ops.vacuum(table, retain = 1, graceMs = 0)
      spark.sql(s"CREATE TABLE $catalog.db.t (k BIGINT)")
      assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.t")
        .head.getLong(0) === 0, "post-vacuum CREATE proceeds under strict mode")
    } finally
      spark.conf.unset(s"spark.sql.catalog.$catalog.strictRecreate")

    // missing tables fail as table-not-found, not an internal error
    val missing = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM $catalog.db.nope").collect()
    }
    assert(missing.getMessage.toLowerCase.contains("table"))
    // DROP of a missing table with IF EXISTS is a quiet no-op; without
    // it, table-not-found
    spark.sql(s"DROP TABLE IF EXISTS $catalog.db.nope")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"DROP TABLE $catalog.db.nope")
    }
  }

  test("SQL catalog battery — POSIX-link backend (default ops)") {
    battery("graft", VersionedTable)
  }

  test("SQL catalog battery — object-store backend (registered ops)") {
    val ops = new VersionedTableOps(new InMemoryCommitStore)
    GraftCatalog.setOps("graftmem", ops)
    battery("graftmem", ops)
  }

  test("two relations of one table in one statement see one snapshot") {
    val root = freshRoot("selfjoin")
    spark.conf.set("spark.sql.catalog.graft.root", root)
    VersionedTable.overwrite(spark, s"$root/db/s", rows(0, 50))
    // self-join through the catalog: both legs resolve to the same
    // pinned version, so the join is consistent even mid-commit
    val joined = spark.sql(
      """SELECT a.k FROM graft.db.s a JOIN graft.db.s b ON a.k = b.k""")
    assert(joined.count() === 50)
  }

  test("time travel to a vacuumed or absent version fails loudly") {
    val root = freshRoot("badversion")
    spark.conf.set("spark.sql.catalog.graft.root", root)
    VersionedTable.overwrite(spark, s"$root/db/w", rows(0, 10))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft.db.w VERSION AS OF 99").collect()
    }
    assert(e.getMessage.contains("99"))
  }

  /** The SQL WRITE battery (round 10, second half): every statement
    * that maps onto ONE transactional commit works in pure SQL text —
    * CREATE/CTAS, INSERT INTO/OVERWRITE, DELETE FROM, ALTER RENAME/
    * DROP COLUMN — lands through the SAME entry points the Scala API
    * uses (one statement = one CAS'd commit, interleaving safely with
    * Scala writers), and everything that does NOT collapse to one
    * commit refuses loudly instead of approximating.
    */
  private def dmlBattery(catalog: String, ops: VersionedTableOps): Unit = {
    val root = freshRoot(s"$catalog-dml")
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.root", root)
    val table = s"$root/db/t"

    // CREATE TABLE: version 0 is an empty commit carrying the schema
    spark.sql(s"CREATE TABLE $catalog.db.t (k BIGINT, v BIGINT)")
    assert(ops.versions(table).size === 1)
    assert(spark.sql(s"SELECT * FROM $catalog.db.t").count() === 0)

    // INSERT INTO (VALUES and SELECT): each one append commit
    spark.sql(s"INSERT INTO $catalog.db.t VALUES (1, 10), (2, 20)")
    spark.sql(s"INSERT INTO $catalog.db.t SELECT id AS k, id * 10 AS v " +
      "FROM range(3, 100)")
    assert(ops.versions(table).size === 3)
    assert(spark.sql(s"SELECT sum(v) AS s FROM $catalog.db.t").head.getLong(0)
      === (1L until 100).map(_ * 10).sum)

    // SQL writes interleave with Scala writes on one log
    ops.append(spark, table, rows(100, 110))
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.t")
      .head.getLong(0) === 109)

    // DELETE FROM with a translatable condition: copy-on-write, and
    // time travel still sees the deleted rows
    val preDelete = ops.versions(table).last
    spark.sql(s"DELETE FROM $catalog.db.t WHERE k < 10 OR k >= 100")
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.t")
      .head.getLong(0) === 90)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM $catalog.db.t VERSION AS OF $preDelete")
      .head.getLong(0) === 109)

    // DELETE with a condition NO DSv2 filter can express (modulo):
    // the resolution rule converts it to a delete commit with the
    // arbitrary Column condition — zone maps prune conservatively,
    // semantics exact
    spark.sql(s"DELETE FROM $catalog.db.t WHERE k % 2 = 0")
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.t")
      .head.getLong(0) === 45, "evens of 10..99 deleted")

    // subqueries in DELETE conditions refuse loudly (self-contained
    // predicate contract), and a refused DELETE changes nothing
    val badDelete = intercept[Exception] {
      spark.sql(s"DELETE FROM $catalog.db.t WHERE k IN " +
        s"(SELECT k FROM $catalog.db.t WHERE k > 50)")
    }
    assert(badDelete.getMessage.contains("subqueries"),
      s"unexpected refusal shape: ${badDelete.getMessage}")
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.t")
      .head.getLong(0) === 45, "a refused DELETE must change nothing")

    // INSERT OVERWRITE: one overwrite commit replacing the snapshot
    spark.sql(s"INSERT OVERWRITE $catalog.db.t SELECT id AS k, id AS v " +
      "FROM range(0, 7)")
    assert(spark.sql(s"SELECT count(*) AS n, sum(v) AS s FROM $catalog.db.t")
      .head.getLong(0) === 7)

    // ALTER TABLE: the two metadata-only column commits
    spark.sql(s"ALTER TABLE $catalog.db.t RENAME COLUMN v TO val")
    assert(spark.sql(s"SELECT sum(val) AS s FROM $catalog.db.t")
      .head.getLong(0) === 21)
    spark.sql(s"ALTER TABLE $catalog.db.t DROP COLUMN val")
    assert(spark.sql(s"SELECT * FROM $catalog.db.t").columns.toSeq === Seq("k"))

    // CTAS: create + insert, reads back through the indexed path
    spark.sql(s"CREATE TABLE $catalog.db.c AS SELECT id AS k, id * 2 AS dbl " +
      "FROM range(0, 50)")
    assert(spark.sql(s"SELECT sum(dbl) AS s FROM $catalog.db.c")
      .head.getLong(0) === (0L until 50).map(_ * 2).sum)
    assert(ops.versions(s"$root/db/c").size === 2)

    // UPDATE through the rule: one commit, every SET value evaluates
    // against the OLD row (simultaneous assignment), zone-map COW
    spark.sql(s"UPDATE $catalog.db.c SET dbl = dbl + k WHERE k < 10")
    assert(spark.sql(s"SELECT sum(dbl) AS s FROM $catalog.db.c").head.getLong(0)
      === (0L until 50).map(_ * 2).sum + (0L until 10).sum)
    val preUpdateVersions = ops.versions(s"$root/db/c").size
    spark.sql(s"UPDATE $catalog.db.c SET dbl = CAST(0 AS BIGINT) WHERE k = 999999")
    assert(spark.sql(s"SELECT sum(dbl) AS s FROM $catalog.db.c").head.getLong(0)
      === (0L until 50).map(_ * 2).sum + (0L until 10).sum,
      "a no-match UPDATE changes nothing")
    assert(ops.versions(s"$root/db/c").size === preUpdateVersions,
      "a no-op UPDATE publishes no commit")

    // MERGE: the canonical upsert, with EXACT SQL semantics — matched
    // rows take the source values INCLUDING nulls (not coalesce)
    spark.sql(s"CREATE TABLE $catalog.db.m (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $catalog.db.m SELECT id AS k, id AS v FROM range(0, 10)")
    spark.sql(
      s"""MERGE INTO $catalog.db.m t
         |USING (SELECT id AS k, CAST(NULL AS BIGINT) AS v FROM range(5, 15)) s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val mRows = spark.sql(s"SELECT k, v FROM $catalog.db.m").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(mRows.size === 15)
    assert((0L until 5).forall(k => mRows(k) === Some(k)), "unmatched target rows keep values")
    assert((5L until 15).forall(k => mRows(k).isEmpty), "matched rows take source NULLs")

    // MERGE with a graft-table SOURCE (the eager source swap) and
    // explicit column assignments
    spark.sql(
      s"""MERGE INTO $catalog.db.m t
         |USING $catalog.db.c s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET k = s.k, v = s.dbl
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.dbl)""".stripMargin)
    val m2 = spark.sql(s"SELECT count(*) AS n FROM $catalog.db.m").head.getLong(0)
    assert(m2 === 50, s"50 source keys upserted over 15 target rows, got $m2")

    // the FULL clause grammar (round 13): conditional matched clauses
    // evaluated first-match-wins, MATCHED DELETE, values referencing
    // BOTH sides, partial-column updates, conditional + partial
    // INSERT (unassigned columns land typed NULL), and source rows no
    // insert clause takes being dropped. State walking in: db.m holds
    // k 0..49 with v = k*2 + (k<10 ? k : 0) from the explicit-columns
    // upsert above; db.c holds k 0..49 (+999) with dbl = same values.
    val preFull = spark.sql(s"SELECT k, v FROM $catalog.db.m").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.sql(
      s"""MERGE INTO $catalog.db.m t
         |USING (SELECT id AS k, id * 1000 AS big FROM range(0, 60)) s
         |ON t.k = s.k
         |WHEN MATCHED AND t.k < 10 THEN DELETE
         |WHEN MATCHED AND s.big > 40000 THEN UPDATE SET v = t.v + s.big
         |WHEN NOT MATCHED AND s.k % 2 = 0 THEN INSERT (k) VALUES (s.k)""".stripMargin)
    val mFull = spark.sql(s"SELECT k, v FROM $catalog.db.m").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val expectFull: Map[Long, Option[Long]] =
      preFull.flatMap { case (k, v) =>
        if (k < 10) None // first clause wins: deleted
        else if (k * 1000 > 40000) Some(k -> Some(v + k * 1000)) // updated
        else Some(k -> Some(v)) // matched, no clause takes it: carries
      } ++ // source-only keys 50..59: even ones insert with v NULL
        (50L until 60 by 2).map(k => k -> (None: Option[Long]))
    assert(mFull === expectFull,
      s"full-grammar MERGE must replay the clause chain: got $mFull")

    // refusals that remain, each named: moving a merge key in UPDATE,
    // an INSERT that does not assign the key its ON expression, and a
    // non-equi ON shape — and a refused statement publishes nothing
    val preRefuse = ops.versions(s"$root/db/m").size
    val badKey = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $catalog.db.m t USING $catalog.db.c s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET k = s.k + 1""".stripMargin)
    }
    assert(badKey.getMessage.contains("merge key"))
    val badIns = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $catalog.db.m t USING $catalog.db.c s ON t.k = s.k
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k + 1, s.dbl)""".stripMargin)
    }
    assert(badIns.getMessage.contains("ON source expression"))
    val badOn = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $catalog.db.m t USING $catalog.db.c s ON t.k < s.k
           |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(badOn.getMessage.contains("equalities"))
    assert(ops.versions(s"$root/db/m").size === preRefuse,
      "refused MERGE statements must publish nothing")

    // CREATE TABLE … PARTITIONED BY: the value-directory layout is
    // SQL-creatable — version 0 is a ZERO-file manifest (a zero-row
    // file can't be value-routed), the empty read is well-typed,
    // INSERTs route, and a keyed MERGE takes the scoped path on a
    // table that never saw the Scala API
    spark.sql(s"CREATE TABLE $catalog.db.p (k BIGINT, v BIGINT, grp BIGINT) " +
      "PARTITIONED BY (grp)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.p").head.getLong(0) === 0,
      "the zero-file created snapshot reads empty, typed")
    spark.sql(s"INSERT INTO $catalog.db.p " +
      "SELECT id AS k, id * 10 AS v, id % 2 AS grp FROM range(0, 20)")
    val (sq0, _) = ops.filesForPartition(s"$root/db/p", "grp", "0")
    assert(sq0.nonEmpty && sq0.forall(_.contains("grp__pv=0")),
      s"INSERT into a SQL-created partitioned table must route: $sq0")
    spark.sql(
      s"""MERGE INTO $catalog.db.p t
         |USING (SELECT id AS k, id * 100 AS v, CAST(1 AS BIGINT) AS grp
         |       FROM range(1, 20, 2)) s
         |ON t.k = s.k AND t.grp = s.grp
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql(s"CALL $catalog.system.history('db.p')")
      .collect().last.getString(1) === "replace_partitions",
      "keyed MERGE on a SQL-created partitioned table takes the scoped path")
    assert(ops.filesForPartition(s"$root/db/p", "grp", "0")._1 === sq0,
      "the untouched partition carried by reference")
    assert(spark.sql(s"SELECT sum(v) AS s FROM $catalog.db.p WHERE grp = 1")
      .head.getLong(0) === (1L until 20 by 2).map(_ * 100).sum)

    // SHOW PARTITIONS lists the value directories (metadata-only:
    // distinct manifest path segments), and ALTER TABLE … DROP
    // PARTITION runs the metadata-only retention drop — files leave
    // the manifest, zero data bytes move
    assert(spark.sql(s"SHOW PARTITIONS $catalog.db.p").collect()
      .map(_.getString(0)).sorted === Array("grp=0", "grp=1"))
    val preDropVersions = ops.versions(s"$root/db/p").size
    spark.sql(s"ALTER TABLE $catalog.db.p DROP PARTITION (grp = 0)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.p WHERE grp = 0")
      .head.getLong(0) === 0)
    assert(spark.sql(s"SHOW PARTITIONS $catalog.db.p").collect()
      .map(_.getString(0)) === Array("grp=1"))
    assert(ops.versions(s"$root/db/p").size === preDropVersions + 1,
      "DROP PARTITION is one commit")
    assert(spark.sql(s"CALL $catalog.system.history('db.p')")
      .collect().last.getString(1) === "drop_partition",
      "the SQL drop takes the metadata-only commit path")

    // non-identity partition transforms refuse loudly
    val badPart = intercept[Exception] {
      spark.sql(s"CREATE TABLE $catalog.db.pb (k BIGINT) PARTITIONED BY (bucket(8, k))")
    }
    assert(badPart.getMessage.contains("identity"))

    // ALTER TABLE … ADD COLUMN (round 12): metadata-only commit —
    // file list identical across it, existing rows read NULL, later
    // INSERTs populate it
    val tPath = s"$root/db/t"
    val addBefore = ops.snapshotFiles(tPath)
    spark.sql(s"ALTER TABLE $catalog.db.t ADD COLUMN extra BIGINT")
    assert(ops.snapshotFiles(tPath) === addBefore,
      "SQL ADD COLUMN must carry the data files by reference")
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.t WHERE extra IS NULL")
      .head.getLong(0) ===
      spark.sql(s"SELECT count(*) AS n FROM $catalog.db.t").head.getLong(0),
      "pre-add rows read the new column as NULL")
    assert(spark.sql(s"CALL $catalog.system.history('db.t')")
      .collect().last.getString(1) === "add_column",
      "SQL ADD COLUMN takes the metadata-only commit path")
    spark.sql(s"INSERT INTO $catalog.db.t " +
      "SELECT id AS k, id * 3 AS extra FROM range(9000, 9005)")
    assert(spark.sql(s"SELECT sum(extra) AS s FROM $catalog.db.t").head.getLong(0)
      === (9000L until 9005L).map(_ * 3).sum)
    // a NOT NULL add refuses (existing rows cannot satisfy it)
    val addNn = intercept[Exception] {
      spark.sql(s"ALTER TABLE $catalog.db.t ADD COLUMN extra2 BIGINT NOT NULL")
    }
    assert(addNn.getMessage.toLowerCase.contains("null"))

    // a schema-conflicting insert is refused at analysis (arity —
    // db.t holds (k, extra) after the rename/drop/add history above)
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"INSERT INTO $catalog.db.t VALUES (1)")
    }
    assert(bad != null)

    // CREATE TABLE in ID column-mapping mode (round 12): TBLPROPERTIES
    // opts a SQL-born table into the no-name-burn property — CREATE →
    // INSERT → RENAME → DROP → immediate re-ADD of the same name, old
    // bytes dead (name mode refuses the re-add until compact+vacuum)
    spark.sql(s"CREATE TABLE $catalog.db.idm (k BIGINT, tag BIGINT) " +
      "TBLPROPERTIES ('graft.columnMapping' = 'id')")
    assert(ops.columnMapping(s"$root/db/idm") === "id")
    spark.sql(s"INSERT INTO $catalog.db.idm " +
      "SELECT id AS k, id * 7 AS tag FROM range(0, 20)")
    spark.sql(s"ALTER TABLE $catalog.db.idm RENAME COLUMN tag TO label")
    assert(spark.sql(s"SELECT sum(label) AS s FROM $catalog.db.idm")
      .head.getLong(0) === (0L until 20L).map(_ * 7).sum)
    spark.sql(s"ALTER TABLE $catalog.db.idm DROP COLUMN label")
    spark.sql(s"ALTER TABLE $catalog.db.idm ADD COLUMN label BIGINT")
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.idm " +
      "WHERE label IS NOT NULL").head.getLong(0) === 0,
      "the re-added name reads NULL — the dropped column's bytes stay dead")
    spark.sql(s"INSERT INTO $catalog.db.idm " +
      "SELECT id AS k, id AS label FROM range(100, 105)")
    assert(spark.sql(s"SELECT sum(label) AS s FROM $catalog.db.idm")
      .head.getLong(0) === (100L until 105L).sum)
    // the 'tag' name (renamed away, then its successor dropped) also
    // re-adds immediately with dead old bytes
    spark.sql(s"ALTER TABLE $catalog.db.idm ADD COLUMN tag BIGINT")
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.idm " +
      "WHERE tag IS NOT NULL").head.getLong(0) === 0,
      "the original physical bytes must not alias the re-added name")
    // a bad mode refuses loudly
    val badMode = intercept[Exception] {
      spark.sql(s"CREATE TABLE $catalog.db.idbad (k BIGINT) " +
        "TBLPROPERTIES ('graft.columnMapping' = 'uuid')")
    }
    assert(badMode.getMessage.contains("columnMapping"))

    // CHECK constraints via SQL DDL: ADD validates the existing data
    // (a violating table cannot gain the rule), then every write
    // enforces atomically; DROP lifts it
    spark.sql(s"ALTER TABLE $catalog.db.c ADD CONSTRAINT pos CHECK (dbl >= 0)")
    val viol = intercept[Exception] {
      spark.sql(s"INSERT INTO $catalog.db.c VALUES (CAST(999 AS BIGINT), CAST(-1 AS BIGINT))")
    }
    assert(viol.getMessage.contains("pos"), s"violation names the rule: ${viol.getMessage}")
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.c WHERE k = 999")
      .head.getLong(0) === 0, "a refused INSERT publishes nothing")
    val badAdd = intercept[Exception] {
      spark.sql(s"ALTER TABLE $catalog.db.c ADD CONSTRAINT huge CHECK (dbl > 1000000)")
    }
    assert(badAdd.getMessage.contains("huge") ||
      badAdd.getMessage.toLowerCase.contains("violat"))
    spark.sql(s"ALTER TABLE $catalog.db.c DROP CONSTRAINT pos")
    spark.sql(s"INSERT INTO $catalog.db.c VALUES (CAST(999 AS BIGINT), CAST(-1 AS BIGINT))")
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.c WHERE k = 999")
      .head.getLong(0) === 1, "the dropped rule no longer gates writes")

    // SQL INSERT INTO a PARTITIONED table: stageData follows the
    // table's partition spec, so the appended rows land value-routed
    // and partition-scoped file listings see them
    val ptable = s"$root/db/pt"
    ops.overwritePartitioned(ptable, rows(0, 20).withColumn("grp", col("k") % 2), Seq("grp"))
    spark.sql(s"INSERT INTO $catalog.db.pt " +
      "SELECT id AS k, id AS v, id % 2 AS grp FROM range(20, 40)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.pt")
      .head.getLong(0) === 40)
    val (p0, _) = ops.filesForPartition(ptable, "grp", "0")
    assert(p0.nonEmpty && p0.forall(_.contains("grp__pv=0")),
      s"appended files must be value-routed: $p0")
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.pt WHERE grp = 0")
      .head.getLong(0) === 20)

    // MERGE composes with the partition layout (mergeKeyed): an ON
    // key that is a partition column restricts the state read, the
    // join, and the rewrite to the partitions the source touches —
    // the UNTOUCHED partition's files must carry into the new commit
    // BY REFERENCE (path identity, the COW assert), and the commit
    // must be a replace_partitions, not a whole-snapshot merge
    val (g0Before, _) = ops.filesForPartition(ptable, "grp", "0")
    val sumG0Before = spark.sql(
      s"SELECT sum(v) AS s FROM $catalog.db.pt WHERE grp = 0").head.getLong(0)
    spark.sql(
      s"""MERGE INTO $catalog.db.pt t
         |USING (SELECT id AS k, id * 100 AS v, CAST(1 AS BIGINT) AS grp
         |       FROM range(1, 61, 2)) s
         |ON t.k = s.k AND t.grp = s.grp
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.pt")
      .head.getLong(0) === 50, "20 odd-k updates + 10 inserts over 40 rows")
    assert(spark.sql(
      s"SELECT sum(v) AS s FROM $catalog.db.pt WHERE grp = 1").head.getLong(0)
      === (1L until 61 by 2).map(_ * 100).sum, "touched partition took source values")
    assert(spark.sql(
      s"SELECT sum(v) AS s FROM $catalog.db.pt WHERE grp = 0").head.getLong(0)
      === sumG0Before, "untouched partition rows unchanged")
    val (g0After, _) = ops.filesForPartition(ptable, "grp", "0")
    assert(g0After === g0Before,
      "untouched partition files must carry by reference across a keyed MERGE")
    val lastOp = spark.sql(s"CALL $catalog.system.history('db.pt')")
      .collect().last.getString(1)
    assert(lastOp === "replace_partitions",
      s"a partition-keyed MERGE must take the scoped path, got $lastOp")

    // MERGE WHEN NOT MATCHED BY SOURCE (round 13): the "sync a
    // dimension" statement — delete/re-flag the target rows the
    // source no longer carries — with all THREE clause families in
    // one statement. State walking in: grp=1 holds odd k 1..59 with
    // v=k*100; grp=0 holds even k 0..38 with v=k*10 for k<20 (the
    // rows() seed) and v=k for k>=20 (the SQL INSERT). The source
    // names ONLY grp=1 odd k 1..19, so:
    //  - matched rows take v=k*1000;
    //  - no not-matched inserts (all source keys exist);
    //  - target-only rows walk the BY SOURCE chain FIRST-MATCH-WINS:
    //    v >= 100 deletes (all grp=1 odd k 21..59, v >= 2100, AND the
    //    five grp=0 seeds with k*10 >= 100 — the chain cuts across
    //    partitions), the rest re-flag v = v + 1.
    // The decisive property: grp=0 rows MUTATE even though the
    // source never names grp=0 — so the scoped replace_partitions
    // path (whose key probe selects grp=1 only) must be BYPASSED;
    // the commit is a whole-snapshot "merge".
    spark.sql(
      s"""MERGE INTO $catalog.db.pt t
         |USING (SELECT id AS k, id * 1000 AS v, CAST(1 AS BIGINT) AS grp
         |       FROM range(1, 21, 2)) s
         |ON t.k = s.k AND t.grp = s.grp
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND t.v >= 100 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = t.v + 1""".stripMargin)
    val bsOp = spark.sql(s"CALL $catalog.system.history('db.pt')")
      .collect().last.getString(1)
    assert(bsOp === "merge",
      s"a BY SOURCE MERGE must bypass the scoped path (got $bsOp): the key " +
        "probe never selects the files its by-source clauses mutate")
    // the pre-merge state, replayed driver-side: (k, v, grp)
    val preState =
      (1L until 61 by 2).map(k => (k, k * 100, 1L)) ++          // grp=1
      (0L until 20 by 2).map(k => (k, k * 10, 0L)) ++           // grp=0 seed
      (20L until 40 by 2).map(k => (k, k, 0L))                  // grp=0 insert
    val matchedKeys = (1L until 21 by 2).toSet
    val expect = preState.flatMap { case (k, v, g) =>
      if (g == 1 && matchedKeys(k)) Some((k, k * 1000, g))      // matched
      else if (v >= 100) None                                   // BY SOURCE DELETE
      else Some((k, v + 1, g))                                  // BY SOURCE UPDATE
    }
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.pt")
      .head.getLong(0) === expect.size,
      "survivors = matched + re-flagged; first matching clause wins")
    for (g <- Seq(0L, 1L))
      assert(spark.sql(
        s"SELECT sum(v) AS s FROM $catalog.db.pt WHERE grp = $g").head.getLong(0)
        === expect.filter(_._3 == g).map(_._2).sum,
        s"grp=$g values must replay the clause chain (grp=0 mutates even " +
          "though the source never names it — the bypassed scoped path " +
          "would have carried it untouched)")

    // a BY SOURCE UPDATE may not assign a merge key (the row's
    // identity), and the refused statement publishes nothing
    val preBadBs = ops.versions(ptable).size
    val badBs = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $catalog.db.pt t
           |USING (SELECT id AS k, id AS v, CAST(1 AS BIGINT) AS grp
           |       FROM range(0, 5)) s
           |ON t.k = s.k AND t.grp = s.grp
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET k = t.k + 1""".stripMargin)
    }
    assert(badBs.getMessage.contains("merge key"),
      s"unexpected refusal shape: ${badBs.getMessage}")
    assert(ops.versions(ptable).size === preBadBs,
      "a refused BY SOURCE MERGE must publish nothing")

    // ALTER TABLE … RENAME TO (round 13): a metadata-only namespace
    // move — the whole commit log travels, so the FULL history is
    // reachable under the new name (time travel included), and the
    // old name is immediately free for an unrelated re-CREATE with
    // no resurrection (unlike DROP's tombstone, nothing remains).
    spark.sql(s"CREATE TABLE $catalog.db.rn (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $catalog.db.rn SELECT id AS k, id AS v FROM range(0, 10)")
    spark.sql(s"INSERT INTO $catalog.db.rn SELECT id AS k, id AS v FROM range(10, 30)")
    val preRenameVersions = ops.versions(s"$root/db/rn")
    spark.sql(s"ALTER TABLE $catalog.db.rn RENAME TO db2.rn2")
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db2.rn2")
      .head.getLong(0) === 30, "the head reads whole under the new name")
    assert(ops.versions(s"$root/db2/rn2") === preRenameVersions,
      "the FULL commit history must travel with the rename")
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db2.rn2 " +
      s"VERSION AS OF ${preRenameVersions(1)}").head.getLong(0) === 10,
      "time travel reaches pre-rename versions under the new name")
    assert(!spark.catalog.tableExists(s"$catalog.db.rn") ||
      intercept[Exception](spark.sql(s"SELECT * FROM $catalog.db.rn").collect()) != null,
      "the old name must be gone")
    // the old name re-CREATEs FRESH: version history starts over,
    // nothing resurrects from the moved log
    spark.sql(s"CREATE TABLE $catalog.db.rn (other STRING)")
    assert(ops.versions(s"$root/db/rn").size === 1,
      "re-CREATE at the vacated name starts a fresh history")
    assert(spark.sql(s"SELECT * FROM $catalog.db.rn").columns.toSeq === Seq("other"),
      "the vacated name carries nothing over")
    // refusals: a missing source and an occupied target both refuse
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $catalog.db.nope RENAME TO db.nope2")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $catalog.db2.rn2 RENAME TO db.rn")
    }
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db2.rn2")
      .head.getLong(0) === 30, "a refused rename changes nothing")

    // DROP NAMESPACE: removes an emptied namespace; refuses non-empty
    spark.sql(s"CREATE NAMESPACE $catalog.emptyns")
    assert(spark.sql(s"SHOW NAMESPACES IN $catalog").collect()
      .exists(_.getString(0) == "emptyns"))
    spark.sql(s"DROP NAMESPACE $catalog.emptyns")
    assert(!spark.sql(s"SHOW NAMESPACES IN $catalog").collect()
      .exists(_.getString(0) == "emptyns"))
    intercept[Exception] { spark.sql(s"DROP NAMESPACE $catalog.db2") }
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db2.rn2")
      .head.getLong(0) === 30, "a refused namespace drop changes nothing")
  }

  test("SQL DML battery — POSIX-link backend (default ops)") {
    dmlBattery("graft", VersionedTable)
  }

  test("SQL DML battery — object-store backend (registered ops)") {
    val ops = new VersionedTableOps(new InMemoryCommitStore)
    GraftCatalog.setOps("graftmemdml", ops)
    dmlBattery("graftmemdml", ops)
  }

  /** SQL maintenance via CALL (the DSv2 ProcedureCatalog): vacuum,
    * compact, optimize, history — each resolves the dotted table
    * argument against the catalog root and runs the SAME maintenance
    * entry point the Scala API exposes, returning its report rows.
    */
  private def proceduresBattery(catalog: String, ops: VersionedTableOps): Unit = {
    val root = freshRoot(s"$catalog-proc")
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.root", root)
    val table = s"$root/db/t"
    ops.overwrite(spark, table, rows(0, 100).repartition(4))
    ops.append(spark, table, rows(100, 200).repartition(4))

    // history: the commit log as rows, O(versions) metadata
    val hist = spark.sql(s"CALL $catalog.system.history('db.t')").collect()
    assert(hist.map(_.getLong(0)).toSeq === ops.versions(table))
    assert(hist.map(_.getString(1)).toSeq === Seq("overwrite", "append"))
    assert(hist.forall(_.getTimestamp(2).getTime > 0))

    // compact: one commit, one file, same rows
    assert(ops.snapshotFiles(table).size >= 8)
    val v = spark.sql(s"CALL $catalog.system.compact('db.t', 1)").head.getLong(0)
    assert(ops.versions(table).last === v)
    assert(ops.snapshotFiles(table).size === 1)
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.t").head.getLong(0) === 200)

    // optimize: clustered rewrite into 4 files
    spark.sql(s"CALL $catalog.system.optimize('db.t', 'k', 4, false)")
    assert(ops.snapshotFiles(table).size === 4)
    assert(spark.sql(s"SELECT sum(v) AS s FROM $catalog.db.t").head.getLong(0)
      === (0L until 200).map(_ * 10).sum)

    // vacuum with retain=1 and no grace: old versions dropped, old
    // stage dirs reclaimed, the head still reads
    val before = ops.versions(table).size
    val rep = spark.sql(s"CALL $catalog.system.vacuum('db.t', 1, 0)").head
    assert(rep.getInt(0) === 1, "kept_versions")
    assert(rep.getInt(1) === before - 1, "dropped_versions")
    assert(rep.getInt(2) > 0, "deleted_dirs")
    assert(spark.sql(s"SELECT count(*) AS n FROM $catalog.db.t").head.getLong(0) === 200)

    // unknown procedures refuse loudly
    val nope = intercept[Exception] {
      spark.sql(s"CALL $catalog.system.nope('db.t')")
    }
    assert(nope.getMessage.contains("nope"))
  }

  test("replacePartitions expectedBase refuses a moved head (nothing published)") {
    val root = freshRoot("expbase")
    val table = s"$root/db/t"
    val df = rows(0, 20).withColumn("grp", col("k") % 2)
    val v1 = VersionedTable.overwritePartitioned(table, df, Seq("grp"))
    VersionedTable.append(spark, table, rows(20, 30).withColumn("grp", col("k") % 2))
    val headBefore = VersionedTable.versions(table).last
    val ex = intercept[Exception] {
      VersionedTable.replacePartitions(spark, table,
        rows(0, 5).withColumn("grp", lit(0L)), "grp", Seq("0"),
        expectedBase = Some(v1)) // stale: the append moved the head
    }
    assert(ex.getMessage.contains("expectedBase moved"))
    assert(VersionedTable.versions(table).last === headBefore,
      "a refused conditional commit publishes nothing")
    assert(VersionedTable.read(spark, table).count() === 30)
  }

  test("mergeKeyed falls back to the whole-snapshot merge when the layout can't prove the restriction") {
    def lastOp(t: String): String =
      VersionedTable.history(spark, t).collect().last.getString(1)
    // unpartitioned target: same answer, 'merge' commit
    val flat = s"${freshRoot("mk-flat")}/db/t"
    VersionedTable.overwrite(spark, flat, rows(0, 10))
    VersionedTable.mergeKeyed(spark, flat, rows(5, 15), Seq("k"),
      (cur, upd) => cur.join(upd, Seq("k"), "left_anti").unionByName(upd))
    assert(VersionedTable.read(spark, flat).count() === 15)
    assert(lastOp(flat) === "merge")

    // partitioned on a column that is NOT a merge key: fallback too
    // (an update could move a row across partitions — unprovable)
    val off = s"${freshRoot("mk-off")}/db/t"
    VersionedTable.overwritePartitioned(off,
      rows(0, 10).withColumn("grp", col("k") % 2), Seq("grp"))
    VersionedTable.mergeKeyed(spark, off,
      rows(5, 15).withColumn("grp", lit(0L)), Seq("k"),
      (cur, upd) => cur.join(upd, Seq("k"), "left_anti").unionByName(upd))
    assert(VersionedTable.read(spark, off).count() === 15)
    assert(lastOp(off) === "merge")

    // partition key among the merge keys: the scoped path engages
    val on = s"${freshRoot("mk-on")}/db/t"
    VersionedTable.overwritePartitioned(on,
      rows(0, 10).withColumn("grp", col("k") % 2), Seq("grp"))
    val (g1Before, _) = VersionedTable.filesForPartition(on, "grp", "1")
    val upd = rows(0, 4).filter(col("k") % 2 === 0) // keys 0, 2 — grp-0 rows
      .withColumn("grp", lit(0L)).withColumn("v", col("k") * 1000)
    VersionedTable.mergeKeyed(spark, on, upd, Seq("k", "grp"),
      (cur, u) => cur.join(u, Seq("k", "grp"), "left_anti")
        .unionByName(u.select("k", "v", "grp")))
    assert(lastOp(on) === "replace_partitions")
    assert(VersionedTable.filesForPartition(on, "grp", "1")._1 === g1Before,
      "untouched value-partition carries by file reference")
    val got = VersionedTable.read(spark, on).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"))).toMap
    assert(got.size === 10)
    assert(Seq(0L, 2L).forall(k => got(k) === k * 1000), "touched keys rewrote")
    assert(Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L, 9L).forall(k => got(k) === k * 10),
      "every other key untouched")
  }

  test("SQL procedures battery — POSIX-link backend (default ops)") {
    proceduresBattery("graft", VersionedTable)
  }

  test("SQL procedures battery — object-store backend (registered ops)") {
    val ops = new VersionedTableOps(new InMemoryCommitStore)
    GraftCatalog.setOps("graftmemproc", ops)
    proceduresBattery("graftmemproc", ops)
  }

  /** BLOOM INDEX over SQL (round 13): the per-file equality-skipping
    * index reaches plain SQL text three ways — declared at birth via
    * TBLPROPERTIES, retrofitted via CALL system.bloom_index (with
    * backfill), and consumed by an ordinary `WHERE k = x` whose file
    * pruning happens inside planning. The layout is hash-scattered so
    * the zone maps provably cannot prune it — only the blooms can.
    */
  private def bloomSqlBattery(catalog: String, ops: VersionedTableOps): Unit = {
    val root = freshRoot(s"bloom-$catalog")
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.root", root)

    // declared at birth: CREATE + three SCATTERED inserts (each file
    // spans ~the whole key domain — the layout intervals cannot serve)
    spark.sql(s"""CREATE TABLE $catalog.db.b (k BIGINT, v BIGINT)
      |TBLPROPERTIES ('graft.bloom.columns' = 'k',
      |               'graft.bloom.fpp' = '0.001')""".stripMargin)
    for (era <- 0 to 2) {
      rows(0, 3000).filter(col("k") % 3 === era)
        .repartition(4, col("v")).createOrReplaceTempView("bloom_batch")
      spark.sql(s"INSERT INTO $catalog.db.b SELECT k, v FROM bloom_batch")
    }
    spark.catalog.dropTempView("bloom_batch")
    val all = scannedFiles(spark.sql(s"SELECT k, v FROM $catalog.db.b"))
    assert(all >= 12, "3 scattered inserts × 4 files")
    val eq = spark.sql(s"SELECT k, v FROM $catalog.db.b WHERE k = 1234")
    assert(eq.collect().map(_.getLong(0)).toSeq === Seq(1234L))
    assert(scannedFiles(eq) < all / 2,
      s"SQL equality must bloom-prune at planning (scanned of $all)")
    // the declaration round-trips through SHOW CREATE TABLE's DDL
    val ddl = spark.sql(s"SHOW CREATE TABLE $catalog.db.b").head.getString(0)
    assert(ddl.contains("graft.bloom.columns") && ddl.contains("'k'"),
      s"rendered DDL must carry the bloom declaration:\n$ddl")

    // retrofitted: an undeclared scattered table, indexed by CALL with
    // backfill — the same probe prunes immediately after
    val t2 = s"$root/db/old"
    ops.overwrite(spark, t2, rows(0, 2000).repartition(5, col("v")))
    val before = scannedFiles(spark.sql(s"SELECT k FROM $catalog.db.old WHERE k = 777"))
    assert(before === ops.snapshotFiles(t2).size.toLong,
      "without the index the scattered point probe scans everything")
    val ret = spark.sql(
      s"CALL $catalog.system.bloom_index('db.old', 'k', 0.001)").collect()
    assert(ret.length === 1 && ret.head.getLong(0) === ops.versions(t2).last)
    val afterEq = spark.sql(s"SELECT k FROM $catalog.db.old WHERE k = 777")
    assert(afterEq.collect().map(_.getLong(0)).toSeq === Seq(777L))
    assert(scannedFiles(afterEq) < before,
      "CALL bloom_index(backfill) makes the same SQL probe prune")
    // '' removes the declaration
    spark.sql(s"CALL $catalog.system.bloom_index('db.old', '')")
    assert(ops.bloomIndexSpec(t2).isEmpty, "empty column list removes the index")
  }

  test("SQL bloom-index battery — POSIX-link backend (default ops)") {
    bloomSqlBattery("graft", VersionedTable)
  }

  test("SQL bloom-index battery — object-store backend (registered ops)") {
    val ops = new VersionedTableOps(new InMemoryCommitStore)
    GraftCatalog.setOps("graftmembloom", ops)
    bloomSqlBattery("graftmembloom", ops)
  }

  /** SQL MATERIALIZED VIEWS (round 11): CREATE persists the
    * definition and folds the first snapshot; REFRESH (and the
    * refresh_view procedure) fold only the source delta since the
    * cursor; the bucketed state default makes the refresh write
    * O(touched buckets) — asserted by file identity of untouched
    * buckets. Unmaintainable definitions refuse at parse time.
    */
  private def matViewBattery(catalog: String, ops: VersionedTableOps): Unit = {
    val root = freshRoot(s"mv-$catalog")
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.root", root)
    val src = s"$root/db/src"
    ops.overwrite(spark, src, rows(0, 100).withColumn("grp", col("k") % 10))

    spark.sql(
      s"""CREATE MATERIALIZED VIEW $catalog.db.v BUCKETS 16 AS
         |SELECT grp, COUNT(*) AS mv_count, SUM(v) AS mv_sum_v
         |FROM $catalog.db.src GROUP BY grp""".stripMargin)
    val view = s"$root/db/v"
    def state(): Map[Long, (Long, BigDecimal)] =
      spark.sql(s"SELECT grp, mv_count, mv_sum_v FROM $catalog.db.v").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
    val s0 = state()
    assert(s0.size === 10)
    assert(s0(3L) === ((10L, BigDecimal((3L until 100 by 10).map(_ * 10).sum))))

    // a fresh view refreshes as a no-op (no new commit)
    val vFresh = ops.versions(view).last
    spark.sql(s"REFRESH MATERIALIZED VIEW $catalog.db.v")
    assert(ops.versions(view).last === vFresh, "fresh view refresh is a no-op")

    // a narrow delta (one group key) refreshes incrementally: only the
    // touched bucket's files are replaced, the rest carry by identity
    ops.append(spark, src,
      spark.range(1000, 1005).select(col("id").as("k"), lit(7L).as("v"),
        lit(3L).as("grp")))
    val before = ops.snapshotFiles(view).toSet
    spark.sql(s"REFRESH MATERIALIZED VIEW $catalog.db.v")
    val after = ops.snapshotFiles(view).toSet
    assert((before & after).nonEmpty,
      "untouched buckets must carry by file reference across a narrow refresh")
    assert((before -- after).size < before.size)
    val s1 = state()
    assert(s1(3L) === ((15L, s0(3L)._2 + 35)), "delta folded into the touched group")
    assert(s1.filter(_._1 != 3L) === s0.filter(_._1 != 3L), "other groups unchanged")

    // the procedure twin folds the next delta
    ops.append(spark, src,
      spark.range(2000, 2001).select(col("id").as("k"), lit(100L).as("v"),
        lit(5L).as("grp")))
    val ret = spark.sql(s"CALL $catalog.system.refresh_view('db.v')").collect()
    assert(ret.length === 1 && ret.head.getLong(0) === ops.versions(view).last)
    assert(state()(5L)._1 === 11L)

    // WHERE-scoped view: the predicate distributes over the delta
    spark.sql(
      s"""CREATE MATERIALIZED VIEW $catalog.db.vw AS
         |SELECT grp, COUNT(*) AS mv_count FROM $catalog.db.src
         |WHERE v >= 50 GROUP BY grp""".stripMargin)
    val w0 = spark.sql(s"SELECT grp, mv_count FROM $catalog.db.vw").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w0(3L) === 9L,
      s"grp 3: 9 base rows with v>=50 (k in 13..93), none of the v=7 delta; got $w0")

    // AVG view (round 12): count+sum state, avg DERIVED at read in
    // double with SQL null semantics; the internal state columns
    // (numerator sum, non-null indicator sum) stay hidden
    spark.sql(
      s"""CREATE MATERIALIZED VIEW $catalog.db.va BUCKETS 8 AS
         |SELECT grp, COUNT(*) AS mv_count, AVG(v) AS mv_avg_v
         |FROM $catalog.db.src GROUP BY grp""".stripMargin)
    def avgState(): Map[Long, (Long, Option[Double])] =
      spark.sql(s"SELECT grp, mv_count, mv_avg_v FROM $catalog.db.va").collect()
        .map(r => r.getLong(0) -> (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(spark.sql(s"SELECT * FROM $catalog.db.va").columns.filter(
      _.startsWith("mv_")).sorted.toSeq === Seq("mv_avg_v", "mv_count"),
      "internal AVG state columns must stay hidden from the declared schema")
    val a0 = avgState()
    // grp 3 by now: 10 base rows (v = k*10) + 5 delta rows (v = 7)
    assert(a0(3L)._1 === 15L)
    assert(a0(3L)._2.contains(
      ((3L until 100 by 10).map(_ * 10).sum + 5 * 7L).toDouble / 15.0))
    // NULL-valued rows count toward mv_count but NOT the average
    // (SQL AVG semantics — numerator and denominator both skip NULL)
    ops.append(spark, src, spark.range(3000, 3003).select(col("id").as("k"),
      lit(null).cast("long").as("v"), lit(3L).as("grp")))
    spark.sql(s"REFRESH MATERIALIZED VIEW $catalog.db.va")
    val a1 = avgState()
    assert(a1(3L)._1 === 18L, "NULL rows still count rows")
    assert(a1(3L)._2 === a0(3L)._2, "NULL rows must not move the average")

    // MIN/MAX view (round 12): semilattice state — pure merge on
    // inserts, delta-scoped recompute when a delete touches an
    // extremum
    spark.sql(
      s"""CREATE MATERIALIZED VIEW $catalog.db.vx BUCKETS 8 AS
         |SELECT grp, COUNT(*) AS mv_count,
         |       MIN(v) AS mv_min_v, MAX(v) AS mv_max_v
         |FROM $catalog.db.src GROUP BY grp""".stripMargin)
    def mmState(): Map[Long, (Long, Long, Long)] =
      spark.sql(s"SELECT grp, mv_count, mv_min_v, mv_max_v FROM $catalog.db.vx")
        .collect().filter(r => !r.isNullAt(2))
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val m0 = mmState()
    assert(m0(3L)._2 === 7L && m0(3L)._3 === 930L,
      s"grp 3 extrema over base + v=7 delta, got ${m0(3L)}")
    // a new maximum merges in as pure state math
    ops.append(spark, src, spark.range(4000, 4001).select(col("id").as("k"),
      lit(5000L).as("v"), lit(3L).as("grp")))
    spark.sql(s"REFRESH MATERIALIZED VIEW $catalog.db.vx")
    assert(mmState()(3L)._3 === 5000L)
    // deleting the current maximum forces the delta-scoped recompute
    ops.delete(spark, src, col("v") === 5000L)
    spark.sql(s"REFRESH MATERIALIZED VIEW $catalog.db.vx")
    assert(mmState()(3L)._3 === 930L,
      "the recompute must find the runner-up after the extremum's delete")

    // JOIN view (round 12): the delta-join decomposition in SQL text —
    // a fact append refreshes as Δfact ⋈ dim, never snapshot ⋈ snapshot
    val dim = s"$root/db/dim"
    ops.overwrite(spark, dim, spark.range(0, 10).select(
      col("id").as("grp"), concat(lit("R"), (col("id") % 3).cast("string")).as("region")))
    spark.sql(
      s"""CREATE MATERIALIZED VIEW $catalog.db.vj BUCKETS 4 AS
         |SELECT region, COUNT(*) AS mv_count, SUM(v) AS mv_sum_v
         |FROM $catalog.db.src JOIN $catalog.db.dim USING (grp)
         |GROUP BY region""".stripMargin)
    def jState(): Map[String, Long] =
      spark.sql(s"SELECT region, mv_count FROM $catalog.db.vj").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val j0 = jState()
    assert(j0.keySet === Set("R0", "R1", "R2"))
    ops.append(spark, src, spark.range(5000, 5004).select(col("id").as("k"),
      lit(1L).as("v"), lit(4L).as("grp"))) // grp 4 -> region R1
    spark.sql(s"REFRESH MATERIALIZED VIEW $catalog.db.vj")
    val j1 = jState()
    assert(j1("R1") === j0("R1") + 4 && j1("R0") === j0("R0") &&
      j1("R2") === j0("R2"), "only the delta's region moves")

    // VAR_POP/STDDEV_POP view (round 12, second pass): refreshStats'
    // exact count+sum+sum-of-squares state reached from pure SQL,
    // derived at read; SUM/AVG of the same column share the fold
    spark.sql(
      s"""CREATE MATERIALIZED VIEW $catalog.db.vv BUCKETS 8 AS
         |SELECT grp, COUNT(*) AS mv_count, SUM(v) AS mv_sum_v,
         |       AVG(v) AS mv_avg_v,
         |       VAR_POP(v) AS mv_var_v, STDDEV_POP(v) AS mv_std_v
         |FROM $catalog.db.src GROUP BY grp""".stripMargin)
    assert(spark.sql(s"SELECT * FROM $catalog.db.vv").columns
      .filter(_.startsWith("mv_")).sorted.toSeq ===
      Seq("mv_avg_v", "mv_count", "mv_std_v", "mv_sum_v", "mv_var_v"),
      "sq/nn state columns must stay hidden; declared sums stay visible")
    def vvErr(): Double = spark.sql(
      s"""SELECT max(abs(s.mv_var_v - r.rv)) + max(abs(s.mv_std_v - r.rs)) +
         |       max(abs(s.mv_avg_v - r.ra)) AS e
         |FROM $catalog.db.vv s JOIN (
         |  SELECT grp, var_pop(v) AS rv, stddev_pop(v) AS rs, avg(v) AS ra
         |  FROM $catalog.db.src GROUP BY grp) r USING (grp)""".stripMargin)
      .head.getDouble(0)
    assert(vvErr() < 1e-6, s"stats view must match the recompute, err ${vvErr()}")
    ops.append(spark, src, spark.range(7000, 7010).select(col("id").as("k"),
      (col("id") % 13).as("v"), lit(6L).as("grp")))
    spark.sql(s"REFRESH MATERIALIZED VIEW $catalog.db.vv")
    assert(vvErr() < 1e-6, "incremental stats refresh must match the recompute")

    // unmaintainable shapes refuse loudly at parse time
    intercept[UnsupportedOperationException] {
      spark.sql(s"CREATE MATERIALIZED VIEW $catalog.db.bad AS " +
        s"SELECT grp, COUNT(*) AS cnt FROM $catalog.db.src GROUP BY grp")
    }
    intercept[UnsupportedOperationException] {
      spark.sql(s"CREATE MATERIALIZED VIEW $catalog.db.bad AS " +
        s"SELECT grp, COUNT(*) AS mv_count, AVG(v) AS mv_sum_v " +
        s"FROM $catalog.db.src GROUP BY grp")
    }
    intercept[UnsupportedOperationException] {
      spark.sql(s"CREATE MATERIALIZED VIEW $catalog.db.bad AS " +
        s"SELECT grp, COUNT(v) AS mv_count FROM $catalog.db.src GROUP BY grp")
    }
    // stats shape rules: sample variants refuse with the POP pointer;
    // VAR_POP on a join refuses
    val sampleErr = intercept[UnsupportedOperationException] {
      spark.sql(s"CREATE MATERIALIZED VIEW $catalog.db.bad AS " +
        s"SELECT grp, COUNT(*) AS mv_count, STDDEV(v) AS mv_std_v " +
        s"FROM $catalog.db.src GROUP BY grp")
    }
    assert(sampleErr.getMessage.contains("POP"))
    intercept[UnsupportedOperationException] {
      spark.sql(s"CREATE MATERIALIZED VIEW $catalog.db.bad AS " +
        s"SELECT region, COUNT(*) AS mv_count, VAR_POP(v) AS mv_var_v " +
        s"FROM $catalog.db.src JOIN $catalog.db.dim USING (grp) GROUP BY region")
    }

    // round-12 shape rules: MIN without its MAX pair; MIN/MAX mixed
    // with SUM; AVG on a join view; a non-USING join
    intercept[UnsupportedOperationException] {
      spark.sql(s"CREATE MATERIALIZED VIEW $catalog.db.bad AS " +
        s"SELECT grp, COUNT(*) AS mv_count, MIN(v) AS mv_min_v " +
        s"FROM $catalog.db.src GROUP BY grp")
    }
    intercept[UnsupportedOperationException] {
      spark.sql(s"CREATE MATERIALIZED VIEW $catalog.db.bad AS " +
        s"SELECT grp, COUNT(*) AS mv_count, SUM(v) AS mv_sum_v, " +
        s"MIN(v) AS mv_min_v, MAX(v) AS mv_max_v " +
        s"FROM $catalog.db.src GROUP BY grp")
    }
    intercept[UnsupportedOperationException] {
      spark.sql(s"CREATE MATERIALIZED VIEW $catalog.db.bad AS " +
        s"SELECT region, COUNT(*) AS mv_count FROM $catalog.db.src s " +
        s"JOIN $catalog.db.dim d ON s.grp = d.grp GROUP BY region")
    }

    // AVG on a JOIN view (round 12, second pass): the same derived
    // count+sum state rides the delta-join fold — the indicator is
    // computed on the JOINED delta, and the read derives mv_avg
    spark.sql(
      s"""CREATE MATERIALIZED VIEW $catalog.db.vja BUCKETS 4 AS
         |SELECT region, COUNT(*) AS mv_count, AVG(v) AS mv_avg_v
         |FROM $catalog.db.src JOIN $catalog.db.dim USING (grp)
         |GROUP BY region""".stripMargin)
    def jaState(): Map[String, (Long, Double)] =
      spark.sql(s"SELECT region, mv_count, mv_avg_v FROM $catalog.db.vja")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val ja0 = jaState()
    // oracle-style recompute from the sources
    val want0 = spark.sql(
      s"""SELECT region, COUNT(*) AS n,
         |       CAST(SUM(v) AS DOUBLE) / COUNT(v) AS a
         |FROM $catalog.db.src JOIN $catalog.db.dim USING (grp)
         |GROUP BY region""".stripMargin)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(ja0 === want0, s"join-view AVG must equal the recompute: $ja0 vs $want0")
    ops.append(spark, src, spark.range(6000, 6005).select(col("id").as("k"),
      lit(999L).as("v"), lit(7L).as("grp"))) // grp 7 -> region R1
    spark.sql(s"REFRESH MATERIALIZED VIEW $catalog.db.vja")
    val ja1 = jaState()
    val want1 = spark.sql(
      s"""SELECT region, COUNT(*) AS n,
         |       CAST(SUM(v) AS DOUBLE) / COUNT(v) AS a
         |FROM $catalog.db.src JOIN $catalog.db.dim USING (grp)
         |GROUP BY region""".stripMargin)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(ja1 === want1, "incremental join-view AVG must equal the recompute")
    assert(ja1("R1") != ja0("R1") && ja1("R0") == ja0("R0"),
      "only the delta's region moves")
    // a duplicate CREATE refuses; a REFRESH of a non-view refuses
    intercept[IllegalArgumentException] {
      spark.sql(s"CREATE MATERIALIZED VIEW $catalog.db.v AS " +
        s"SELECT grp, COUNT(*) AS mv_count FROM $catalog.db.src GROUP BY grp")
    }
    intercept[IllegalArgumentException] {
      spark.sql(s"REFRESH MATERIALIZED VIEW $catalog.db.src")
    }

    // SELECT * returns columns in the DECLARED order (round-12 advice:
    // derived avg/var/std used to append after the state columns)
    assert(spark.sql(s"SELECT * FROM $catalog.db.va").columns.toSeq ===
      Seq("grp", "mv_count", "mv_avg_v"),
      "AVG view: SELECT * must reproduce the statement's column order")
    assert(spark.sql(s"SELECT * FROM $catalog.db.vv").columns.toSeq ===
      Seq("grp", "mv_count", "mv_sum_v", "mv_avg_v", "mv_var_v", "mv_std_v"),
      "stats view: SELECT * must reproduce the statement's column order")

    // N-TABLE CHAIN view (round 13): the parser accepted only two
    // tables while refreshJoinChain maintained N — a 3-table chain in
    // pure SQL text, maintained across a fact append and a dim delete
    val dim2 = s"$root/db/dim2"
    ops.overwrite(spark, dim2, spark.range(0, 3).select(
      concat(lit("R"), col("id").cast("string")).as("region"),
      concat(lit("Z"), (col("id") % 2).cast("string")).as("zone")))
    spark.sql(
      s"""CREATE MATERIALIZED VIEW $catalog.db.vc BUCKETS 4 AS
         |SELECT zone, COUNT(*) AS mv_count, SUM(v) AS mv_sum_v
         |FROM $catalog.db.src JOIN $catalog.db.dim USING (grp)
         |                     JOIN $catalog.db.dim2 USING (region)
         |GROUP BY zone""".stripMargin)
    def cState(): Map[String, (Long, Long)] =
      spark.sql(s"SELECT zone, mv_count, CAST(mv_sum_v AS BIGINT) AS s " +
        s"FROM $catalog.db.vc").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def cWant(): Map[String, (Long, Long)] = spark.sql(
      s"""SELECT zone, COUNT(*) AS n, SUM(v) AS s
         |FROM $catalog.db.src JOIN $catalog.db.dim USING (grp)
         |                     JOIN $catalog.db.dim2 USING (region)
         |GROUP BY zone""".stripMargin).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cState() === cWant(), "chain view first fold == recompute")
    ops.append(spark, src, spark.range(8000, 8006).select(col("id").as("k"),
      lit(11L).as("v"), lit(2L).as("grp")))
    spark.sql(s"REFRESH MATERIALIZED VIEW $catalog.db.vc")
    assert(cState() === cWant(), "chain view tracks a fact append")
    ops.delete(spark, dim2, col("zone") === "Z1")
    spark.sql(s"REFRESH MATERIALIZED VIEW $catalog.db.vc")
    val cFinal = cState()
    assert(cFinal === cWant() && !cFinal.contains("Z1"),
      "a dim delete folds whole zones back out through the signed chain")

    // SUM over an EXPRESSION (round 13): maintained through the
    // derive hook under the alias's suffix — single-table and on the
    // chain, both tracking the recompute across deltas
    spark.sql(
      s"""CREATE MATERIALIZED VIEW $catalog.db.ve BUCKETS 8 AS
         |SELECT grp, COUNT(*) AS mv_count, SUM(v * k) AS mv_sum_vk,
         |       SUM(v) AS mv_sum_v
         |FROM $catalog.db.src GROUP BY grp""".stripMargin)
    def eErr(): Double = spark.sql(
      s"""SELECT CAST(max(abs(s.mv_sum_vk - r.rvk)) +
         |            max(abs(s.mv_sum_v - r.rv)) AS DOUBLE) AS e
         |FROM $catalog.db.ve s JOIN (
         |  SELECT grp, SUM(v * k) AS rvk, SUM(v) AS rv
         |  FROM $catalog.db.src GROUP BY grp) r USING (grp)""".stripMargin)
      .head.getDouble(0)
    assert(eErr() === 0.0, "expression sums must equal the recompute")
    ops.append(spark, src, spark.range(9000, 9005).select(col("id").as("k"),
      (col("id") % 5).as("v"), lit(8L).as("grp")))
    spark.sql(s"REFRESH MATERIALIZED VIEW $catalog.db.ve")
    assert(eErr() === 0.0, "incremental expression sums must equal the recompute")
    assert(spark.sql(s"SELECT * FROM $catalog.db.ve").columns.toSeq ===
      Seq("grp", "mv_count", "mv_sum_vk", "mv_sum_v"),
      "expression sums appear under their declared names, in order")
    // on the chain: an expression across the joined row
    spark.sql(
      s"""CREATE MATERIALIZED VIEW $catalog.db.vce BUCKETS 4 AS
         |SELECT zone, COUNT(*) AS mv_count, SUM(v * 2 + 1) AS mv_sum_v2
         |FROM $catalog.db.src JOIN $catalog.db.dim USING (grp)
         |                     JOIN $catalog.db.dim2 USING (region)
         |GROUP BY zone""".stripMargin)
    val vceGot = spark.sql(
      s"SELECT zone, CAST(mv_sum_v2 AS BIGINT) AS s FROM $catalog.db.vce")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vceWant = spark.sql(
      s"""SELECT zone, SUM(v * 2 + 1) AS s
         |FROM $catalog.db.src JOIN $catalog.db.dim USING (grp)
         |                     JOIN $catalog.db.dim2 USING (region)
         |GROUP BY zone""".stripMargin).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vceGot === vceWant, "chain expression sum == recompute")

    // round-13 refusals, each leaving NOTHING behind: a
    // non-deterministic expression, a suffix shadowing a source
    // column, a mis-aliased expression sum, and a stats reserved-name
    // collision that now refuses at PARSE time (round-12 advice: it
    // used to write _mv.json first and fail inside refreshStats,
    // stranding an orphan definition)
    def assertNothingAt(name: String): Unit = {
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$root/db/$name/_mv.json")),
        s"a refused CREATE must not write $name/_mv.json")
      assert(ops.versions(s"$root/db/$name").isEmpty,
        s"a refused CREATE must not commit to $name")
    }
    intercept[UnsupportedOperationException] {
      spark.sql(s"CREATE MATERIALIZED VIEW $catalog.db.badnd AS " +
        s"SELECT grp, COUNT(*) AS mv_count, SUM(v * rand()) AS mv_sum_r " +
        s"FROM $catalog.db.src GROUP BY grp")
    }
    assertNothingAt("badnd")
    intercept[IllegalArgumentException] {
      spark.sql(s"CREATE MATERIALIZED VIEW $catalog.db.badsh AS " +
        s"SELECT grp, COUNT(*) AS mv_count, SUM(k + 1) AS mv_sum_v " +
        s"FROM $catalog.db.src GROUP BY grp")
    }
    assertNothingAt("badsh")
    intercept[UnsupportedOperationException] {
      spark.sql(s"CREATE MATERIALIZED VIEW $catalog.db.badal AS " +
        s"SELECT grp, COUNT(*) AS mv_count, SUM(v + k) AS total " +
        s"FROM $catalog.db.src GROUP BY grp")
    }
    assertNothingAt("badal")
    val src2 = s"$root/db/src2"
    ops.overwrite(spark, src2, rows(0, 10)
      .withColumn("grp", col("k") % 2).withColumn("v_nn", col("v") * 2))
    intercept[UnsupportedOperationException] {
      spark.sql(s"CREATE MATERIALIZED VIEW $catalog.db.badst AS " +
        s"SELECT grp, COUNT(*) AS mv_count, SUM(v_nn) AS mv_sum_v_nn, " +
        s"VAR_POP(v) AS mv_var_v FROM $catalog.db.src2 GROUP BY grp")
    }
    assertNothingAt("badst")
  }

  test("SQL materialized-view battery — POSIX-link backend (default ops)") {
    matViewBattery("graft", VersionedTable)
  }

  test("SQL materialized-view battery — object-store backend (registered ops)") {
    val ops = new VersionedTableOps(new InMemoryCommitStore)
    GraftCatalog.setOps("graftmemmv", ops)
    matViewBattery("graftmemmv", ops)
  }
}
