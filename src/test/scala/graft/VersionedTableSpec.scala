package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{InMemoryCommitStore, VersionedTable, VersionedTableOps}

/** Commit-log versioned table (SURVEY §2.7): the three guarantees the
  * round-4 verdict said the independent dir-swapping writers lacked —
  * snapshot isolation across maintenance ops, time travel, and
  * crash-safe atomic commits — plus the round-7 multi-writer chaos
  * stress. The battery is backend-abstract and runs IN FULL against
  * both [[graft.sources.CommitStore]] implementations: the POSIX
  * link(2) store and the object-store conditional-put store (the
  * round-6 verdict's top item — the 100 TB deployment lives where
  * link(2) doesn't exist).
  */
abstract class VersionedTableBattery(backend: String, ops: VersionedTableOps)
    extends SparkSpec {

  private def freshTable(name: String): String = {
    val p = s"tmp/vt-test/$backend/$name"
    val root = Paths.get(p)
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(root))(
        _.iterator().asScala.toSeq.reverse.foreach(Files.delete))
    }
    p
  }

  /** Simulate a writer that died mid-commit, in whatever form the
    * backend can leave behind. Both leave orphan staged DATA; only the
    * link backend can additionally leave a `.tmp-*` manifest (a
    * conditional put stages nothing store-side before the put).
    */
  protected def simulateCrashedCommit(t: String): Unit = {
    val orphan = Paths.get(t, "data/c9-deadbeef")
    base.limit(1).write.parquet(orphan.toString)
  }

  // k cast to LONG so the battery's spark.range appends are
  // type-identical — the append-time schema-on-write check rejects
  // same-name type conflicts (parquet schema merging cannot widen
  // INT to BIGINT), which its own battery test pins below
  protected def base = core.Tables.load(spark, sf, "nation")
    .select(col("n_nationkey").cast("long").as("k"), col("n_name").as("v"))

  test(s"[$backend] time travel: every version reads exactly its committed state") {
    val t = freshTable("travel")
    val v1 = ops.overwrite(spark, t, base)
    val extra = spark.range(100, 103).select(col("id").as("k"), lit("NEW").as("v"))
    val v2 = ops.append(spark, t, extra)
    val upd = spark.range(0, 2).select(col("id").as("k"), lit("UPDATED").as("v"))
    val v3 = ops.upsert(spark, t, upd, "k")
    assert(Seq(v1, v2, v3) === Seq(1L, 2L, 3L), "monotone versions")
    val r1 = ops.read(spark, t, Some(v1))
    assert(r1.except(base).isEmpty && base.except(r1).isEmpty,
      "v1 == original after later commits")
    val r2 = ops.read(spark, t, Some(v2))
    assert(r2.count() === base.count() + 3, "v2 == v1 + appended rows")
    val r3 = ops.read(spark, t)
    assert(r3.filter(col("v") === "UPDATED").count() === 2L, "v3 has the upserts")
    assert(r3.count() === r2.count(), "upsert of existing keys adds no rows")
  }

  test(s"[$backend] compaction is snapshot-isolated: a pinned reader never sees a mix") {
    val t = freshTable("compact")
    ops.overwrite(spark, t, base.repartition(8))
    val preVersion = ops.versions(t).last
    // reader resolves its snapshot BEFORE compaction lands
    val pinned = ops.read(spark, t, Some(preVersion))
    val before = pinned.collect().toSet
    val v2 = ops.compact(spark, t, nFiles = 1)
    // the pinned reader's files are untouched: same rows after the
    // "concurrent" commit — the race compactParquet's dir swap loses
    assert(pinned.collect().toSet === before, "pinned snapshot stable through compaction")
    val after = ops.read(spark, t, Some(v2))
    assert(after.collect().toSet === before, "compaction preserves content exactly")
    // never a mix: each manifest is self-consistent — the union of
    // any two versions' file lists is NOT what any reader resolves
    val f1 = ops.versions(t).map(v =>
      ops.read(spark, t, Some(v)).inputFiles.toSet)
    assert(f1(0).intersect(f1(1)).isEmpty,
      "compacted snapshot shares no files with the old one")
  }

  test(s"[$backend] racing appends: no lost update — every append's rows survive") {
    // A publish that silently replaces its target (rename(2), or an
    // unconditional object PUT) would let two racing writers both
    // "succeed" with one manifest clobbered; and a retry that reuses
    // its pre-race file list drops the winner's files. The
    // fail-if-exists publish + files-from-base closure close both:
    // whatever the interleaving, the final head must contain the base
    // rows plus ALL appended batches.
    val t = freshTable("race")
    ops.overwrite(spark, t, base)
    val nWriters = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nWriters)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = (0 until nWriters).map { i =>
      scala.concurrent.Future {
        ops.append(spark, t,
          spark.range(1000L + i, 1001L + i).select(col("id").as("k"), lit(s"W$i").as("v")))
      }
    }
    val committed = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures), scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    assert(committed.toSet.size === nWriters, "every writer got a distinct version")
    assert(ops.versions(t).last === 1L + nWriters, "contiguous log")
    val head = ops.read(spark, t)
    assert(head.count() === base.count() + nWriters, "no appended batch lost")
    assert(head.filter(col("k") >= 1000).count() === nWriters.toLong)
  }

  test(s"[$backend] append/upsert on an uninitialized table fail loudly, not with NoSuchElement") {
    val t = freshTable("uninit")
    val one = spark.range(0, 1).select(col("id").as("k"), lit("X").as("v"))
    val e1 = intercept[IllegalArgumentException](ops.append(spark, t, one))
    assert(e1.getMessage.contains("uninitialized"))
    val e2 = intercept[IllegalArgumentException](ops.upsert(spark, t, one, "k"))
    assert(e2.getMessage.contains("uninitialized"))
  }

  test(s"[$backend] a crashed mid-commit leaves the old snapshot readable") {
    val t = freshTable("crash")
    ops.overwrite(spark, t, base)
    val head = ops.versions(t).last
    // simulate a writer that died after staging but BEFORE the
    // fail-if-exists publish: orphan data (both backends) plus
    // whatever manifest debris the backend can leave
    simulateCrashedCommit(t)
    assert(ops.versions(t).last === head,
      "in-flight debris is invisible to the log")
    val r = ops.read(spark, t)
    assert(r.except(base).isEmpty && base.except(r).isEmpty,
      "old snapshot reads exactly; orphan data is garbage, not corruption")
    // and the log moves on: the next commit takes the next version
    val vNext = ops.append(spark, t,
      spark.range(500, 501).select(col("id").as("k"), lit("X").as("v")))
    assert(vNext === head + 1, "recovery needs no repair step")
  }

  test(s"[$backend] racing initialization: initOrMerge serializes the first commit") {
    // the round-6 advice's hazard: exists-then-overwrite lets two
    // streams both take the init path, one clobbering the other's v1.
    // initOrMerge decides init-vs-merge INSIDE the commit closure, so
    // the losers' retries observe the winner's v1 and merge into it.
    val t = freshTable("init")
    val n = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val accumulate = (snap: org.apache.spark.sql.DataFrame,
      upd: org.apache.spark.sql.DataFrame) => snap.unionByName(upd)
    val futures = (0 until n).map { w =>
      scala.concurrent.Future {
        ops.initOrMerge(spark, t,
          spark.range(w, w + 1).select(col("id").as("k"), lit(s"I$w").as("v")),
          accumulate)
      }
    }
    val committed = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures), scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    assert(committed.sorted === (1L to n.toLong), "exactly one writer took v1")
    val head = ops.read(spark, t)
    assert(head.count() === n.toLong, "no init-race clobber: every batch survived")
    assert(head.select("k").collect().map(_.getLong(0)).toSet === (0L until n.toLong).toSet)
  }

  test(s"[$backend] append rejects same-name type conflicts, allows added columns") {
    val t = freshTable("schema")
    ops.overwrite(spark, t, base)
    // type conflict (k INT vs the table's BIGINT): fail the WRITE —
    // pre-round-7 this silently committed and poisoned every read
    val intKeyed = spark.range(900, 901)
      .select(col("id").cast("int").as("k"), lit("X").as("v"))
    val e = intercept[IllegalArgumentException](ops.append(spark, t, intKeyed))
    assert(e.getMessage.contains("schema conflicts"))
    assert(ops.versions(t) === Seq(1L), "the rejected append committed nothing")
    // added column: schema evolution, accepted
    val v2 = ops.append(spark, t, spark.range(901, 902)
      .select(col("id").as("k"), lit("Y").as("v"), lit(7L).as("extra")))
    assert(v2 === 2L)
    assert(ops.read(spark, t).columns.toSet === Set("k", "v", "extra"))
  }

  test(s"[$backend] zone-map range probe skips files and matches the full scan") {
    val t = freshTable("zone")
    for (lo <- Seq(0L, 1000L, 2000L)) {
      val df = spark.range(lo, lo + 500)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
      if (lo == 0L) ops.overwrite(spark, t, df)
      else ops.append(spark, t, df)
    }
    val (kept, total) = ops.filesForRange(t, "k", 1100, 1200)
    assert(kept.nonEmpty && kept.size < total,
      s"range probe must skip the non-matching commits (kept ${kept.size}/$total)")
    val viaSkip = ops.readRange(spark, t, "k", 1100, 1200)
      .collect().map(_.toSeq).toSet
    val full = ops.read(spark, t)
      .filter(col("k").between(1100, 1200)).collect().map(_.toSeq).toSet
    assert(viaSkip === full && full.size === 101)
  }

  test(s"[$backend] delete/update: COW rewrites only zone-map-touched files, SQL null semantics") {
    val t = freshTable("cow")
    // three disjoint key clusters; v holds a NULL at k=100 (outside
    // every predicate below) so the three-valued-logic cases have a
    // real NULL row whose survival is observable
    for (lo <- Seq(0L, 1000L, 2000L)) {
      val df = spark.range(lo, lo + 500).select(col("id").as("k"),
        when(col("id") === 100, lit(null).cast("long"))
          .otherwise(col("id") * 2).as("v"))
      if (lo == 0L) ops.overwrite(spark, t, df) else ops.append(spark, t, df)
    }
    val v0 = ops.versions(t).last
    def clusterFiles(v: Long, lo: Double, hi: Double): Set[String] =
      ops.filesForRange(t, "k", lo, hi, Some(v))._1.toSet
    // DELETE strictly inside the middle cluster: outer clusters' files
    // must carry BY REFERENCE (identical names — zero bytes rewritten)
    val vDel = ops.delete(spark, t, col("k").between(1100, 1400))
    assert(clusterFiles(vDel, 0, 499) === clusterFiles(v0, 0, 499))
    assert(clusterFiles(vDel, 2000, 2499) === clusterFiles(v0, 2000, 2499))
    assert(ops.read(spark, t, Some(vDel)).count() === 1500 - 301)
    // time travel: the pre-delete snapshot is untouched
    assert(ops.read(spark, t, Some(v0)).count() === 1500)
    // NULL predicate keeps the row (DELETE only removes TRUE): the
    // predicate is FALSE everywhere and NULL at k=100 — a delete that
    // treated NULL as a match would drop exactly that row
    val vNullDel = ops.delete(spark, t, col("v") > 100000000L)
    assert(ops.read(spark, t, Some(vNullDel)).count() === 1500 - 301,
      "a FALSE/NULL-evaluating predicate deletes nothing")
    // UPDATE: assignment sees the OLD row; untouched clusters carry
    val vUpd = ops.update(spark, t, col("k") >= 2100,
      Seq("v" -> (col("v") + col("k"))))
    assert(clusterFiles(vUpd, 0, 499) === clusterFiles(vDel, 0, 499))
    val updated = ops.read(spark, t, Some(vUpd))
    assert(updated.filter(col("k") === 2200).head.getLong(1) === 2200 * 2 + 2200)
    assert(updated.filter(col("k") === 2050).head.getLong(1) === 2050 * 2,
      "rows where the predicate is false are untouched")
    // NULL-evaluating update predicate leaves the row untouched
    val vUpd2 = ops.update(spark, t, col("v") < 0, Seq("v" -> lit(-1L)))
    assert(ops.read(spark, t, Some(vUpd2)).filter(col("v") === -1L).count() === 0)
    // guardrails: unknown column, schema drift
    intercept[IllegalArgumentException] {
      ops.update(spark, t, col("k") > 0, Seq("nope" -> lit(1L)))
    }
    intercept[IllegalArgumentException] {
      ops.update(spark, t, col("k") > 0, Seq("v" -> lit("a string")))
    }
    // an untranslatable predicate (OR) touches everything but stays
    // correct — pruning is an optimization, never a semantics change
    val vOr = ops.delete(spark, t, col("k") === 10 || col("k") === 2010)
    assert(ops.read(spark, t, Some(vOr)).filter(col("k").isin(10, 2010)).count() === 0)
  }

  test(s"[$backend] merge-on-read delete/update: zero data-file rewrites, DV lifecycle, metadata counts") {
    val t = freshTable("mor")
    for (lo <- Seq(0L, 1000L, 2000L)) {
      val df = spark.range(lo, lo + 500)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
      if (lo == 0L) ops.overwrite(spark, t, df) else ops.append(spark, t, df)
    }
    val v0 = ops.versions(t).last
    def files(v: Long): Set[String] =
      ops.filesForRange(t, "k", 0d, 3000d, Some(v))._1.toSet
    assert(ops.rowCount(spark, t, Some(v0)) === 1500, "metadata COUNT(*), no scan")
    // MoR delete: the file list is IDENTICAL (zero data bytes moved),
    // rows are gone at read time, a deletion vector appears
    val vDel = ops.deleteMoR(spark, t, col("k").between(1100, 1199))
    assert(files(vDel) === files(v0), "MoR delete rewrites no data file")
    assert(ops.deletionVectors(t, Some(vDel)).nonEmpty)
    assert(ops.read(spark, t, Some(vDel)).count() === 1400)
    assert(ops.read(spark, t, Some(vDel)).filter(col("k") === 1150).count() === 0)
    assert(ops.read(spark, t, Some(v0)).count() === 1500, "time travel pre-delete")
    assert(ops.rowCount(spark, t, Some(vDel)) === 1400,
      "metadata count subtracts live DV entries")
    // an OVERLAPPING re-delete cannot double-subtract (existing DVs
    // are applied before new positions are collected)
    val vDel2 = ops.deleteMoR(spark, t, col("k").between(1100, 1249))
    assert(ops.read(spark, t, Some(vDel2)).count() === 1350)
    assert(ops.rowCount(spark, t, Some(vDel2)) === 1350)
    // a no-match delete commits cleanly and adds no DV
    val vNoop = ops.deleteMoR(spark, t, col("k") === 1150)
    assert(ops.deletionVectors(t, Some(vNoop)).toSet ===
      ops.deletionVectors(t, Some(vDel2)).toSet)
    assert(ops.rowCount(spark, t, Some(vNoop)) === 1350)
    // MoR update: old rows tombstoned, updated images appended, the
    // assignment sees the OLD row, untouched rows untouched
    val vUpd = ops.updateMoR(spark, t, col("k") >= 2400,
      Seq("v" -> (col("v") + lit(1L))))
    val upd = ops.read(spark, t, Some(vUpd))
    assert(upd.count() === 1350)
    assert(upd.filter(col("k") === 2450).head.getLong(1) === 2450 * 2 + 1)
    assert(upd.filter(col("k") === 2300).head.getLong(1) === 2300 * 2)
    assert(files(v0).subsetOf(files(vUpd)), "all original data files carried")
    assert(ops.rowCount(spark, t, Some(vUpd)) === 1350)
    // the automatic zone-map read path subtracts DVs too
    val auto = ops.readIndexed(spark, t, Some(vUpd))
    assert(auto.count() === 1350)
    assert(auto.filter(col("k") === 2450).head.getLong(1) === 2450 * 2 + 1)
    // CDC across a MoR delete is NOT an empty delta (the file list is
    // unchanged but rows died — the fast path must not claim it)
    val delta = ops.changesBetween(spark, t, v0, vDel)
    assert(delta.filter(col("_change") === "delete").count() === 100)
    assert(delta.filter(col("_change") === "insert").count() === 0)
    // a streaming consumer cannot express row removal as inserts
    intercept[IllegalStateException] {
      ops.streamBatch(spark, t, v0, vDel, ops.read(spark, t, Some(v0)).schema)
    }
    // compaction purges the vectors and preserves the row set
    val vC = ops.compact(spark, t, 2)
    assert(ops.deletionVectors(t, Some(vC)).isEmpty, "rewrite purges DVs")
    assert(ops.read(spark, t, Some(vC)).count() === 1350)
    assert(ops.rowCount(spark, t, Some(vC)) === 1350)
    // vacuum keeps retained versions' DV dirs (vUpd is retained here)
    ops.vacuum(t, retain = 3, graceMs = 0)
    assert(ops.read(spark, t, Some(vUpd)).count() === 1350,
      "retained MoR version survives vacuum with its DVs applied")
  }

  test(s"[$backend] timestamp AS OF, restore, history") {
    val t = freshTable("asof")
    val v1 = ops.overwrite(spark, t, base)
    Thread.sleep(15)
    val t1 = System.currentTimeMillis()
    Thread.sleep(15)
    val v2 = ops.append(spark, t,
      spark.range(100, 103).select(col("id").as("k"), lit("NEW").as("v")))
    assert(ops.versionAsOf(t, t1) === v1, "AS OF between the commits resolves v1")
    assert(ops.readAsOf(spark, t, t1).count() === base.count())
    assert(ops.versionAsOf(t, System.currentTimeMillis()) === v2)
    intercept[IllegalArgumentException] { ops.versionAsOf(t, 1000L) }
    // restore: the head returns to v1's exact file list — zero data
    // moved, and the undone commit stays time-travelable
    val v3 = ops.restore(spark, t, v1)
    assert(v3 === 3L)
    assert(ops.read(spark, t).count() === base.count())
    assert(ops.read(spark, t, Some(v2)).count() === base.count() + 3,
      "history preserved across restore")
    intercept[IllegalArgumentException] { ops.restore(spark, t, 99L) }
    val h = ops.history(spark, t).collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(h.map(_.getString(1)).toSeq === Seq("overwrite", "append", "restore"))
    assert(h.last.getInt(3) === h.head.getInt(3), "restore references v1's files")
    assert(h.map(_.getTimestamp(2).getTime).toSeq.sorted === h.map(_.getTimestamp(2).getTime).toSeq,
      "commit timestamps non-decreasing")
  }

  test(s"[$backend] shallow clone: zero-copy branch, divergence, source-vacuum safety") {
    val src = freshTable("clone-src")
    val dst = freshTable("clone-dst")
    ops.overwrite(spark, src, base)
    ops.append(spark, src,
      spark.range(100, 110).select(col("id").as("k"), lit("B").as("v")))
    ops.deleteMoR(spark, src, col("k") === 105L) // clone must carry the DV
    val vSrc = ops.versions(src).last
    val v1 = ops.cloneTable(spark, src, dst)
    assert(v1 === 1L)
    // identical snapshot, by reference: same relative file + DV lists
    assert(ops.read(spark, dst).except(ops.read(spark, src)).isEmpty &&
      ops.read(spark, src).except(ops.read(spark, dst)).isEmpty)
    assert(ops.snapshotFiles(dst, Some(v1)) === ops.snapshotFiles(src, Some(vSrc)),
      "clone references the source's files — zero data copied")
    assert(ops.deletionVectors(dst) === ops.deletionVectors(src, Some(vSrc)))
    // divergence: writes on either side never touch the other
    val srcRows = ops.read(spark, src).count()
    ops.append(spark, dst,
      spark.range(200, 203).select(col("id").as("k"), lit("C").as("v")))
    assert(ops.read(spark, dst).count() === srcRows + 3)
    assert(ops.read(spark, src).count() === srcRows, "source unaffected by clone write")
    ops.delete(spark, src, col("k") < 5L)
    assert(ops.read(spark, dst).count() === srcRows + 3, "clone unaffected by source write")
    // source compact + vacuum drops the cloned-from dirs on the SOURCE
    // side; the hard links keep the inodes alive for the clone
    ops.compact(spark, src)
    ops.vacuum(src, retain = 1, graceMs = 0)
    assert(ops.read(spark, dst).count() === srcRows + 3,
      "clone survives source vacuum (links share inodes)")
    intercept[IllegalArgumentException] { ops.cloneTable(spark, src, dst) }
    // the clone inherits the source's CHECK constraints (the branch
    // carries the schema CONTRACT, not just the bytes)
    val src2 = freshTable("clone-cons-src")
    val dst2 = freshTable("clone-cons-dst")
    ops.overwrite(spark, src2, base)
    ops.addCheckConstraint(spark, src2, "k_pos", "k >= 0")
    ops.cloneTable(spark, src2, dst2)
    assert(ops.checkConstraints(dst2).map(_._1) === Seq("k_pos"))
    intercept[IllegalArgumentException] {
      ops.append(spark, dst2,
        spark.range(1, 2).select((-col("id")).as("k"), lit("B").as("v")))
    }
  }

  test(s"[$backend] idempotent append: (appId, txnVer) replay is a no-op") {
    val t = freshTable("txn")
    // first use initializes; the txn watermark is committed with it
    val v1 = ops.appendIdempotent(spark, t, base, "writer-A", 0L)
    assert(v1 === 1L)
    assert(ops.lastTxn(t, "writer-A") === Some(0L))
    assert(ops.lastTxn(t, "writer-B") === None)
    val n = ops.read(spark, t).count()
    // exact replay: no new version, no new rows
    assert(ops.appendIdempotent(spark, t, base, "writer-A", 0L) === v1)
    assert(ops.versions(t).last === v1 && ops.read(spark, t).count() === n)
    // a NEWER txn commits; an OLDER replay after it is still a no-op
    val batch = spark.range(500, 510).select(col("id").as("k"), lit("T").as("v"))
    val v2 = ops.appendIdempotent(spark, t, batch, "writer-A", 1L)
    assert(v2 === 2L && ops.read(spark, t).count() === n + 10)
    assert(ops.appendIdempotent(spark, t, batch, "writer-A", 0L) === v2)
    assert(ops.read(spark, t).count() === n + 10)
    // a DIFFERENT app's version space is independent
    val v3 = ops.appendIdempotent(spark, t, batch.withColumn("v", lit("U")), "writer-B", 0L)
    assert(v3 === 3L && ops.read(spark, t).count() === n + 20)
    assert(ops.lastTxn(t, "writer-A") === Some(1L))
    assert(ops.lastTxn(t, "writer-B") === Some(0L))
    // plain commits between txn commits don't disturb the watermark
    ops.compact(spark, t)
    assert(ops.lastTxn(t, "writer-A") === Some(1L))
    assert(ops.appendIdempotent(spark, t, batch, "writer-A", 1L) === ops.versions(t).last)
    assert(ops.read(spark, t).count() === n + 20)
  }

  test(s"[$backend] multi-table atomic commit: all-or-nothing across crash, carry, and bypass") {
    val a = freshTable("cat-a")
    val b = freshTable("cat-b")
    val cat = freshTable("cat-log")
    ops.overwrite(spark, a, base)
    ops.overwrite(spark, b, base)
    def batch(lo: Long, tag: String) = spark.range(lo, lo + 5)
      .select(col("id").as("k"), lit(tag).as("v"))

    // happy path: one transaction, both tables advance together
    val vc1 = ops.appendAll(spark, cat, Seq(a -> batch(1000, "A1"), b -> batch(1000, "B1")))
    assert(vc1 === 1L)
    assert(ops.read(spark, a).filter(col("v") === "A1").count() === 5)
    assert(ops.read(spark, b).filter(col("v") === "B1").count() === 5)
    assert(ops.catalogSnapshot(cat).toMap === Map(a -> 2L, b -> 2L))

    // crashed writer: the catalog publish landed, roll-forward did not.
    // Nothing is visible on the tables yet — and the FIRST catalog read
    // completes the transaction (durable, atomic, just delayed)
    val headA = ops.versions(a).last
    val headB = ops.versions(b).last
    ops.multiPrepare(spark, cat, Seq(a -> batch(2000, "A2"), b -> batch(2000, "B2")))
    assert(ops.versions(a).last === headA && ops.versions(b).last === headB,
      "prepare publishes NOTHING to the member tables")
    assert(ops.catalogSnapshot(cat).toMap === Map(a -> 3L, b -> 3L),
      "the catalog read recovers the crashed transaction")
    assert(ops.read(spark, a).filter(col("v") === "A2").count() === 5)
    assert(ops.read(spark, b).filter(col("v") === "B2").count() === 5)

    // partial-member write: the untouched table's pin CARRIES, so the
    // snapshot stays complete
    ops.appendAll(spark, cat, Seq(a -> batch(3000, "A3")))
    assert(ops.catalogSnapshot(cat).toMap === Map(a -> 4L, b -> 3L))

    // a write that bypasses the catalog is detected, not absorbed
    ops.append(spark, b, batch(4000, "ROGUE"))
    val e = intercept[IllegalArgumentException] {
      ops.appendAll(spark, cat, Seq(b -> batch(5000, "B5")))
    }
    assert(e.getMessage.contains("outside the catalog"))
  }

  test(s"[$backend] catalog transactions: mixed append+upsert, exactly-once replay") {
    import graft.sources.{CatAppend, CatUpsert}
    val a = freshTable("cattx-a")
    val b = freshTable("cattx-b")
    val cat = freshTable("cattx-log")
    ops.overwrite(spark, a, base)
    ops.overwrite(spark, b, base)
    // one transaction mixes an append and a MERGE upsert, tagged with
    // an idempotence watermark — the N-table exactly-once sink shape
    def w1 = Seq(
      CatAppend(a, spark.range(1000, 1005).select(col("id").as("k"), lit("A").as("v"))),
      CatUpsert(b, spark.range(0, 3).select(col("id").as("k"), lit("UP").as("v")), "k"))
    val vc1 = ops.commitAll(spark, cat, w1, Some("app" -> 1L))
    assert(ops.read(spark, a).filter(col("v") === "A").count() === 5)
    assert(ops.read(spark, b).filter(col("v") === "UP").count() === 3)
    assert(ops.read(spark, b).count() === base.count(),
      "upsert of existing keys adds no rows")
    // the REPLAYED transaction is a no-op at every level: same catalog
    // head, same member heads, no duplicate rows
    val (headA, headB) = (ops.versions(a).last, ops.versions(b).last)
    assert(ops.commitAll(spark, cat, w1, Some("app" -> 1L)) === vc1)
    assert(ops.versions(a).last === headA && ops.versions(b).last === headB)
    assert(ops.read(spark, a).filter(col("v") === "A").count() === 5,
      "replay must not duplicate the appended batch")
    assert(ops.lastCatalogTxn(cat, "app") === Some(1L))
    // the NEXT transaction version advances normally
    val vc2 = ops.commitAll(spark, cat, Seq(
      CatUpsert(b, spark.range(100, 106)
        .select(col("id").as("k"), lit("NEW").as("v")), "k")), Some("app" -> 2L))
    assert(vc2 === vc1 + 1)
    assert(ops.read(spark, b).filter(col("v") === "NEW").count() === 6,
      "unmatched upsert keys insert")
    assert(ops.lastCatalogTxn(cat, "app") === Some(2L))
    // pins stay complete across the b-only transaction
    assert(ops.catalogSnapshot(cat).toMap ===
      Map(a -> ops.versions(a).last, b -> ops.versions(b).last))
    // catalog vacuum drops old pin sets, keeps the head snapshot and
    // the retained watermark horizon working
    val vc3 = ops.commitAll(spark, cat, Seq(
      CatAppend(a, spark.range(2000, 2002).select(col("id").as("k"), lit("C").as("v")))),
      Some("app" -> 3L))
    val dropped = ops.catalogVacuum(cat, retain = 1)
    assert(dropped === (1L until vc3))
    assert(ops.catalogVersions(cat) === Seq(vc3))
    assert(ops.catalogSnapshot(cat).toMap ===
      Map(a -> ops.versions(a).last, b -> ops.versions(b).last),
      "the head pin set survives the vacuum")
    assert(ops.lastCatalogTxn(cat, "app") === Some(3L),
      "the retained horizon still answers the watermark")
    // and the log moves on
    assert(ops.commitAll(spark, cat, Seq(
      CatAppend(b, spark.range(3000, 3001).select(col("id").as("k"), lit("D").as("v"))))) === vc3 + 1)
  }

  test(s"[$backend] catalog transactions: cross-table DELETE/UPDATE lands atomically") {
    import graft.sources.{CatAppend, CatDelete, CatUpdate}
    val a = freshTable("catmut-a")
    val b = freshTable("catmut-b")
    val cat = freshTable("catmut-log")
    def rows(n: Long) = spark.range(0, n).select(
      col("id").as("k"), (col("id") % 10).as("cust"), lit("live").as("v"))
    ops.overwrite(spark, a, rows(100))
    ops.overwrite(spark, b, rows(50))
    ops.appendAll(spark, cat, Seq(
      a -> rows(0).limit(0), b -> rows(0).limit(0))) // enroll both
    val (headA, headB) = (ops.versions(a).last, ops.versions(b).last)

    // the GDPR shape: erase cust 3 from a, tombstone it in b — one txn
    val vc = ops.commitAll(spark, cat, Seq(
      CatDelete(a, col("cust") === 3),
      CatUpdate(b, col("cust") === 3, Seq("v" -> lit("erased")))),
      Some("gdpr" -> 1L))
    assert(ops.read(spark, a).filter(col("cust") === 3).count() === 0)
    assert(ops.read(spark, b).filter(col("v") === "erased").count() === 5)
    assert(ops.read(spark, a).count() === 90)
    assert(ops.read(spark, b).count() === 50, "update adds no rows")
    assert(ops.versions(a).last === headA + 1 && ops.versions(b).last === headB + 1)
    // manifests record the mutation ops (history is honest about what happened)
    assert(ops.history(spark, a).filter(col("op") === "delete").count() >= 1)
    assert(ops.history(spark, b).filter(col("op") === "update").count() >= 1)

    // replay is a no-op across BOTH members
    assert(ops.commitAll(spark, cat, Seq(
      CatDelete(a, col("cust") === 3),
      CatUpdate(b, col("cust") === 3, Seq("v" -> lit("erased")))),
      Some("gdpr" -> 1L)) === vc)
    assert(ops.versions(a).last === headA + 1 && ops.versions(b).last === headB + 1)

    // a match-nothing mutation carries the pin instead of publishing a
    // no-op version; the other member's write still lands in the txn
    val va = ops.versions(a).last
    ops.commitAll(spark, cat, Seq(
      CatDelete(a, col("cust") === 999),
      CatAppend(b, rows(5).withColumn("v", lit("new")))))
    assert(ops.versions(a).last === va, "match-nothing delete publishes nothing")
    assert(ops.read(spark, b).filter(col("v") === "new").count() === 5)
    assert(ops.catalogSnapshot(cat).toMap.apply(a) === va,
      "the carried pin stays complete")

    // an invalid UPDATE (schema drift) fails the WHOLE transaction
    val (ha, hb) = (ops.versions(a).last, ops.versions(b).last)
    intercept[IllegalArgumentException] {
      ops.commitAll(spark, cat, Seq(
        CatAppend(a, rows(2)),
        CatUpdate(b, col("cust") === 1, Seq("v" -> lit(42)))))
    }
    assert(ops.versions(a).last === ha && ops.versions(b).last === hb,
      "a failed transaction publishes nothing anywhere")
  }

  test(s"[$backend] catalog vacuum carries txn watermarks: a deep replay stays exactly-once") {
    import graft.sources.CatAppend
    val a = freshTable("catvw-a")
    val b = freshTable("catvw-b")
    val cat = freshTable("catvw-log")
    ops.overwrite(spark, a, base)
    ops.overwrite(spark, b, base)
    def w(i: Long) = Seq(
      CatAppend(a, spark.range(1000 * i, 1000 * i + 2).select(col("id").as("k"), lit(s"A$i").as("v"))),
      CatAppend(b, spark.range(1000 * i, 1000 * i + 2).select(col("id").as("k"), lit(s"B$i").as("v"))))
    // app "fan" commits batch 1, then an UNTAGGED commit takes the head
    ops.commitAll(spark, cat, w(1), Some("fan" -> 1L))
    ops.commitAll(spark, cat, Seq(
      CatAppend(a, spark.range(5000, 5001).select(col("id").as("k"), lit("X").as("v")))))
    // vacuum to retain=1 would drop the ONLY manifest carrying fan->1;
    // the vacuum must publish a watermark-carry head first
    val dropped = ops.catalogVacuum(cat, retain = 1)
    assert(dropped.nonEmpty)
    assert(ops.lastCatalogTxn(cat, "fan") === Some(1L),
      "the app's high-water mark must survive the vacuum")
    // the deep replay (a restarted fan-out re-delivering batch 1) is
    // STILL a no-op — this is the row-duplication hazard the advisory
    // named, now closed
    val rowsA = ops.read(spark, a).count()
    val headCat = ops.catalogVersions(cat).last
    assert(ops.commitAll(spark, cat, w(1), Some("fan" -> 1L)) === headCat)
    assert(ops.read(spark, a).count() === rowsA,
      "replaying the vacuumed-horizon batch must not duplicate rows")
    // new work from the same app still lands
    ops.commitAll(spark, cat, w(2), Some("fan" -> 2L))
    assert(ops.lastCatalogTxn(cat, "fan") === Some(2L))
    // and a second vacuum (nothing orphaned now) still drops history
    assert(ops.catalogVacuum(cat, retain = 1).nonEmpty)
    assert(ops.lastCatalogTxn(cat, "fan") === Some(2L))
    // SEVERAL apps with high-water marks in DIFFERENT soon-dropped
    // manifests: one carry head must preserve them all
    ops.commitAll(spark, cat, w(3), Some("etl" -> 7L))
    ops.commitAll(spark, cat, w(4), Some("fan" -> 3L))
    ops.commitAll(spark, cat, Seq(
      CatAppend(a, spark.range(9000, 9001).select(col("id").as("k"), lit("Z").as("v")))))
    assert(ops.catalogVacuum(cat, retain = 1).nonEmpty)
    assert(ops.lastCatalogTxn(cat, "fan") === Some(3L))
    assert(ops.lastCatalogTxn(cat, "etl") === Some(7L))
    val head2 = ops.catalogVersions(cat).last
    assert(ops.commitAll(spark, cat, w(3), Some("etl" -> 7L)) === head2,
      "every app's deep replay stays a no-op after the multi-app carry")
  }

  test(s"[$backend] catalogRepin adopts an out-of-band write; catalogEvict removes the member") {
    val a = freshTable("catrp-a")
    val b = freshTable("catrp-b")
    val cat = freshTable("catrp-log")
    ops.overwrite(spark, a, base)
    ops.overwrite(spark, b, base)
    def batch(lo: Long, tag: String) = spark.range(lo, lo + 3)
      .select(col("id").as("k"), lit(tag).as("v"))
    ops.appendAll(spark, cat, Seq(a -> batch(1000, "A1"), b -> batch(1000, "B1")))
    // poison: a direct write bypasses the catalog on b (a CARRIED
    // member after this a-only commit)
    ops.appendAll(spark, cat, Seq(a -> batch(2000, "A2")))
    ops.append(spark, b, batch(9000, "ROGUE"))
    val e = intercept[IllegalArgumentException] {
      ops.appendAll(spark, cat, Seq(b -> batch(3000, "B3")))
    }
    assert(e.getMessage.contains("outside the catalog"))
    // the poisoned catalog is RECOVERABLE: repin blesses the rogue head
    val vRepair = ops.catalogRepin(cat, b)
    assert(ops.catalogSnapshot(cat).toMap.apply(b) === ops.versions(b).last)
    assert(vRepair === ops.catalogVersions(cat).last)
    ops.appendAll(spark, cat, Seq(b -> batch(3000, "B3")))
    assert(ops.read(spark, b).filter(col("v") === "B3").count() === 3,
      "post-repair catalog writes work again")
    assert(ops.read(spark, b).filter(col("v") === "ROGUE").count() === 3,
      "the blessed out-of-band rows are part of history")
    // repin with nothing diverged is a no-op returning the head
    assert(ops.catalogRepin(cat, b) === ops.catalogVersions(cat).last)
    // evict: the member leaves the pin set; its table is untouched
    val headB = ops.versions(b).last
    ops.catalogEvict(cat, b)
    assert(!ops.catalogSnapshot(cat).toMap.contains(b))
    assert(ops.versions(b).last === headB)
    // the evicted table is free of catalog governance...
    ops.append(spark, b, batch(9500, "FREE"))
    ops.appendAll(spark, cat, Seq(a -> batch(4000, "A4")))
    // ...and can re-enroll by being written through the catalog again
    ops.appendAll(spark, cat, Seq(b -> batch(5000, "B5")))
    assert(ops.catalogSnapshot(cat).toMap.apply(b) === ops.versions(b).last)
    intercept[IllegalArgumentException] {
      ops.catalogEvict(cat, freshTable("never-a-member"))
    }
  }

  test(s"[$backend] racing multi-table commits serialize on the catalog publish; none lost") {
    val a = freshTable("catrace-a")
    val b = freshTable("catrace-b")
    val cat = freshTable("catrace-log")
    ops.overwrite(spark, a, base)
    ops.overwrite(spark, b, base)
    val nWriters = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nWriters)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = (0 until nWriters).map { i =>
      scala.concurrent.Future {
        ops.appendAll(spark, cat, Seq(
          a -> spark.range(1000L + i, 1001L + i).select(col("id").as("k"), lit(s"A$i").as("v")),
          b -> spark.range(1000L + i, 1001L + i).select(col("id").as("k"), lit(s"B$i").as("v"))))
      }
    }
    val committed = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration(180, "s"))
    pool.shutdown()
    assert(committed.toSet.size === nWriters, "every transaction got a distinct catalog version")
    assert(ops.catalogVersions(cat) === (1L to nWriters.toLong), "contiguous catalog log")
    assert(ops.read(spark, a).filter(col("k") >= 1000).count() === nWriters.toLong,
      "no transaction's A-side lost")
    assert(ops.read(spark, b).filter(col("k") >= 1000).count() === nWriters.toLong,
      "no transaction's B-side lost")
    val pins = ops.catalogSnapshot(cat).toMap
    assert(pins(a) === ops.versions(a).last && pins(b) === ops.versions(b).last,
      "snapshot pins sit at the member heads")
  }

  test(s"[$backend] partition columns: routed writes, pruned reads, metadata-only DROP PARTITION") {
    val t = freshTable("part")
    val df = spark.range(0, 300).select(
      col("id").as("k"),
      concat(lit("P"), (col("id") % 3).cast("string")).as("p"),
      (col("id") * 2).as("v"))
    // creation takes the spec; a second spec-set is refused
    ops.overwritePartitioned(spark, t, df, Seq("p"))
    assert(ops.partitionSpec(t) === Seq("p"))
    intercept[IllegalArgumentException] {
      ops.overwritePartitioned(spark, t, df, Seq("p"))
    }
    // every file is value-routed; reads see ALL rows with p intact
    assert(ops.snapshotFiles(t).forall(_.split('/').exists(_.startsWith("p__pv="))))
    assert(ops.read(spark, t).count() === 300)
    assert(ops.read(spark, t).filter(col("p") === "P1").count() === 100)

    // appends route automatically (the spec follows the table)
    ops.append(spark, t, spark.range(300, 360).select(
      col("id").as("k"),
      concat(lit("P"), (col("id") % 3).cast("string")).as("p"),
      (col("id") * 2).as("v")))
    assert(ops.snapshotFiles(t).forall(_.split('/').exists(_.startsWith("p__pv="))),
      "append stages must stay value-routed")
    assert(ops.read(spark, t).count() === 360)

    // partition-pruned read: opens only the value directory's files
    val (kept, total) = ops.filesForPartition(t, "p", "P2")
    assert(kept.nonEmpty && kept.size < total,
      s"partition probe must skip the other values (kept ${kept.size}/$total)")
    val part = ops.readPartition(spark, t, "p", "P2")
    val want = ops.read(spark, t).filter(col("p") === "P2")
    assert(part.except(want).isEmpty && want.except(part).isEmpty)

    // DROP PARTITION: file-list subtraction — untouched files carry by
    // reference, zero data moved
    val before = ops.snapshotFiles(t)
    val vDrop = ops.dropPartition(spark, t, "p", "P1")
    val after = ops.snapshotFiles(t, Some(vDrop))
    assert(after.toSet.subsetOf(before.toSet), "drop must not stage any new file")
    assert(after === before.filterNot(_.split('/').contains("p__pv=P1")))
    assert(ops.read(spark, t).filter(col("p") === "P1").count() === 0)
    assert(ops.read(spark, t).count() === 240)
    // time travel still sees the dropped partition
    assert(ops.read(spark, t, Some(vDrop - 1)).filter(col("p") === "P1").count() === 120)
    // dropping a value with no files is a no-op commit (nothing published)
    assert(ops.dropPartition(spark, t, "p", "P9") === vDrop)
    // values the path writer would escape are refused, not mismatched
    intercept[IllegalArgumentException] { ops.dropPartition(spark, t, "p", "a/b") }

    // a MoR delete inside a partitioned layout: DV keys must anchor on
    // the routed paths (regression guard for the dvKeyed pattern)
    val vMor = ops.deleteMoR(spark, t, col("k") % 2 === 0L && col("p") === "P2")
    assert(ops.deletionVectors(t, Some(vMor)).nonEmpty)
    assert(ops.read(spark, t).count() === 240 - 60,
      "MoR delete must subtract exactly the matching routed rows")

    // compaction restages routed and PURGES the dropped value's bytes
    // from the new stage; a vacuum then reclaims the old stages
    ops.compact(spark, t, nFiles = 2)
    assert(ops.snapshotFiles(t).forall(_.split('/').exists(_.startsWith("p__pv="))),
      "compaction must stay value-routed")
    assert(ops.read(spark, t).count() === 180)
    val report = ops.vacuum(t, retain = 1, graceMs = 0)
    assert(report.deletedDirs > 0, "vacuum must reclaim the pre-compaction stages")
    assert(ops.read(spark, t).count() === 180, "post-vacuum head intact")
    // every version accessor refuses the vacuumed version with the one
    // message `read` gives, never a raw missing-file error
    val gone = Some(vDrop)
    Seq[(String, () => Any)](
      "read" -> (() => ops.read(spark, t, gone)),
      "rowCount" -> (() => ops.rowCount(spark, t, gone)),
      "filesForPoints" -> (() => ops.filesForPoints(t, "k", Seq(1L), gone)),
      "filesForPartition" -> (() => ops.filesForPartition(t, "p", "P2", gone)),
      "snapshotFiles" -> (() => ops.snapshotFiles(t, gone)),
      "deletionVectors" -> (() => ops.deletionVectors(t, gone)),
      "checkConstraints" -> (() => ops.checkConstraints(t, gone)),
      "readPartition" -> (() => ops.readPartition(spark, t, "p", "P2", gone)),
      "readPartitions" -> (() => ops.readPartitions(spark, t, "p", Seq("P2"), gone))
    ).foreach { case (name, f) =>
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.contains(s"version $vDrop of $t was vacuumed or never existed"),
        s"$name: ${e.getMessage}")
    }

    // a shallow clone inherits the partition spec (its appends keep
    // routing, its drops keep working); dropping a partition COLUMN
    // would brick every later write — refused
    val tClone = freshTable("part-clone")
    ops.cloneTable(spark, t, tClone)
    assert(ops.partitionSpec(tClone) === Seq("p"))
    ops.append(spark, tClone, spark.range(900, 905).select(
      col("id").as("k"), lit("P9").as("p"), (col("id") * 2).as("v")))
    assert(ops.snapshotFiles(tClone).forall(_.split('/').exists(_.startsWith("p__pv="))),
      "the clone's appends stay value-routed")
    intercept[IllegalArgumentException] { ops.dropColumn(spark, t, "p") }

    // unrouted legacy files block DROP PARTITION loudly
    val t2 = freshTable("part-legacy")
    ops.overwrite(spark, t2, df) // NOT partitioned
    intercept[IllegalArgumentException] {
      ops.dropPartition(spark, t2, "p", "P0")
    }
  }

  test(s"[$backend] partition-aligned join: value-pair plan, manifest pruning, fallbacks") {
    val a = freshTable("pj-a")
    val b = freshTable("pj-b")
    def rowsA = spark.range(0, 300).select(
      col("id").as("k"),
      concat(lit("P"), (col("id") % 5).cast("string")).as("p"),
      (col("id") * 2).as("v"))
    // b covers only P0..P2 — P3/P4 must prune at the manifest
    def rowsB = spark.range(0, 3).select(
      concat(lit("P"), col("id").cast("string")).as("p"),
      (col("id") * 100).as("w"))
    ops.overwritePartitioned(spark, a, rowsA, Seq("p"))
    ops.overwritePartitioned(spark, b, rowsB, Seq("p"))
    val j = ops.joinPartitioned(spark, a, b, Seq("p"))
    val want = ops.read(spark, a).join(ops.read(spark, b), Seq("p"))
    assert(j.except(want).isEmpty && want.except(j).isEmpty,
      "aligned join == plain join")
    assert(j.count() === 180, "P0..P2 of a (60 rows each) x one dim row")
    assert(!j.inputFiles.exists(f => f.contains("p__pv=P3") || f.contains("p__pv=P4")),
      "values absent from one side must never open the other side's files")
    // a MoR delete inside a joined partition subtracts through the pair read
    ops.deleteMoR(spark, a, col("p") === "P1" && col("k") % 2 === 0L)
    val j2 = ops.joinPartitioned(spark, a, b, Seq("p"))
    assert(j2.count() === 180 - 30, "pair reads must subtract deletion vectors")
    // disjoint value sets: empty result, correct schema
    val c = freshTable("pj-c")
    ops.overwritePartitioned(spark, c,
      spark.range(0, 2).select(lit("QX").as("p"), col("id").as("w2")), Seq("p"))
    assert(ops.joinPartitioned(spark, a, c, Seq("p")).count() === 0)
    // beyond maxBranches the plan goes HYBRID (one pair for the
    // biggest tuple + one residual branch for the other common
    // tuples): same rows, and the absent values' files STILL never
    // open — pruning survives any spec cardinality
    val jWide = ops.joinPartitioned(spark, a, b, Seq("p"), maxBranches = 1)
    assert(jWide.count() === j2.count(), "hybrid preserves semantics")
    assert(!jWide.inputFiles.exists(f => f.contains("p__pv=P3") || f.contains("p__pv=P4")),
      "the hybrid's residual branch keeps manifest-level pruning")
    // unpartitioned sides are refused
    val u = freshTable("pj-u")
    ops.overwrite(spark, u, rowsB)
    intercept[IllegalArgumentException] { ops.joinPartitioned(spark, a, u, Seq("p")) }
  }

  test(s"[$backend] aligned join composes with zone maps: ranges prune per-branch files") {
    val a = freshTable("pjz-a")
    val b = freshTable("pjz-b")
    def rowsA = spark.range(0, 600).select(
      col("id").as("k"),
      concat(lit("P"), (col("id") % 3).cast("string")).as("p"),
      (col("id") * 2).as("v"))
    def rowsB = spark.range(0, 251).select(
      col("id").as("k"),
      concat(lit("P"), (col("id") % 3).cast("string")).as("p"),
      (col("id") * 7).as("w"))
    // k-clustered WITHIN each value dir: range-partition upstream so
    // every file's committed k interval is a narrow band
    ops.overwritePartitioned(spark, a, rowsA.repartitionByRange(6, col("k")), Seq("p"))
    ops.overwritePartitioned(spark, b, rowsB.repartitionByRange(6, col("k")), Seq("p"))
    val rl = Seq(("k", 200.0, 280.0))
    val rr = Seq(("k", 150.0, 300.0))
    // the evidence surface: fewer files opened than the tuples hold
    val (nl, nr) = ops.joinPartitionedFiles(a, b, Seq("p", "k"),
      rangesLeft = rl, rangesRight = rr)
    val (totL, totR) = (ops.snapshotFiles(a).size, ops.snapshotFiles(b).size)
    assert(nl > 0 && nl < totL, s"left ranges must prune ($nl/$totL)")
    assert(nr > 0 && nr < totR, s"right ranges must prune ($nr/$totR)")
    // row parity with plain filter-then-join
    val got = ops.joinPartitioned(spark, a, b, Seq("p", "k"),
      rangesLeft = rl, rangesRight = rr)
    val want = ops.read(spark, a).filter(col("k").between(200, 280))
      .join(ops.read(spark, b).filter(col("k").between(150, 300)), Seq("p", "k"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "range-restricted aligned join == filter-then-join")
    assert(got.count() === 51, "k in [200,280] ∩ b's k<251 coverage")
    // the executed scan really opens only the kept files
    assert(got.inputFiles.length <= nl + nr,
      s"opened ${got.inputFiles.length} files, zone maps kept $nl+$nr")
    // outer family: the range restricts the side BEFORE the join, so
    // left rows beyond b's coverage survive null-extended
    val lo = ops.joinPartitioned(spark, a, b, Seq("p", "k"), "left",
      rangesLeft = rl)
    val wantLo = ops.read(spark, a).filter(col("k").between(200, 280))
      .join(ops.read(spark, b), Seq("p", "k"), "left")
    assert(lo.except(wantLo).isEmpty && wantLo.except(lo).isEmpty)
    assert(lo.count() === 81 && lo.filter(col("w").isNull).count() === 30,
      "filter-then-join: unmatched left rows null-extend")
    // a range beyond every file's stats folds to the empty frame
    assert(ops.joinPartitioned(spark, a, b, Seq("p", "k"),
      rangesLeft = Seq(("k", 5000.0, 6000.0))).count() === 0)
    // hybrid path keeps the pruning (every tuple in the residual)
    val hybrid = ops.joinPartitioned(spark, a, b, Seq("p", "k"),
      maxBranches = 1, rangesLeft = rl, rangesRight = rr)
    assert(hybrid.except(want).isEmpty && want.except(hybrid).isEmpty,
      "hybrid branch planning preserves range semantics")
    assert(hybrid.inputFiles.length <= nl + nr,
      "the hybrid residual branch prunes on zone maps too")
  }

  test(s"[$backend] id column mapping: stable physical ids make rename/drop/re-add free") {
    val t = freshTable("idmap")
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"), (col("id") * 2).as("v"), lit("A").as("tag"))
    ops.overwriteIdMapped(spark, t, rows(0, 10))
    assert(ops.columnMapping(t) === "id")
    // data files store SYNTHETIC physical names, reads show logical
    val phys = spark.read.parquet(
      Paths.get(t, ops.snapshotFiles(t).head).toString).columns.toSet
    assert(phys.forall(_.startsWith("__gcid_")), s"physical columns: $phys")
    assert(ops.read(spark, t).columns.toSeq === Seq("k", "v", "tag"))
    assert(ops.read(spark, t).agg(sum(col("v"))).head.getLong(0) === 90L)

    // rename k -> key and BACK to k: the name-mode refusal ("a retained
    // manifest records that name") does not exist in id mode
    ops.renameColumn(spark, t, "k", "key")
    assert(ops.read(spark, t).columns.contains("key"))
    ops.renameColumn(spark, t, "key", "k")
    assert(ops.read(spark, t).agg(sum(col("k"))).head.getLong(0) === 45L,
      "rename round-trip reads the same bytes")

    // drop tag, then RE-ADD a column named tag with different values
    // and a DIFFERENT TYPE — blocked outright in name mode, safe here:
    // the new column gets a fresh id, so pre-drop rows read NULL
    ops.dropColumn(spark, t, "tag")
    assert(ops.read(spark, t).columns.toSeq === Seq("k", "v"))
    ops.append(spark, t, spark.range(10, 15).select(
      col("id").as("k"), (col("id") * 2).as("v"), (col("id") * 7).as("tag")))
    val got = ops.read(spark, t)
    assert(got.columns.toSeq === Seq("k", "v", "tag"))
    assert(got.filter(col("k") < 10 && col("tag").isNotNull).count() === 0,
      "pre-drop rows must NOT resurrect the dropped tag values")
    assert(got.filter(col("k") >= 10).agg(sum(col("tag"))).head.getLong(0) ===
      (10L until 15L).map(_ * 7).sum, "the re-added column's own values read back")
    // the re-added column landed under a FRESH physical id
    val physNew = ops.snapshotFiles(t)
      .flatMap(f => spark.read.parquet(Paths.get(t, f).toString).columns).toSet
    assert(physNew.count(_.startsWith("__gcid_")) >= 4,
      s"fresh id for the re-added column: $physNew")

    // mutations + compaction preserve the mode and the mapping
    ops.delete(spark, t, col("v") >= 24L)
    ops.update(spark, t, col("k") === 1L, Seq("v" -> lit(100L)))
    ops.compact(spark, t)
    assert(ops.columnMapping(t) === "id", "the mode follows every commit")
    assert(ops.read(spark, t).filter(col("k") === 1L).head.getLong(1) === 100L)
    assert(ops.read(spark, t).count() === 12)
    // time travel to a pre-drop version still shows the OLD tag column
    assert(ops.read(spark, t, Some(1L)).columns.toSeq === Seq("k", "v", "tag"))
    assert(ops.read(spark, t, Some(1L)).filter(col("tag") === "A").count() === 10,
      "the dropped column's values are intact at the old version")

    // a clone inherits the mode; upsert keeps it working
    val tc = freshTable("idmap-clone")
    ops.cloneTable(spark, t, tc)
    assert(ops.columnMapping(tc) === "id")
    ops.upsert(spark, tc, spark.range(0, 2).select(
      col("id").as("k"), lit(999L).as("v"), lit(0L).as("tag")), "k")
    assert(ops.read(spark, tc).filter(col("v") === 999L).count() === 2)

    // namespace guards: user columns may not squat the id namespace
    intercept[IllegalArgumentException] {
      ops.overwriteIdMapped(spark, freshTable("idmap-bad"),
        spark.range(1).select(col("id").as("__gcid_1")))
    }
    intercept[IllegalArgumentException] {
      ops.renameColumn(spark, t, "v", "__gone_3")
    }
    // name-mode tables are untouched by all of this
    val tn = freshTable("idmap-namemode")
    ops.overwrite(spark, tn, rows(0, 5))
    assert(ops.columnMapping(tn) === "name")
    ops.dropColumn(spark, tn, "tag")
    intercept[IllegalArgumentException] {
      ops.append(spark, tn, rows(5, 6)) // name-mode revival refusal intact
    }
  }

  test(s"[$backend] convert a name-mapped table to id mapping: re-added names allowed, old bytes stay dead") {
    val t = freshTable("idconv")
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"), (col("id") * 2).as("v"), lit("A").as("tag"))
    ops.overwrite(spark, t, rows(0, 10))
    // name-mode history that BURNS names: rename v -> val (the files
    // keep physical "v"), then drop "tag" with no rename record
    ops.renameColumn(spark, t, "v", "val")
    ops.dropColumn(spark, t, "tag")
    assert(ops.columnMapping(t) === "name")
    intercept[IllegalArgumentException] {
      // the name-mode refusal this conversion replaces
      ops.append(spark, t, spark.range(10, 11).select(
        col("id").as("k"), (col("id") * 2).as("val"), lit("B").as("tag")))
    }
    val preConvFiles = ops.snapshotFiles(t).toSet
    val vConv = ops.convertToIdMapping(spark, t)
    assert(ops.columnMapping(t) === "id")
    assert(ops.snapshotFiles(t).toSet === preConvFiles,
      "conversion is metadata-only: the file list carries by reference")
    // CDC across the conversion commit is an EMPTY delta
    assert(ops.changesBetween(spark, t, vConv - 1, vConv).isEmpty,
      "a metadata-only conversion emits no row changes")
    // existing columns read unchanged through their identity entries
    assert(ops.read(spark, t).columns.toSeq === Seq("k", "val"))
    assert(ops.read(spark, t).agg(sum(col("val"))).head.getLong(0) === 90L)

    // RE-ADD the never-renamed dropped name "tag" (name mode refused):
    // a fresh id, so pre-drop rows read NULL — old bytes stay dead
    ops.append(spark, t, spark.range(10, 15).select(
      col("id").as("k"), (col("id") * 2).as("val"), (col("id") * 7).as("tag")))
    val got = ops.read(spark, t)
    assert(got.columns.toSeq === Seq("k", "val", "tag"))
    assert(got.filter(col("k") < 10 && col("tag").isNotNull).count() === 0,
      "the dropped tag's 'A' bytes must NOT resurrect into the re-added column")
    assert(got.filter(col("k") >= 10).agg(sum(col("tag"))).head.getLong(0) ===
      (10L until 15L).map(_ * 7).sum)

    // RESURRECTION-HAZARD spec for the renamed-then-dropped shape:
    // drop "val" (its bytes live under PHYSICAL "v" in carried files —
    // the retired map entry is the only durable record), then re-add
    // BOTH names; each must read fresh-id nulls for old rows
    ops.dropColumn(spark, t, "val")
    ops.append(spark, t, spark.range(15, 18).select(
      col("id").as("k"), lit(-1L).as("val"), lit(0L).as("tag"),
      lit(-2L).as("v")))
    val r2 = ops.read(spark, t)
    assert(r2.filter(col("k") < 15 && col("val").isNotNull).count() === 0,
      "re-added 'val' must not resurrect the dropped column's bytes")
    assert(r2.filter(col("k") < 15 && col("v").isNotNull).count() === 0,
      "re-added 'v' must not alias the renamed column's PHYSICAL bytes")
    assert(r2.filter(col("k") >= 15).select(sum(col("val")), sum(col("v")))
      .head match { case r => r.getLong(0) === -3L && r.getLong(1) === -6L })

    // renames are free after conversion (name-mode would refuse the
    // recorded name "k" -> "key" -> "k" round trip)
    ops.renameColumn(spark, t, "k", "key")
    ops.renameColumn(spark, t, "key", "k")
    assert(ops.read(spark, t).agg(sum(col("k"))).head.getLong(0) ===
      (0L until 18L).sum)

    // time travel: pre-conversion versions read with THEIR maps
    assert(ops.read(spark, t, Some(vConv - 1)).columns.toSeq === Seq("k", "val"))
    assert(ops.read(spark, t, Some(1L)).columns.toSeq === Seq("k", "v", "tag"))
    assert(ops.read(spark, t, Some(1L)).filter(col("tag") === "A").count() === 10)

    // guards: double conversion, uninitialized table, namespace squat
    intercept[IllegalArgumentException] { ops.convertToIdMapping(spark, t) }
    intercept[IllegalArgumentException] {
      ops.convertToIdMapping(spark, freshTable("idconv-empty"))
    }
    val tBad = freshTable("idconv-bad")
    ops.overwrite(spark, tBad,
      spark.range(1).select(col("id").as("__gcid_7")))
    intercept[IllegalArgumentException] { ops.convertToIdMapping(spark, tBad) }
  }

  test(s"[$backend] id mapping composes with partition columns and zone-map pruning") {
    // partition routing: value dirs route under the PHYSICAL id name;
    // every logical-name surface (probe, rename, drop) reaches them
    // through the same translation renamed columns already use
    val tp = freshTable("idmap-part")
    def prows(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"),
      concat(lit("P"), (col("id") % 4).cast("string")).as("p"),
      (col("id") * 3).as("v"))
    ops.overwritePartitioned(spark, tp, prows(0, 100), Seq("p"), idMapped = true)
    assert(ops.columnMapping(tp) === "id")
    assert(ops.snapshotFiles(tp).forall(_.split('/').exists(s =>
      s.startsWith("__gcid_") && s.contains("__pv="))),
      s"value dirs must route under the physical id name: ${ops.snapshotFiles(tp).head}")
    val (keptP, totalP) = ops.filesForPartition(tp, "p", "P1")
    assert(keptP.nonEmpty && keptP.size < totalP)
    ops.renameColumn(spark, tp, "p", "bucket") // pure map edit
    ops.dropPartition(spark, tp, "bucket", "P2") // addressed by the NEW name
    assert(ops.read(spark, tp).filter(col("bucket") === "P2").count() === 0)
    assert(ops.read(spark, tp).count() === 75)
    // routing follows the table — and the batch must use the RENAMED
    // logical name (a batch still saying "p" would be a NEW column).
    // DROP PARTITION was a point-in-time retention edit: the append's
    // new P2 rows land again, value-routed like everything else
    ops.append(spark, tp, prows(100, 120).withColumnRenamed("p", "bucket"))
    assert(ops.read(spark, tp).count() === 95)
    assert(ops.read(spark, tp).filter(col("bucket") === "P2").count() === 5,
      "post-drop appends repopulate the value directory")

    // zone maps prune id-mapped tables: the logical filter rewrites
    // through the read's alias to the physical stats key
    val tz = freshTable("idmap-zone")
    ops.overwriteIdMapped(spark, tz,
      spark.range(0, 3000).select(col("id").as("k"), (col("id") * 2).as("v")))
    ops.optimize(spark, tz, Seq("k"), nFiles = 8)
    def scannedFiles(d: org.apache.spark.sql.DataFrame): Long = {
      d.collect()
      val plan = d.queryExecution.executedPlan
      val resolved = plan.collectFirst {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      }.getOrElse(plan)
      resolved.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.get
    }
    val all = scannedFiles(ops.readIndexed(spark, tz))
    assert(all >= 8, "optimize must have produced a multi-file layout")
    val pruned = ops.readIndexed(spark, tz).filter(col("k").between(100, 200))
    assert(pruned.collect().map(_.getLong(0)).toSet === (100L to 200L).toSet)
    assert(scannedFiles(pruned) < all,
      "zone maps must prune on the physical stats keys of an id-mapped table")

    // MoR mutations translate the same way: a deleteMoR republishes
    // the SAME file list + a deletion vector keyed on physical paths,
    // and updateMoR's assignments resolve against logical names
    val filesBefore = ops.snapshotFiles(tz).toSet
    ops.deleteMoR(spark, tz, col("k") < 50L)
    assert(ops.snapshotFiles(tz).toSet === filesBefore,
      "id-mode MoR delete must move zero data files")
    assert(ops.deletionVectors(tz).nonEmpty)
    assert(ops.read(spark, tz).count() === 2950)
    ops.updateMoR(spark, tz, col("k") === 100L, Seq("v" -> lit(-1L)))
    assert(ops.read(spark, tz).filter(col("k") === 100L).head.getLong(1) === -1L,
      "id-mode MoR update resolves assignments against logical names")
    assert(ops.read(spark, tz).count() === 2950)

    // the ALIGNED JOIN reaches id-mapped partitioned tables through
    // the same logical-name resolution: both sides' specs resolve to
    // the same logical column and the value dirs pair up even though
    // each table allocated a DIFFERENT physical id for it
    val ja = freshTable("idmap-join-a")
    val jb = freshTable("idmap-join-b")
    ops.overwritePartitioned(spark, ja, spark.range(0, 90).select(
      col("id").as("k"),
      concat(lit("P"), (col("id") % 3).cast("string")).as("p")),
      Seq("p"), idMapped = true)
    ops.overwritePartitioned(spark, jb, spark.range(0, 2).select(
      // an extra leading column shifts jb's id assignment, so p gets a
      // DIFFERENT physical id than in ja
      (col("id") * 10).as("w"),
      concat(lit("P"), col("id").cast("string")).as("p")),
      Seq("p"), idMapped = true)
    val jGot = ops.joinPartitioned(spark, ja, jb, Seq("p"))
    val jWant = ops.read(spark, ja).join(ops.read(spark, jb), Seq("p"))
    assert(jGot.except(jWant).isEmpty && jWant.except(jGot).isEmpty,
      "aligned join over two id-mapped tables == plain join")
    assert(jGot.count() === 60, "P0/P1 of a (30 rows each) x one dim row")

    // catalog transactions extend the id map too: a CatAppend adding a
    // NEW column records the extended map in the catalog-embedded
    // manifest, and the column reads logically under a fresh id
    import graft.sources.CatAppend
    val cat = freshTable("idmap-cat")
    ops.commitAll(spark, cat, Seq(CatAppend(tz,
      spark.range(5000, 5010).select(col("id").as("k"), (col("id") * 2).as("v"),
        lit("late").as("note")))))
    val gotCat = ops.read(spark, tz)
    assert(gotCat.columns.contains("note"))
    assert(gotCat.filter(col("note") === "late").count() === 10)
    assert(gotCat.filter(col("k") < 5000L && col("note").isNotNull).count() === 0,
      "pre-evolution rows read the catalog-added column as NULL")
    val physCat = ops.snapshotFiles(tz)
      .flatMap(f => spark.read.parquet(Paths.get(tz, f).toString).columns).toSet
    assert(physCat.forall(c => c.startsWith("__gcid_")),
      s"the catalog-appended column must land under a physical id: $physCat")
  }

  test(s"[$backend] partition-aligned OUTER joins and multi-column tuple alignment") {
    val a = freshTable("pjo-a")
    val b = freshTable("pjo-b")
    // two-column spec (p, q); a has a NULL partition (p null every 7th
    // row) — outer joins must preserve it, inner must drop it
    def rowsA = spark.range(0, 280).select(
      col("id").as("k"),
      when(col("id") % 7 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("P"), (col("id") % 4).cast("string"))).as("p"),
      concat(lit("Q"), (col("id") % 2).cast("string")).as("q"),
      (col("id") * 2).as("v"))
    // b covers only P0/P1 tuples, plus its own NULL-p row (which must
    // never match a's NULL-p rows — SQL NULL = NULL is not TRUE)
    def rowsB = spark.range(0, 4).select(
      when(col("id") === 3, lit(null).cast("string"))
        .otherwise(concat(lit("P"), (col("id") % 2).cast("string"))).as("p"),
      concat(lit("Q"), (col("id") % 2).cast("string")).as("q"),
      (col("id") * 100).as("w"))
    ops.overwritePartitioned(spark, a, rowsA, Seq("p", "q"))
    ops.overwritePartitioned(spark, b, rowsB, Seq("p", "q"))
    def plain(jt: String) = ops.read(spark, a)
      .join(ops.read(spark, b), Seq("p", "q"), jt)
    def aligned(jt: String) = ops.joinPartitioned(spark, a, b, Seq("p", "q"), jt)
    for (jt <- Seq("inner", "left", "right", "full")) {
      val got = aligned(jt)
      val want = plain(if (jt == "inner") "inner" else jt + "_outer")
      assert(got.except(want).isEmpty && want.except(got).isEmpty,
        s"aligned $jt join == plain $jt join")
    }
    assert(aligned("left").filter(col("p").isNull).count() ===
      ops.read(spark, a).filter(col("p").isNull).count(),
      "the left NULL partition survives a left join, unmatched")
    assert(aligned("left").filter(col("p").isNull && col("w").isNotNull).count() === 0,
      "NULL partitions never match each other")
    // tuple-level pruning: P2/P3 tuples absent from b never open
    assert(!aligned("inner").inputFiles.exists(f =>
      f.contains("p__pv=P2") || f.contains("p__pv=P3")),
      "tuples absent from one side must never open the other side's files")
    // the LEFT-rest branch of a left join must not scan b's files for
    // a-only tuples (they join an empty frame); b has only 4 tiny
    // files so assert via the pair branches instead: a full join's
    // input covers both rests
    assert(aligned("full").count() === plain("full_outer").count())
    // prefix alignment: c partitioned by (p) only — the shared leading
    // prefix is (p); the aligned join still prunes on it
    val c = freshTable("pjo-c")
    ops.overwritePartitioned(spark, c,
      spark.range(0, 2).select(
        concat(lit("P"), col("id").cast("string")).as("p"),
        (col("id") * 1000).as("z")), Seq("p"))
    val gotPfx = ops.joinPartitioned(spark, a, c, Seq("p"))
    val wantPfx = ops.read(spark, a).join(ops.read(spark, c), Seq("p"))
    assert(gotPfx.except(wantPfx).isEmpty && wantPfx.except(gotPfx).isEmpty,
      "single-column prefix alignment over a two-column spec")
    assert(!gotPfx.inputFiles.exists(f => f.contains("p__pv=P2") || f.contains("p__pv=P3")))
    intercept[IllegalArgumentException] { ops.joinPartitioned(spark, a, b, Seq("p", "q"), "cross") }
    // q alone shares no LEADING prefix — refused, not silently unpruned
    intercept[IllegalArgumentException] { ops.joinPartitioned(spark, a, b, Seq("q")) }
  }

  test(s"[$backend] CHECK naming an evolved column accepts a batch that omits it (NULL passes)") {
    val t = freshTable("check-evolved")
    ops.overwrite(spark, t, base) // columns (k, v)
    // evolve: an append ADDS column w; older files read it as NULL
    ops.append(spark, t, spark.range(500, 503)
      .select(col("id").as("k"), lit("E").as("v"), (col("id") * 2).as("w")))
    // the constraint names the evolved column — adding it validates the
    // head (pre-evolution rows read w as NULL, and NULL passes CHECK)
    ops.addCheckConstraint(spark, t, "w_big", "w > 100")
    // the round-7 advisory path: a batch that legitimately OMITS w must
    // be accepted (the committed read materializes w as NULL for its
    // rows — same three-valued CHECK outcome), not die on an
    // unresolved-column AnalysisException
    val v = ops.append(spark, t,
      spark.range(600, 602).select(col("id").as("k"), lit("O").as("v")))
    assert(ops.versions(t).last === v)
    assert(ops.read(spark, t).filter(col("k") >= 600 && col("w").isNull).count() === 2,
      "the omitted column reads NULL for the new rows")
    // and a batch that SUPPLIES a violating value still fails loudly
    intercept[IllegalArgumentException] {
      ops.append(spark, t, spark.range(700, 701)
        .select(col("id").as("k"), lit("B").as("v"), lit(5L).as("w")))
    }
  }

  test(s"[$backend] CHECK constraints: write-time enforcement, atomic failure, manifest carry") {
    val t = freshTable("check")
    ops.overwrite(spark, t, base) // nation keys 0..24, names non-null
    // adding a constraint the EXISTING data violates must fail
    intercept[IllegalArgumentException] {
      ops.addCheckConstraint(spark, t, "impossible", "k > 100")
    }
    ops.addCheckConstraint(spark, t, "k_range", "k >= 0 AND k < 1000")
    ops.addCheckConstraint(spark, t, "v_not_null", "v IS NOT NULL")
    assert(ops.checkConstraints(t).map(_._1).sorted === Seq("k_range", "v_not_null"))
    val vOk = ops.append(spark, t,
      spark.range(100, 105).select(col("id").as("k"), lit("OK").as("v")))
    val rows = ops.read(spark, t).count()
    // a violating append throws and publishes NOTHING
    intercept[IllegalArgumentException] {
      ops.append(spark, t,
        spark.range(2000, 2002).select(col("id").as("k"), lit("BAD").as("v")))
    }
    assert(ops.versions(t).last === vOk && ops.read(spark, t).count() === rows,
      "violating write must be atomic: no version, no rows")
    // NULL passes a plain CHECK (SQL semantics) but fails the IS NOT NULL rule
    intercept[IllegalArgumentException] {
      ops.append(spark, t, spark.range(200, 201)
        .select(col("id").as("k"), lit(null).cast("string").as("v")))
    }
    // upsert enforces on the MERGED row; update enforces on assignments
    intercept[IllegalArgumentException] {
      ops.upsert(spark, t, spark.range(3000, 3001)
        .select(col("id").as("k"), lit("U").as("v")), "k")
    }
    intercept[IllegalArgumentException] {
      ops.update(spark, t, col("k") === 3L, Seq("k" -> lit(-5L)))
    }
    // constraints survive row-preserving rewrites and bind afterwards
    ops.compact(spark, t)
    assert(ops.checkConstraints(t).size === 2, "constraints survive compaction")
    intercept[IllegalArgumentException] {
      ops.append(spark, t,
        spark.range(5000, 5001).select(col("id").as("k"), lit("X").as("v")))
    }
    // a ']' inside an expression must not truncate the parse (the
    // review-found section-regex bug: every constraint silently lost)
    ops.addCheckConstraint(spark, t, "no_bracket", "v != 'x]y'")
    assert(ops.checkConstraints(t).map(_._1).sorted ===
      Seq("k_range", "no_bracket", "v_not_null"))
    intercept[IllegalArgumentException] {
      ops.append(spark, t,
        spark.range(300, 301).select(col("id").as("k"), lit("x]y").as("v")))
    }
    ops.dropCheckConstraint(spark, t, "no_bracket")
    // time travel sees the set in force at each version; drop unbinds
    assert(ops.checkConstraints(t, Some(1L)).isEmpty)
    ops.dropCheckConstraint(spark, t, "k_range")
    val after = ops.append(spark, t,
      spark.range(5000, 5001).select(col("id").as("k"), lit("X").as("v")))
    assert(after === ops.versions(t).last)
    assert(ops.checkConstraints(t).map(_._1) === Seq("v_not_null"))
  }

  test(s"[$backend] constraint-vs-append race: the head never violates its own constraints") {
    // both orderings are legal — if the violating append wins, the ADD
    // fails its existing-data validation; if the ADD wins, the append
    // fails (pre-check, or the closure's late re-validation when the
    // constraint landed between stage and publish). The invariant is
    // that NO interleaving yields a head whose rows violate a
    // constraint recorded in the head manifest.
    for (i <- 1 to 5) {
      val t = freshTable(s"race-cons-$i")
      ops.overwrite(spark, t, base)
      val bad = spark.range(9000 + i, 9003 + i)
        .select((-col("id")).as("k"), lit("BAD").as("v"))
      val th1 = new Thread(() => {
        try ops.addCheckConstraint(spark, t, "pos", "k >= 0")
        catch { case _: Throwable => () } })
      val th2 = new Thread(() => {
        try ops.append(spark, t, bad)
        catch { case _: Throwable => () } })
      th1.start(); th2.start(); th1.join(); th2.join()
      for ((n, e) <- ops.checkConstraints(t)) {
        assert(ops.read(spark, t)
          .filter(!coalesce(expr(e), lit(true))).count() === 0,
          s"head violates its own constraint $n after race (iter $i)")
      }
    }
  }

  test(s"[$backend] drop column: metadata-only, time travel keeps it, name reuse refused") {
    val t = freshTable("dropcol")
    val df3 = spark.range(0, 50).select(col("id").as("k"),
      lit("A").as("v"), (col("id") * 2).as("extra"))
    val v1 = ops.overwrite(spark, t, df3)
    val before = ops.snapshotFiles(t)
    val v2 = ops.dropColumn(spark, t, "extra")
    // zero data moved; head reads without the column
    assert(ops.snapshotFiles(t, Some(v2)) === before, "drop carries files by reference")
    assert(ops.read(spark, t).columns.sorted.toSeq === Seq("k", "v"))
    assert(ops.read(spark, t).count() === 50)
    // time travel still sees it, with its values
    val old = ops.read(spark, t, Some(v1))
    assert(old.columns.contains("extra") && old.agg(sum("extra")).head.getLong(0) === (0L until 50L).map(_ * 2).sum)
    // CDC across the drop is an empty delta (no row-level change)
    assert(ops.changesBetween(spark, t, v1, v2).isEmpty)
    // appends with the remaining schema work; re-adding the dropped
    // NAME is refused while pre-drop manifests are retained
    ops.append(spark, t, spark.range(50, 60).select(col("id").as("k"), lit("B").as("v")))
    intercept[IllegalArgumentException] {
      ops.append(spark, t, spark.range(60, 61)
        .select(col("id").as("k"), lit("C").as("v"), lit(99L).as("extra")))
    }
    // the IDEMPOTENT append path enforces the same revival guard (a
    // streaming append with an evolved upstream schema must not
    // resurrect the dropped column either)
    intercept[IllegalArgumentException] {
      ops.appendIdempotent(spark, t, spark.range(60, 61)
        .select(col("id").as("k"), lit("C").as("v"), lit(99L).as("extra")),
        "revive-test", 0L)
    }
    // a FRESH name is fine (ordinary add-column evolution)
    ops.append(spark, t, spark.range(60, 61)
      .select(col("id").as("k"), lit("C").as("v"), lit(99L).as("extra2")))
    assert(ops.read(spark, t).columns.sorted.toSeq === Seq("extra2", "k", "v"))
    // after compaction rewrites with the current schema and vacuum
    // drops the pre-drop manifests, the name frees up
    ops.compact(spark, t)
    ops.vacuum(t, retain = 1, graceMs = 0)
    ops.append(spark, t, spark.range(61, 62)
      .select(col("id").as("k"), lit("D").as("v"), lit(1L).as("extra2"), lit(7L).as("extra")))
    assert(ops.read(spark, t).filter(col("extra").isNotNull).count() === 1,
      "re-added column reads only the new rows (old files were rewritten clean)")
    // a constraint referencing a column blocks its drop
    ops.addCheckConstraint(spark, t, "v_nn", "v IS NOT NULL")
    intercept[IllegalArgumentException] { ops.dropColumn(spark, t, "v") }
    ops.dropCheckConstraint(spark, t, "v_nn")
    ops.dropColumn(spark, t, "v")
    assert(!ops.read(spark, t).columns.contains("v"))
  }

  test(s"[$backend] add column: metadata-only, NULL-materialized history, hazards refused") {
    val t = freshTable("addcol")
    val df = spark.range(0, 50).select(col("id").as("k"), lit("A").as("v"))
    val v1 = ops.overwrite(spark, t, df)
    val before = ops.snapshotFiles(t)
    val v2 = ops.addColumn(spark, t, "w", org.apache.spark.sql.types.LongType)
    // zero data IO: file list identical, pre-add rows read NULL
    assert(ops.snapshotFiles(t, Some(v2)) === before, "add carries files by reference")
    val head = ops.read(spark, t)
    assert(head.columns.toSeq === Seq("k", "v", "w"))
    assert(head.filter(col("w").isNull).count() === 50, "pre-add rows materialize NULL")
    // time travel: the pre-add version never sees the column
    assert(!ops.read(spark, t, Some(v1)).columns.contains("w"))
    // CDC across the add commit is an EMPTY delta (no row-level change)
    assert(ops.changesBetween(spark, t, v1, v2).isEmpty)
    // later appends may populate the column or keep omitting it
    ops.append(spark, t, spark.range(50, 60).select(col("id").as("k"),
      lit("B").as("v"), (col("id") * 7).as("w")))
    ops.append(spark, t, spark.range(60, 65).select(col("id").as("k"), lit("C").as("v")))
    val r = ops.read(spark, t)
    assert(r.count() === 65)
    assert(r.agg(sum("w")).head.getLong(0) === (50L until 60L).map(_ * 7).sum)
    assert(r.filter(col("w").isNull).count() === 55)
    // duplicate add refused; resurrection hazard refused in NAME mode
    // (the dropped name is recorded by retained manifests — the same
    // guard the append-side evolution path enforces)
    intercept[IllegalArgumentException] {
      ops.addColumn(spark, t, "w", org.apache.spark.sql.types.LongType) }
    ops.dropColumn(spark, t, "w")
    intercept[IllegalArgumentException] {
      ops.addColumn(spark, t, "w", org.apache.spark.sql.types.LongType) }
    // ... and frees up once compact + vacuum retire the old bytes
    ops.compact(spark, t)
    ops.vacuum(t, retain = 1, graceMs = 0)
    ops.addColumn(spark, t, "w", org.apache.spark.sql.types.LongType)
    assert(ops.read(spark, t).filter(col("w").isNotNull).count() === 0,
      "no resurrection: the old bytes were rewritten away before the re-add")
    // uninitialized table refused
    intercept[IllegalArgumentException] {
      ops.addColumn(spark, freshTable("addcol-e"), "x",
        org.apache.spark.sql.types.LongType) }
  }

  test(s"[$backend] add column under id mapping: drop + immediate re-add, old bytes dead") {
    val t = freshTable("addcol-id")
    ops.overwriteIdMapped(spark, t, spark.range(0, 20).select(
      col("id").as("k"), (col("id") * 3).as("w")))
    ops.dropColumn(spark, t, "w")
    // id mode: the dropped name re-ADDs IMMEDIATELY (fresh id — no
    // compact/vacuum needed), and the ancestor's bytes stay dead
    val vAdd = ops.addColumn(spark, t, "w", org.apache.spark.sql.types.LongType)
    assert(ops.columnMapping(t) === "id")
    assert(ops.read(spark, t, Some(vAdd)).filter(col("w").isNotNull).count() === 0,
      "the re-added column reads NULL — the dropped id's bytes must not resurrect")
    ops.append(spark, t, spark.range(20, 25).select(
      col("id").as("k"), (col("id") * 11).as("w")))
    val r = ops.read(spark, t)
    assert(r.filter(col("k") < 20 && col("w").isNotNull).count() === 0)
    assert(r.agg(sum("w")).head.getLong(0) === (20L until 25L).map(_ * 11).sum)
    // the id namespace stays guarded
    intercept[IllegalArgumentException] {
      ops.addColumn(spark, t, "__gcid_9", org.apache.spark.sql.types.LongType) }
  }

  test(s"[$backend] detail: one driver-side row of snapshot facts") {
    val t = freshTable("detail")
    ops.overwrite(spark, t, base)
    ops.addCheckConstraint(spark, t, "k_pos", "k >= 0")
    ops.deleteMoR(spark, t, col("k") === 3L)
    val d = ops.detail(spark, t).head
    assert(d.getLong(0) === 3L && d.getString(1) === "delete")
    assert(d.getLong(3) >= 1L && d.getLong(4) === 1L, "one DV after the MoR delete")
    assert(d.getLong(5) > 0L, "on-disk bytes")
    assert(d.getLong(6) === base.count() - 1, "metadata row count nets out the DV")
    assert(d.getInt(7) === 2 && d.getInt(8) === 1)
    // pinned to v1: pre-delete facts
    val d1 = ops.detail(spark, t, Some(1L)).head
    assert(d1.getLong(6) === base.count() && d1.getLong(4) === 0L)
    // the layer's error contract, not raw internal exceptions
    intercept[IllegalArgumentException] { ops.detail(spark, t, Some(99L)) }
    intercept[IllegalArgumentException] {
      ops.detail(spark, freshTable("detail-empty"))
    }
  }

  test(s"[$backend] no-op mutations publish nothing; invalid assignments fail regardless of pruning") {
    val t = freshTable("noop")
    ops.overwrite(spark, t, base) // k 0..24 (long), v string
    val v1 = ops.versions(t).last
    // pruned-empty and matched-nothing mutations return the head with
    // no new version (a byte-identical 'delete' commit would kill
    // streaming consumers of an append-only table)
    assert(ops.delete(spark, t, col("k") > 9999L) === v1)
    assert(ops.delete(spark, t, col("k") % 2 === 98L) === v1,
      "untranslatable predicate touches files but matches no row -> still a no-op")
    assert(ops.deleteMoR(spark, t, col("k") > 9999L) === v1)
    assert(ops.update(spark, t, col("k") > 9999L, Seq("v" -> lit("X"))) === v1)
    assert(ops.updateMoR(spark, t, col("k") > 9999L, Seq("v" -> lit("X"))) === v1)
    assert(ops.versions(t) === Seq(1L), "no versions published by no-ops")
    // an invalid statement fails IDENTICALLY whether or not the zone
    // maps prune every file — type safety is not data-dependent
    intercept[IllegalArgumentException] {
      ops.update(spark, t, col("k") > 9999L, Seq("v" -> lit(1L)))
    }
    intercept[IllegalArgumentException] {
      ops.updateMoR(spark, t, col("k") > 9999L, Seq("nope" -> lit(1L)))
    }
  }

  test(s"[$backend] rename column: metadata-only, reads/writes/probes translate, hazards refused") {
    val t = freshTable("rename")
    val df = spark.range(0, 200).select(col("id").as("k"),
      (col("id") * 3).as("m"), lit("A").as("v"))
    val v1 = ops.overwrite(spark, t, df)
    val before = ops.snapshotFiles(t)
    val v2 = ops.renameColumn(spark, t, "m", "metric")
    assert(ops.snapshotFiles(t, Some(v2)) === before, "rename moves zero data")
    // reads surface the new logical name with the SAME values
    val head = ops.read(spark, t)
    assert(head.columns.sorted.toSeq === Seq("k", "metric", "v"))
    assert(head.agg(sum("metric")).head.getLong(0) === (0L until 200L).map(_ * 3).sum)
    // time travel keeps the old name
    assert(ops.read(spark, t, Some(v1)).columns.contains("m"))
    // appends under the NEW name land and read back merged
    ops.append(spark, t, spark.range(200, 260).select(col("id").as("k"),
      (col("id") * 3).as("metric"), lit("B").as("v")))
    assert(ops.read(spark, t).agg(sum("metric")).head.getLong(0) ===
      (0L until 260L).map(_ * 3).sum, "pre- and post-rename files merge under one name")
    // zone-map probes translate the logical name to the physical stats
    val (kept, total) = ops.filesForRange(t, "metric", 0d, 30d)
    assert(kept.size < total, "a selective probe on the RENAMED name must skip files")
    // the automatic path prunes on a logical-name filter too
    val cnt = ops.readIndexed(spark, t).filter(col("metric") < 30L).count()
    assert(cnt === 10, "ids 0..9 of the first era have metric < 30")
    // CDC across the rename: the rename itself is an empty delta;
    // a range across it aligns names to the TO side
    assert(ops.changesBetween(spark, t, v1, v2).isEmpty)
    val delta = ops.changesBetween(spark, t, v1, ops.versions(t).last)
    assert(delta.columns.contains("metric") && delta.count() === 60)
    // hazards: renaming TO a recorded or physical name is refused, as
    // is ADDING a column named like the renamed column's physical name
    intercept[IllegalArgumentException] { ops.renameColumn(spark, t, "v", "m") }
    intercept[IllegalArgumentException] {
      ops.append(spark, t, spark.range(300, 301).select(col("id").as("k"),
        (col("id") * 3).as("metric"), lit("C").as("v"), lit(9L).as("m")))
    }
    // constraints referencing the old name block the rename
    ops.addCheckConstraint(spark, t, "v_nn", "v IS NOT NULL")
    intercept[IllegalArgumentException] { ops.renameColumn(spark, t, "v", "label") }
    // COW mutations on the renamed column work (predicate on logical)
    ops.delete(spark, t, col("metric") > 700L)
    assert(ops.read(spark, t).count() === 234, "rows with metric > 700 deleted")
  }

  test(s"[$backend] rename edge cases: physical names never free, stale entries stay inert") {
    // (a) drop after rename: the map entry SURVIVES the drop, so the
    // physical name stays blocked even after vacuum erases the
    // manifests that recorded the old logical names
    val t = freshTable("ren-edge")
    ops.overwrite(spark, t, spark.range(0, 40).select(col("id").as("k"),
      (col("id") * 2).as("m"), lit("A").as("v")))
    ops.renameColumn(spark, t, "m", "metric")
    ops.dropColumn(spark, t, "metric")
    ops.compact(spark, t)
    ops.vacuum(t, retain = 1, graceMs = 0)
    intercept[IllegalArgumentException] {
      ops.append(spark, t, spark.range(40, 41)
        .select(col("id").as("k"), lit("B").as("v"), lit(7L).as("m")))
    }
    // (b) renaming TO a live physical name is refused — compaction
    // rewrites under the SAME physical names, so they never free up
    val t2 = freshTable("ren-phys")
    ops.overwrite(spark, t2, spark.range(0, 40).select(col("id").as("k"),
      (col("id") * 2).as("m"), lit("A").as("v")))
    ops.renameColumn(spark, t2, "m", "metric")
    ops.compact(spark, t2)
    ops.vacuum(t2, retain = 1, graceMs = 0)
    intercept[IllegalArgumentException] { ops.renameColumn(spark, t2, "v", "m") }
    // (c) an overwrite may legitimately reuse a stale entry's physical
    // name as a NEW column — per-field aliasing keeps the label right
    val t3 = freshTable("ren-stale")
    ops.overwrite(spark, t3, spark.range(0, 10).select(col("id").as("k"),
      (col("id") * 2).as("m")))
    ops.renameColumn(spark, t3, "m", "metric")
    ops.overwrite(spark, t3, spark.range(0, 10).select(col("id").as("k"),
      (col("id") * 5).as("m")))
    val r = ops.read(spark, t3)
    assert(r.columns.sorted.toSeq === Seq("k", "m"),
      "stale map entry must not relabel the reused name")
    assert(r.agg(sum("m")).head.getLong(0) === (0L until 10L).map(_ * 5).sum)
    // (d) changesBetween refuses a pure column REORDER loudly instead
    // of silently swapping labels
    val t4 = freshTable("ren-reorder")
    val va = ops.overwrite(spark, t4, spark.range(0, 5)
      .select(lit("s").as("src"), lit("d").as("dst")))
    val vb = ops.overwrite(spark, t4, spark.range(0, 5)
      .select(lit("d").as("dst"), lit("s").as("src")))
    intercept[IllegalArgumentException] {
      ops.changesBetween(spark, t4, va, vb).collect()
    }
  }

  test(s"[$backend] manifest format versioning: a future format is refused, legacy reads as format 1") {
    val t = freshTable("fmt")
    ops.overwrite(spark, t, base)
    // simulate a FUTURE writer publishing a format this reader does
    // not understand — every read of that version must refuse loudly
    // instead of guessing at unknown semantics
    val future = ops.read(spark, t) // force v1 manifest to exist first
    assert(future.count() === base.count())
    val commits = java.nio.file.Paths.get(t, "_commits")
    ops.store.putIfAbsent(commits, "v00000002.json",
      s"""{\n  "version": 2,\n  "format": 99,\n  "op": "append",\n""" +
        s"""  "files": [\n  ]\n}\n""")
    val e = intercept[IllegalArgumentException] { ops.read(spark, t).count() }
    assert(e.getMessage.contains("format 99"), e.getMessage)
    // metadata accessors refuse too, rather than answer "none"
    Seq(() => ops.checkConstraints(t), () => ops.partitionSpec(t)).foreach { f =>
      val m = intercept[IllegalArgumentException](f()).getMessage
      assert(m.contains("format 99"), m)
    }
    // pinned reads of the OLD version still work
    assert(ops.read(spark, t, Some(1L)).count() === base.count())
  }

  test(s"[$backend] chaos: N writers x M commits with compaction and vacuum interleaved") {
    // The round-7 stress (verdict item 7): the OCC retry closure was
    // spec-tested for ONE race; this drives sustained contention with
    // maintenance ops racing the writers. Invariants at the end:
    //  - every append got a distinct version; the retained log is
    //    gap-free;
    //  - the head holds the base rows plus EVERY appended batch
    //    (compaction rewrites, vacuum drops manifests, neither may
    //    lose a committed row);
    //  - every file the head manifest references exists on disk
    //    (vacuum's grace window protected all live staging).
    val t = freshTable("chaos")
    ops.overwrite(spark, t, base)
    val nWriters = 8
    val perWriter = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nWriters + 1)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val rnd = new scala.util.Random(7)
    val writers = (0 until nWriters).map { w =>
      scala.concurrent.Future {
        (0 until perWriter).map { i =>
          val k = 10000L + w * 100 + i
          ops.append(spark, t,
            spark.range(k, k + 1).select(col("id").as("k"), lit(s"W$w-$i").as("v")))
        }
      }
    }
    val chaos = scala.concurrent.Future {
      (0 until 6).foreach { _ =>
        Thread.sleep(30 + rnd.nextInt(120))
        if (rnd.nextBoolean()) ops.compact(spark, t, 1 + rnd.nextInt(2))
        // default grace: drops old MANIFESTS (racing any writer whose
        // closure is mid-read — the NoSuchFile retry path), never a
        // recently-staged data dir
        else ops.vacuum(t, retain = 8)
      }
    }
    val versionsCommitted = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(writers),
      scala.concurrent.duration.Duration(300, "s")).flatten
    scala.concurrent.Await.result(chaos, scala.concurrent.duration.Duration(300, "s"))
    pool.shutdown()
    assert(versionsCommitted.toSet.size === nWriters * perWriter,
      "every append committed a distinct version")
    val retained = ops.versions(t)
    assert(retained.max - retained.min + 1 === retained.size.toLong,
      s"retained log must be gap-free, got $retained")
    val head = ops.read(spark, t)
    assert(head.filter(col("k") >= 10000).count() === (nWriters * perWriter).toLong,
      "no committed append lost through compaction/vacuum chaos")
    assert(head.count() === base.count() + nWriters * perWriter)
    val headFiles = ops.read(spark, t, Some(retained.max)).inputFiles
    assert(headFiles.nonEmpty && headFiles.forall(f =>
      Files.exists(Paths.get(new java.net.URI(f)))),
      "every head-referenced file survives vacuum")
  }

  test(s"[$backend] zone-map-scoped keyed merge: untouched files carry by reference on a clustered layout") {
    val t = freshTable("mergezone")
    // three disjoint key clusters, one commit each — each commit's
    // files span only its cluster, so the layout is key-clustered and
    // the committed zone maps are tight (the OPTIMIZE-maintained shape
    // a 100 TB upsert target would hold)
    for (lo <- Seq(0L, 1000L, 2000L)) {
      val df = spark.range(lo, lo + 500)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
      if (lo == 0L) ops.overwrite(spark, t, df) else ops.append(spark, t, df)
    }
    val v0 = ops.versions(t).last
    val files0 = ops.snapshotFiles(t, Some(v0)).toSet
    // upsert strictly inside the middle cluster, plus one genuinely
    // new key far outside every file's interval (a pure insert)
    val upd = spark.range(1100, 1105)
      .select(col("id").as("k"), lit(-1L).as("v"))
      .union(spark.range(5000, 5001).select(col("id").as("k"), lit(-7L).as("v")))
    val v1 = ops.upsert(spark, t, upd, "k")
    assert(ops.history(spark, t).collect().last.getString(1) === "upsert",
      "the scoped commit still records the operation the user ran")
    // EXACTLY the stat-intersecting files rewrote; every other file
    // carried into the new manifest by reference (zero bytes moved)
    val files1 = ops.snapshotFiles(t, Some(v1)).toSet
    val touched = ops.filesForRange(t, "k", 1100, 1104, Some(v0))._1.toSet
    assert(touched.nonEmpty && touched.size < files0.size,
      "the probe must actually prune on this layout")
    assert((files0 -- files1) === touched,
      "exactly the zone-map-touched files were replaced")
    assert((files0 -- touched).subsetOf(files1),
      "untouched files carry by file identity — O(touched) write cost")
    val r1 = ops.read(spark, t, Some(v1))
    assert(r1.count() === 1501)
    assert(r1.filter(col("v") === -1L).count() === 5, "matched keys updated")
    assert(r1.filter(col("k") === 5000).head.getLong(1) === -7L, "new key inserted")
    assert(r1.filter(col("k") === 1099).head.getLong(1) === 2198,
      "unmatched row in a TOUCHED file passes through")
    assert(r1.filter(col("k") === 42).head.getLong(1) === 84,
      "unmatched row in a CARRIED file passes through")
    assert(ops.read(spark, t, Some(v0)).count() === 1500, "time travel pre-merge")
    // MoR interplay: a tombstoned row in a touched file cannot
    // resurrect through the scoped rewrite (rows are read with the
    // deletion vectors subtracted), and carried files keep their DVs
    ops.deleteMoR(spark, t, col("k") === 1200)
    val vUp2 = ops.upsert(spark, t,
      spark.range(1300, 1301).select(col("id").as("k"), lit(-9L).as("v")), "k")
    val r2 = ops.read(spark, t, Some(vUp2))
    assert(r2.count() === 1500)
    assert(r2.filter(col("k") === 1200).count() === 0,
      "MoR-deleted row stays dead through the scoped merge")
    assert(r2.filter(col("k") === 1300).head.getLong(1) === -9L)
    // null-keyed source rows probe nothing and land as inserts (SQL
    // join semantics: null never EqualTo-matches)
    val updN = spark.range(0, 1)
      .select(lit(null).cast("long").as("k"), lit(-6L).as("v"))
      .union(spark.range(1150, 1151).select(col("id").as("k"), lit(-5L).as("v")))
    val vN = ops.upsert(spark, t, updN, "k")
    val rN = ops.read(spark, t, Some(vN))
    assert(rN.filter(col("k").isNull).count() === 1, "null key inserts")
    assert(rN.filter(col("k") === 1150).head.getLong(1) === -5L)
    // a batch spanning the whole key domain prunes nothing — the
    // race-safe whole-snapshot path takes over, same semantics
    val vW = ops.upsert(spark, t,
      spark.range(0, 2500).select(col("id").as("k"), lit(-3L).as("v")), "k")
    val rW = ops.read(spark, t, Some(vW))
    assert(rW.filter(col("v") === -3L).count() === 2500)
    assert(rW.count() === 2502, "2500 domain keys + the far insert + the null row")
  }

  test(s"[$backend] keyed merge pins a non-deterministic source batch to one evaluation") {
    // round 12 (hardening the round-11 advice past the doc): the
    // scoped paths evaluate the source batch more than once — with
    // rand()-DERIVED KEYS the key probe could see one key set and the
    // merge another, landing duplicate keys beside carried rows. The
    // plan walk must detect the hazard and localCheckpoint the batch.
    val t = freshTable("mergezone-nondet")
    for (lo <- Seq(0L, 1000L, 2000L)) { // clustered layout, zoned path
      val df = spark.range(lo, lo + 500)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
      if (lo == 0L) ops.overwrite(spark, t, df) else ops.append(spark, t, df)
    }
    // in-batch key dedup keeps the upsert contract (one row per key);
    // the PLAN stays rand()-derived — exactly the hazard under test
    val upd = spark.range(0, 40).select(
        (floor(rand() * 1500).cast("long") + lit(1000L)).as("k"), lit(-1L).as("v"))
      .dropDuplicates("k")
    ops.upsert(spark, t, upd, "k")
    val r = ops.read(spark, t)
    val dups = r.groupBy("k").count().filter(col("count") > 1).count()
    assert(dups === 0,
      "a rand()-keyed upsert must not land duplicate keys (probe and merge " +
        "must see the SAME materialized batch)")
    assert(r.filter(col("v") === -1L).count() > 0, "the batch did land")
  }

  test(s"[$backend] zoned merge: string keys, min/max range fallback, schema-evolving fallback") {
    val t = freshTable("mergezone-str")
    // two commits with disjoint key prefixes — string zone maps
    // (printable ASCII) make the a-prefix files provably untouchable
    // by an m-prefix merge
    val a = spark.range(0, 200).select(
      concat(lit("a"), format_string("%03d", col("id"))).as("k"), col("id").as("v"))
    val b = spark.range(0, 200).select(
      concat(lit("m"), format_string("%03d", col("id"))).as("k"), col("id").as("v"))
    ops.overwrite(spark, t, a)
    ops.append(spark, t, b)
    val v0 = ops.versions(t).last
    val aFiles = ops.filesForRangeString(t, "k", "a000", "a999", Some(v0))._1.toSet
    assert(aFiles.nonEmpty)
    val upd = spark.range(10, 15).select(
      concat(lit("m"), format_string("%03d", col("id"))).as("k"), lit(-1L).as("v"))
    val v1 = ops.upsert(spark, t, upd, "k")
    assert(aFiles.subsetOf(ops.snapshotFiles(t, Some(v1)).toSet),
      "a-prefix files carry by reference under an m-prefix point probe")
    assert(ops.read(spark, t, Some(v1)).filter(col("v") === -1L).count() === 5)
    assert(ops.read(spark, t, Some(v1)).count() === 400)
    // past the collect bound the probe degrades to the batch's
    // [min, max] — still prunes the disjoint prefix
    def coalesceMerge(cur: DataFrame, u: DataFrame): DataFrame =
      cur.as("t").join(u.as("u"), Seq("k"), "full_outer")
        .select(col("k"), coalesce(col("u.v"), col("t.v")).as("v"))
    val upd2 = spark.range(50, 60).select(
      concat(lit("m"), format_string("%03d", col("id"))).as("k"), lit(-2L).as("v"))
    val v2 = ops.mergeKeyed(spark, t, upd2, Seq("k"), coalesceMerge, maxTouched = 2)
    assert(aFiles.subsetOf(ops.snapshotFiles(t, Some(v2)).toSet),
      "the range probe prunes the disjoint prefix too")
    assert(ops.read(spark, t, Some(v2)).filter(col("v") === -2L).count() === 10)
    // a schema-evolving mergeFn cannot keep carried files consistent —
    // it falls back to the whole-snapshot path, same answer, new column
    val upd3 = spark.range(100, 101).select(
      concat(lit("m"), format_string("%03d", col("id"))).as("k"), lit(-3L).as("v"))
    val v3 = ops.mergeKeyed(spark, t, upd3, Seq("k"),
      (cur, u) => coalesceMerge(cur, u).withColumn("w", lit(1L)))
    assert(ops.history(spark, t).collect().last.getString(1) === "merge")
    val r3 = ops.read(spark, t, Some(v3))
    assert(r3.columns.contains("w"), "schema-evolving merge lands through the whole path")
    assert(r3.filter(col("v") === -3L).count() === 1)
    assert(r3.count() === 400)
  }
}

/** The default POSIX deployment: publish via hard link. */
class VersionedTableSpec extends VersionedTableBattery("link", VersionedTable) {
  override protected def simulateCrashedCommit(t: String): Unit = {
    super.simulateCrashedCommit(t)
    // only this backend stages manifests as files before the publish
    Files.writeString(Paths.get(t, "_commits/.tmp-dead"),
      "{\"version\": 99, \"op\": \"crashed\", \"files\": []}")
  }
}

/** Object-store semantics: manifests live in a conditional-put
  * namespace (S3/GCS/ABFS `If-None-Match: *`), data files on the
  * filesystem stand in for immutable objects. The IDENTICAL battery —
  * protocol behavior must not depend on the publish primitive.
  */
class VersionedTableObjectStoreSpec
  extends VersionedTableBattery("objectstore",
    new VersionedTableOps(new InMemoryCommitStore))
