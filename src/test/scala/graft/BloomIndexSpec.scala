package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.{CatDelete, InMemoryCommitStore, VersionedTable, VersionedTableOps}
import graft.sql.GraftCatalog

/** Per-file bloom-filter file skipping (SURVEY §2.7): equality
  * lookups on a HIGH-CARDINALITY, UNCLUSTERED column — the query the
  * zone maps structurally cannot serve, because every file's
  * [min, max] interval spans the domain while the probed key lives in
  * very few files. The battery builds exactly that adversarial
  * layout (keys hash-scattered so each file covers the full range),
  * declares the index, and pins: the declaration commit + carry
  * semantics, skipping through the EXPLICIT probes and through a
  * plain `.filter()` on [[VersionedTable.read]] (Catalyst
  * planning path), exactness under false positives, conservative
  * keeps for unindexed files, rename interplay, COW-delete rewrite
  * pruning, and the refusals. Backend-abstract like the
  * VersionedTable battery — the declaration lives in manifests, so
  * both CommitStores must carry it.
  */
abstract class BloomIndexBattery(backend: String, ops: VersionedTableOps)
    extends SparkSpec {

  private def fresh(name: String): String = {
    val p = s"tmp/bloom-test/$backend/$name"
    val root = Paths.get(p)
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(root))(
        _.iterator().asScala.toSeq.reverse.foreach(Files.delete))
    }
    p
  }

  /** Keys ≡ era (mod 3), HASH-SCATTERED over 4 files per commit: every
    * file's key interval spans ~the whole domain, so interval skipping
    * is useless by construction and only the blooms can prune.
    */
  private def scattered(t: String, n: Long = 3000L): Unit = {
    for (era <- 0 to 2) {
      val df = spark.range(0, n).select(col("id").as("k"))
        .filter(col("k") % 3 === era)
        .withColumn("s", concat(lit("key-"), col("k").cast("string")))
        .repartition(4, col("s"))
      if (era == 0) ops.overwrite(spark, t, df) else ops.append(spark, t, df)
    }
  }


  test(s"[$backend] blooms prune point lookups the zone maps cannot") {
    val t = fresh("points")
    scattered(t)
    ops.setBloomIndex(spark, t, Seq(("k", 0.001), ("s", 0.001)))
    assert(ops.history(spark, t).collect().last.getString(1) === "set_bloom",
      "declaration is a commit")
    val total = ops.snapshotFiles(t).size
    assert(total >= 12, "3 scattered commits × 4 files")
    // the zone maps keep EVERYTHING for this probe (each file's
    // interval covers the key) — the layout the index exists for
    val (zoneKept, _) = ops.filesForRange(t, "k", 1234d, 1234d)
    assert(zoneKept.size === total,
      s"hash-scattered layout defeats intervals (zone kept ${zoneKept.size}/$total)")
    // the blooms keep ~the one file actually holding the key: a
    // failure needs >half the files to false-positive at fpp 0.001
    val (kept, tot) = ops.filesForPoints(t, "k", Seq(1234L))
    assert(kept.nonEmpty && kept.size < tot / 2,
      s"blooms must prune the scattered point probe (kept ${kept.size}/$tot)")
    // exactness: explicit read (false positives re-filter)
    assert(ops.readPoints(spark, t, "k", Seq(1234L))
      .collect().map(_.getLong(0)).toSeq === Seq(1234L))
    // string column blooms hash UTF8 bytes the same on both sides
    val (keptS, _) = ops.filesForPoints(t, "s", Seq("key-77"))
    assert(keptS.nonEmpty && keptS.size < tot / 2,
      s"string bloom must prune (kept ${keptS.size}/$tot)")
    // multi-value probe (IN): keys from two different eras keep the
    // union of their files — still far fewer than the snapshot
    val (keptIn, _) = ops.filesForPoints(t, "k", Seq(300L, 301L))
    assert(keptIn.size >= 1 && keptIn.size < tot / 2,
      s"IN probe keeps the union of point files (kept ${keptIn.size}/$tot)")
    // a value NOBODY holds keeps (almost) nothing
    val (keptMiss, _) = ops.filesForPoints(t, "k", Seq(999999L))
    assert(keptMiss.size < tot / 2, "absent key prunes to ~zero files")
    assert(ops.readPoints(spark, t, "k", Seq(999999L)).isEmpty)
  }

  test(s"[$backend] readIndexed: equality and IN filters prune through the blooms inside planning") {
    val t = fresh("autopoints")
    scattered(t)
    ops.setBloomIndex(spark, t, Seq(("k", 0.001)))
    val all = scannedFiles(ops.read(spark, t))
    val eq = ops.read(spark, t).filter(col("k") === 1234L)
    assert(eq.collect().map(_.getLong(0)).toSeq === Seq(1234L))
    assert(scannedFiles(eq) < all / 2,
      "a plain .filter(col === x) must bloom-prune at planning time")
    val inl = ops.read(spark, t).filter(col("k").isin(300L, 301L, 1234L))
    assert(inl.collect().map(_.getLong(0)).toSet === Set(300L, 301L, 1234L))
    assert(scannedFiles(inl) < all / 2, "IN probes bloom-prune too")
    // a long IN-list arrives optimized to InSet — same points
    val inset = ops.read(spark, t).filter(col("k").isin(0L to 14L: _*))
    assert(inset.count() === 15)
    assert(scannedFiles(inset) < all, "InSet probes bloom-prune")
    // conjunction with an untranslatable residue still prunes on the
    // translatable equality half and stays exact
    val conj = ops.read(spark, t)
      .filter(col("k") === 1234L && col("s").contains("23"))
    assert(conj.count() === 1)
    assert(scannedFiles(conj) < all / 2)
  }

  test(s"[$backend] readIndexed: a pinned frame plans equality filters after vacuum drops its manifest") {
    val t = fresh("vacuumed-pin")
    scattered(t)
    ops.setBloomIndex(spark, t, Seq(("k", 0.001)))
    val v = ops.versions(t).last
    val pinned = ops.read(spark, t, Some(v))
    // a later append carries v's files forward, so the vacuum keeps
    // them while it drops v's manifest
    ops.append(spark, t, spark.range(100000, 100010).select(col("id").as("k"))
      .withColumn("s", lit("late")))
    ops.vacuum(t, retain = 1, graceMs = 0)
    assert(!ops.versions(t).contains(v), "v's manifest is vacuumed")
    assert(pinned.filter(col("k").between(1230L, 1239L)).count() === 10,
      "a range filter plans from the frame's snapshot")
    val eq = pinned.filter(col("k") === 1234L)
    assert(eq.collect().map(_.getLong(0)).toSeq === Seq(1234L),
      "an equality filter plans from the frame's snapshot, not its vacuumed manifest")
    assert(scannedFiles(eq) < scannedFiles(pinned) / 2,
      "the frame's bloom declaration still prunes")
  }

  test(s"[$backend] appends self-index; pre-declaration files keep conservatively") {
    val t = fresh("carry")
    scattered(t)
    // declare WITHOUT backfill: old files have no sidecars and must
    // never be eliminated — and the answer stays exact
    ops.setBloomIndex(spark, t, Seq(("k", 0.001)), backfill = false)
    val (kept0, tot0) = ops.filesForPoints(t, "k", Seq(1234L))
    assert(kept0.size === tot0, "unindexed files are conservatively kept")
    assert(ops.readPoints(spark, t, "k", Seq(1234L)).count() === 1)
    // an append AFTER the declaration indexes itself (carry through
    // stageData): probing an OLD key now prunes the appended file —
    // its fresh sidecar proves the key absent, while the unindexed
    // pre-declaration files still keep conservatively
    ops.append(spark, t, spark.range(100000, 100001).select(col("id").as("k"))
      .withColumn("s", lit("fresh")))
    val (kept1, tot1) = ops.filesForPoints(t, "k", Seq(1234L))
    assert(kept1.size === tot1 - 1,
      s"the self-indexed append prunes itself from old-key probes " +
        s"(kept ${kept1.size}/$tot1)")
    assert(ops.bloomIndexSpec(t).map(_._1) === Seq("k"),
      "the declaration carries across commits")
    // declaring Nil removes the index: the probe REFUSES rather than
    // silently answering from stale sidecars
    ops.setBloomIndex(spark, t, Nil)
    assertThrows[IllegalArgumentException](ops.filesForPoints(t, "k", Seq(1L)))
  }

  test(s"[$backend] backfill indexes the existing snapshot in one pass") {
    val t = fresh("backfill")
    scattered(t)
    ops.setBloomIndex(spark, t, Seq(("k", 0.001))) // backfill = true
    val (kept, tot) = ops.filesForPoints(t, "k", Seq(42L))
    assert(kept.size < tot / 2,
      s"backfilled sidecars prune pre-declaration files (kept ${kept.size}/$tot)")
  }

  test(s"[$backend] rename: probes translate to the physical sidecar names") {
    val t = fresh("rename")
    scattered(t)
    ops.setBloomIndex(spark, t, Seq(("k", 0.001)))
    ops.renameColumn(spark, t, "k", "kk")
    assert(ops.bloomIndexSpec(t).map(_._1) === Seq("kk"),
      "the declaration reads back under the logical name")
    val (kept, tot) = ops.filesForPoints(t, "kk", Seq(1234L))
    assert(kept.size < tot / 2, "probe under the NEW name reaches the old sidecars")
    val eq = ops.read(spark, t).filter(col("kk") === 1234L)
    assert(eq.count() === 1)
    assert(scannedFiles(eq) < tot / 2, "automatic path translates too")
  }

  test(s"[$backend] COW delete rewrites only the files that might hold the key") {
    val t = fresh("cowdel")
    scattered(t)
    ops.setBloomIndex(spark, t, Seq(("k", 0.001)))
    val before = ops.snapshotFiles(t)
    val (touched, _) = ops.filesForPoints(t, "k", Seq(1234L))
    ops.delete(spark, t, col("k") === 1234L)
    val after = ops.snapshotFiles(t).toSet
    val carried = before.filter(after.contains)
    assert(carried.size >= before.size - touched.size,
      s"only bloom-candidate files rewrite (carried ${carried.size}/${before.size}, " +
        s"candidates ${touched.size})")
    assert(carried.size < before.size, "the matching file DID rewrite")
    val got = ops.read(spark, t)
    assert(got.filter(col("k") === 1234L).isEmpty, "the row is gone")
    assert(got.count() === 3000L - 1L, "nothing else was lost")
  }

  test(s"[$backend] scoped merge: blooms re-scope the upsert the intervals cannot") {
    val t = fresh("mergescope")
    scattered(t)
    // WITHOUT the index the scattered layout defeats the zone probe
    // (every file's interval admits every key → the scoped path
    // degrades to whole-snapshot); WITH it the same upsert carries
    // every file the sidecars prove key-free
    ops.setBloomIndex(spark, t, Seq(("k", 0.001)))
    val before = ops.snapshotFiles(t)
    val batch = spark.range(0, 3).select((col("id") * 3 + 1).as("k"))
      .withColumn("s", lit("upd"))
    val (candidates, _) = ops.filesForPoints(t, "k", Seq(1L, 4L, 7L))
    ops.upsert(spark, t, batch, "k")
    val after = ops.snapshotFiles(t).toSet
    val carried = before.filter(after.contains)
    assert(carried.size >= before.size - candidates.size,
      s"only bloom-candidate files rewrite under the scoped merge " +
        s"(carried ${carried.size}/${before.size}, candidates ${candidates.size})")
    assert(carried.size < before.size, "the matching files DID rewrite")
    val got = ops.read(spark, t)
    assert(got.filter(col("k").isin(1L, 4L, 7L))
      .collect().forall(_.getString(1) == "upd"), "updates landed")
    assert(got.count() === 3000L, "no rows lost or duplicated")
  }

  test(s"[$backend] partitioned tables index their leaf files") {
    val t = fresh("parts")
    val df = spark.range(0, 2000).select(col("id").as("k"),
      (col("id") % 4).cast("string").as("p"))
      .repartition(3, col("k"))
    ops.overwritePartitioned(t, df, Seq("p"))
    ops.setBloomIndex(spark, t, Seq(("k", 0.001)))
    val (kept, tot) = ops.filesForPoints(t, "k", Seq(1235L))
    assert(tot >= 4, "value-routed leaves hold multiple files")
    assert(kept.size < tot, s"leaf sidecars prune (kept ${kept.size}/$tot)")
    assert(ops.readPoints(spark, t, "k", Seq(1235L)).count() === 1)
  }

  test(s"[$backend] the declaration survives catalog commits and shallow clones") {
    val t = fresh("carry")
    scattered(t)
    ops.setBloomIndex(spark, t, Seq(("k", 0.001)))
    val declared = ops.bloomIndexSpec(t)
    assert(declared === Seq(("k", 0.001)))
    val cat = fresh("carry-cat")
    ops.appendAll(spark, cat, Seq(t -> spark.range(5000, 5010)
      .select(col("id").as("k"), concat(lit("key-"), col("id").cast("string")).as("s"))))
    assert(ops.bloomIndexSpec(t) === declared, "a catalog append keeps the declaration")
    ops.commitAll(spark, cat, Seq(CatDelete(t, col("k") === 5000L)))
    assert(ops.bloomIndexSpec(t) === declared, "a catalog delete keeps the declaration")
    val c = fresh("carry-clone")
    ops.cloneTable(spark, t, c)
    assert(ops.bloomIndexSpec(c) === declared, "a shallow clone inherits the declaration")
    assert(ops.bloomIndexSpec(t) === declared)
    val (kept, tot) = ops.filesForPoints(c, "k", Seq(1234L))
    assert(kept.size < tot, s"the clone's blooms still prune (kept ${kept.size}/$tot)")
  }

  /** The `.bloom` sidecars in `dir`, by name. */
  private def sidecarsIn(dir: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".bloom")).toSeq.sorted)
  }

  /** Runs `op` on `t` and checks every data file it added to the
    * snapshot: beside each sits exactly one sidecar per declared
    * column, and that sidecar holds every value of the column in the
    * file (hashed by Spark's own `xxhash64`, the hash the probe uses).
    * The staged directories hold no other sidecar. Returns the files
    * `op` carried from the previous snapshot.
    */
  private def assertIndexed(t: String, what: String)(op: => Unit): Set[String] = {
    val before = ops.snapshotFiles(t).toSet
    op
    val after = ops.snapshotFiles(t)
    val added = after.filterNot(before.contains)
    assert(added.nonEmpty, s"$what stages files")
    val decl = ops.bloomIndexSpec(t).map(_._1)
    added.foreach { f =>
      val p = Paths.get(t, f)
      val name = p.getFileName.toString
      assert(sidecarsIn(p.getParent).filter(_.startsWith(name + ".")) ===
        decl.map(c => s"$name.$c.bloom").sorted, s"$what: one sidecar per column beside $f")
      decl.foreach { c =>
        val filter = scala.util.Using.resource(
          Files.newInputStream(p.resolveSibling(s"$name.$c.bloom")))(
          org.apache.spark.util.sketch.BloomFilter.readFrom)
        val hashes = spark.read.parquet(p.toString).select(xxhash64(col(c)))
          .collect().map(_.getLong(0))
        assert(hashes.nonEmpty, s"$what: $f holds rows")
        assert(hashes.forall(filter.mightContainLong),
          s"$what: the $c sidecar of $f holds every value of its file")
      }
    }
    added.groupBy(f => Paths.get(t, f).getParent).foreach { case (dir, fs) =>
      assert(sidecarsIn(dir).size === fs.size * decl.size,
        s"$what: $dir holds sidecars of its staged files only")
    }
    after.filter(before.contains).toSet
  }

  test(s"[$backend] every staging path writes one sidecar per staged file, in its write tasks") {
    val root = fresh("stagers")
    val t = s"$root/db/t"
    val catalog = s"graftbloom$backend"
    GraftCatalog.setOps(catalog, ops)
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.root", root)
    def rows(lo: Long, hi: Long, s: Column) = spark.range(lo, hi)
      .select(col("id").as("k"), s.as("s"), (col("id") % 7).as("v"))
    for (era <- 0 to 2) {
      val df = rows(0, 3000, concat(lit("key-"), col("id").cast("string")))
        .filter(col("k") % 3 === era).repartition(4, col("s"))
      if (era == 0) ops.overwrite(spark, t, df) else ops.append(spark, t, df)
    }
    ops.setBloomIndex(spark, t, Seq(("k", 0.001), ("s", 0.01)))
    assertIndexed(t, "append") {
      ops.append(spark, t, rows(3000, 3100, lit("appended")).repartition(2))
    }
    assertIndexed(t, "COW delete") { ops.delete(spark, t, col("k") === 1234L) }
    assertIndexed(t, "updateMoR") {
      ops.updateMoR(spark, t, col("k") === 1236L, Seq("s" -> lit("mor")))
    }
    val carried = assertIndexed(t, "scoped upsert") {
      ops.upsert(spark, t, rows(0, 3, lit("upd")).withColumn("k", col("k") * 3 + 1), "k")
    }
    assert(carried.nonEmpty, "the upsert took the scoped path")
    assertIndexed(t, "SQL UPDATE") {
      spark.sql(s"UPDATE $catalog.db.t SET s = 'sql' WHERE k = 1239")
    }
    assertIndexed(t, "SQL MERGE") {
      spark.sql(
        s"""MERGE INTO $catalog.db.t t
           |USING (SELECT id AS k, 'merged' AS s, id % 7 AS v FROM range(2998, 3003)) s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assertIndexed(t, "OPTIMIZE zorder") {
      ops.optimize(spark, t, Seq("k", "v"), nFiles = 4, zorder = true)
    }
    assertIndexed(t, "compact") { ops.compact(spark, t) }
    assert(ops.snapshotFiles(t).size === 1)
    val kept = assertIndexed(t, "whole-table upsert") {
      ops.upsert(spark, t, rows(10, 13, lit("whole")), "k")
    }
    assert(kept.isEmpty, "the upsert re-staged the whole table")
    val got = ops.read(spark, t)
    assert(got.count() === 3099L, "every write landed exactly once")
    assert(ops.readPoints(spark, t, "k", Seq(11L)).collect().map(_.getString(1)).toSeq ===
      Seq("whole"))
  }

  test(s"[$backend] a partitioned append writes its sidecars beside each leaf file") {
    val t = fresh("parts-append")
    ops.overwritePartitioned(t, spark.range(0, 400).select(col("id").as("k"),
      (col("id") % 4).cast("string").as("p")), Seq("p"))
    ops.setBloomIndex(spark, t, Seq(("k", 0.001)))
    assertIndexed(t, "partitioned append") {
      ops.append(spark, t, spark.range(400, 800).select(col("id").as("k"),
        (col("id") % 4).cast("string").as("p")).repartition(3, col("k")))
    }
  }

  test(s"[$backend] DV stages and dropped zero-row files leave no sidecar") {
    val t = fresh("no-sidecar")
    scattered(t)
    ops.setBloomIndex(spark, t, Seq(("k", 0.001)))
    // partition 0 of the batch is empty: its writer task still emits a
    // zero-row file, which staging drops before publishing
    assertIndexed(t, "append with an empty task") {
      ops.append(spark, t, spark.range(5000, 5400, 1, 4)
        .filter(spark_partition_id() =!= 0).select(col("id").as("k"))
        .withColumn("s", lit("fresh")))
    }
    ops.deleteMoR(spark, t, col("k") < 10L)
    val dvDirs = ops.deletionVectors(t).map(f => Paths.get(t, f).getParent).distinct
    assert(dvDirs.nonEmpty)
    dvDirs.foreach(d => assert(sidecarsIn(d).isEmpty, s"DV stage $d carries no sidecar"))
  }

  /** The number of Spark jobs `body` runs, counted by job group. */
  private def jobsIn(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    org.apache.spark.ListenerBusDrain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test(s"[$backend] an append to a bloom-declared table runs no extra jobs") {
    val plain = fresh("jobs-plain")
    val declared = fresh("jobs-declared")
    scattered(plain)
    scattered(declared)
    ops.setBloomIndex(spark, declared, Seq(("k", 0.001), ("s", 0.001)))
    def batch = spark.range(5000, 5200).select(col("id").as("k"),
      concat(lit("key-"), col("id").cast("string")).as("s")).repartition(2)
    val group = s"bloom-jobs-$backend-${System.nanoTime}"
    val nPlain = jobsIn(s"$group-plain") { ops.append(spark, plain, batch) }
    val nDeclared = jobsIn(s"$group-declared") { ops.append(spark, declared, batch) }
    assert(nPlain > 0)
    assert(nDeclared === nPlain, "the sidecars cost the append no job of its own")
  }

  test(s"[$backend] refusals: unknown column, bad fpp, undeclared probe, unsafe name") {
    val t = fresh("refuse")
    scattered(t)
    assertThrows[IllegalArgumentException](
      ops.setBloomIndex(spark, t, Seq(("nope", 0.01))))
    assertThrows[IllegalArgumentException](
      ops.setBloomIndex(spark, t, Seq(("k", 0.9))))
    assertThrows[IllegalArgumentException](
      ops.setBloomIndex(spark, t, Seq(("k", 0.01), ("k", 0.02))))
    assertThrows[IllegalArgumentException](ops.filesForPoints(t, "k", Seq(1L)))
    assert(ops.history(spark, t).filter(col("op") === "set_bloom").count() === 0,
      "refusals publish nothing")
  }
}

class BloomIndexSpec extends BloomIndexBattery("link", VersionedTable)

class BloomIndexObjectStoreSpec
  extends BloomIndexBattery("objectstore",
    new VersionedTableOps(new InMemoryCommitStore))
