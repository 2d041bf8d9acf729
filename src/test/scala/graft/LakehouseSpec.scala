package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedTable
import graft.streaming.Streams

/** Round-6 lakehouse-layer hardening (SURVEY.md §2.7/§2.8):
  * manifest-level zone-map file skipping, retention vacuum, and the
  * streaming CDC sink that commits every micro-batch through the
  * commit log.
  */
class LakehouseSpec extends SparkSpec {

  private def fresh(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-lake-$tag").toString + "/t"

  test("readRange skips files whose committed stats exclude the range") {
    val t = fresh("skip")
    // three appends with DISJOINT key ranges — the clustered-commit
    // layout zone maps exist for; each append stages >= 1 file
    for (lo <- Seq(0L, 1000L, 2000L)) {
      val df = spark.range(lo, lo + 500)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
      if (lo == 0L) VersionedTable.overwrite(spark, t, df)
      else VersionedTable.append(spark, t, df)
    }
    val (kept, total) = VersionedTable.filesForRange(t, "k", 1100, 1200)
    assert(total >= 3, "three commits stage at least three files")
    assert(kept.nonEmpty && kept.size < total,
      s"range probe must skip the non-matching commits (kept ${kept.size}/$total)")
    // skipping is an IO optimization, never a semantics change
    val viaSkip = VersionedTable.readRange(spark, t, "k", 1100, 1200)
      .collect().map(_.toSeq).toSet
    val full = VersionedTable.read(spark, t)
      .filter(col("k").between(1100, 1200)).collect().map(_.toSeq).toSet
    assert(viaSkip === full && full.size === 101)
    // an empty intersection returns an empty, correctly-shaped frame
    assert(VersionedTable.readRange(spark, t, "k", 10000, 10001).count() === 0)
    // boundary rows survive (the ULP-widening guard): a range equal to
    // one commit's exact min/max keeps every row of that commit
    assert(VersionedTable.readRange(spark, t, "k", 1000, 1499).count() === 500)
  }

  test("time-range probe skips on µs-timestamp zone maps") {
    val t = fresh("ts")
    // three day-partitioned appends — the event-time layout a
    // time-series table commits in
    for (day <- 0 to 2) {
      val df = spark.range(day * 100, day * 100 + 100)
        .select(col("id").as("event_id"),
          timestamp_micros(lit(1700000000000000L) + col("id") * lit(864000000L)).as("ts"))
      if (day == 0) VersionedTable.overwrite(spark, t, df)
      else VersionedTable.append(spark, t, df)
    }
    // probe day 1 only (ids 100..199 -> micros offsets [86400s, 172800s))
    val lo = 1700000000000000L + 86400000000L
    val hi = 1700000000000000L + 2 * 86400000000L - 1
    val (kept, total) = VersionedTable.filesForRange(t, "ts", lo.toDouble, hi.toDouble)
    assert(kept.nonEmpty && kept.size < total,
      s"timestamp zone maps must skip the other days (kept ${kept.size}/$total)")
    val got = VersionedTable.readRange(spark, t, "ts", lo.toDouble, hi.toDouble)
      .collect().map(_.getLong(0)).toSet
    assert(got === (100L until 200L).toSet)
  }

  test("vacuum reclaims unreferenced dirs, keeps retained versions readable") {
    val t = fresh("vac")
    val v1 = VersionedTable.overwrite(spark, t,
      spark.range(100).select(col("id").as("k"), col("id").as("v")))
    VersionedTable.upsert(spark, t,
      spark.range(50).select(col("id").as("k"), (col("id") + 1000).as("v")), "k")
    VersionedTable.compact(spark, t, 1)
    val v4 = VersionedTable.compact(spark, t, 2)
    val before = VersionedTable.read(spark, t).collect().map(_.toSeq).toSet

    // default grace: retention (manifest dropping) applies, but
    // just-created DATA dirs are inside the window — vacuum must
    // reclaim no bytes yet (the guard that protects slow in-flight
    // stages from a vacuum racing them); their dirs become orphans a
    // later vacuum collects
    val graceRep = VersionedTable.vacuum(t, retain = 2)
    assert(graceRep.deletedDirs === 0,
      "dirs inside the grace window must survive")
    assert(graceRep.droppedVersions.contains(v1))

    val rep = VersionedTable.vacuum(t, retain = 2, graceMs = 0L)
    assert(rep.keptVersions === Seq(v4 - 1, v4))
    assert(rep.deletedDirs >= 1 && rep.deletedBytes > 0,
      "the pre-compaction dirs are unreferenced and must be reclaimed")
    // head unchanged; retained time travel works; dropped version errors
    assert(VersionedTable.read(spark, t).collect().map(_.toSeq).toSet === before)
    assert(VersionedTable.read(spark, t, Some(v4 - 1)).count() === 100)
    val e = intercept[IllegalArgumentException](VersionedTable.read(spark, t, Some(v1)))
    assert(e.getMessage.contains("vacuumed"))
    // filesForRange honors the same guard (it opens the manifest too)
    val e2 = intercept[IllegalArgumentException](
      VersionedTable.filesForRange(t, "k", 0, 10, Some(v1)))
    assert(e2.getMessage.contains("vacuumed"))
  }

  test("vacuum on an uncommitted table deletes nothing (all in-flight)") {
    val t = fresh("empty")
    val staged = java.nio.file.Paths.get(t, "data", "w-pending")
    java.nio.file.Files.createDirectories(staged)
    java.nio.file.Files.writeString(staged.resolve("part-0.parquet"), "pending")
    val rep = VersionedTable.vacuum(t, retain = 1, graceMs = 0L)
    assert(rep.deletedDirs === 0 &&
      java.nio.file.Files.exists(staged.resolve("part-0.parquet")),
      "a first commit's stage must survive a vacuum racing it")
  }

  test("vacuum preserves dirs staged after the head manifest (in-flight commits)") {
    val t = fresh("inflight")
    VersionedTable.overwrite(spark, t,
      spark.range(10).select(col("id").as("k")))
    VersionedTable.compact(spark, t, 1)
    // simulate an in-flight stage: a data dir NEWER than the head
    // manifest that no manifest references yet
    val staged = java.nio.file.Paths.get(t, "data", "a-inflight1")
    java.nio.file.Files.createDirectories(staged)
    java.nio.file.Files.writeString(staged.resolve("part-0.parquet"), "pending")
    // graceMs=0 so the newer-than-head-manifest guard is what saves it
    val rep = VersionedTable.vacuum(t, retain = 1, graceMs = 0L)
    assert(java.nio.file.Files.exists(staged.resolve("part-0.parquet")),
      "reference counting alone would delete an in-flight stage")
    assert(rep.keptVersions.size === 1)
  }

  test("vacuum deletes zone-map stats with their dirs; readRange post-vacuum stays exact") {
    val t = fresh("vacstats")
    for (lo <- Seq(0L, 1000L, 2000L)) {
      val df = spark.range(lo, lo + 500)
        .select(col("id").as("k"), (col("id") * 3).as("v"))
      if (lo == 0L) VersionedTable.overwrite(spark, t, df)
      else VersionedTable.append(spark, t, df)
    }
    def statsFiles(): Set[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get(t, "data")))(
        _.iterator().asScala.filter(_.getFileName.toString == "_stats.json").toSet)
    }
    val before = statsFiles()
    assert(before.size === 3, "every staged dir committed its zone maps")
    VersionedTable.compact(spark, t, 1)
    val rep = VersionedTable.vacuum(t, retain = 1, graceMs = 0L)
    assert(rep.deletedDirs === 3, "the three pre-compaction dirs are unreferenced")
    val after = statsFiles()
    // stats never outlive their data: dropped dirs took their
    // _stats.json with them, surviving dirs kept theirs
    assert(before.intersect(after).isEmpty, "no orphan stats for deleted dirs")
    assert(after.size === 1 && after.forall(java.nio.file.Files.exists(_)))
    // readRange over the vacuumed table neither crashes nor mis-skips
    val viaSkip = VersionedTable.readRange(spark, t, "k", 1100, 1200)
      .collect().map(_.toSeq).toSet
    val full = VersionedTable.read(spark, t)
      .filter(col("k").between(1100, 1200)).collect().map(_.toSeq).toSet
    assert(viaSkip === full && full.size === 101)
  }

  test("date and decimal zone maps skip files; residuals stay on native types") {
    val t = fresh("datedec")
    // three month-clustered appends carrying a DATE and a DECIMAL col
    for (m <- 1 to 3) {
      val df = spark.range((m - 1) * 100, m * 100)
        .select(col("id").as("k"),
          date_add(to_date(lit("2024-01-01")), (col("id")).cast("int")).as("d"),
          (col("id").cast("decimal(10,2)") * lit(1.5).cast("decimal(10,2)"))
            .cast("decimal(12,2)").as("amt"))
      if (m == 1) VersionedTable.overwrite(spark, t, df)
      else VersionedTable.append(spark, t, df)
    }
    // date probe: ids 100..199 -> days offset [100, 199] from 2024-01-01
    val d0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay
    val (kd, td) = VersionedTable.filesForRange(t, "d", (d0 + 100).toDouble, (d0 + 199).toDouble)
    assert(kd.nonEmpty && kd.size < td, s"date zone maps must skip (kept ${kd.size}/$td)")
    val gotD = VersionedTable.readRange(spark, t, "d", (d0 + 100).toDouble, (d0 + 199).toDouble)
    assert(gotD.count() === 100)
    // decimal probe: amt = k * 1.5, probe [150.00, 298.50] == ids 100..199
    val (kc, tc) = VersionedTable.filesForRange(t, "amt", 150d, 298.5d)
    assert(kc.nonEmpty && kc.size < tc, s"decimal zone maps must skip (kept ${kc.size}/$tc)")
    val gotC = VersionedTable.readRange(spark, t, "amt", 150d, 298.5d)
    assert(gotC.collect().map(_.getLong(0)).toSet === (100L until 200L).toSet)
    // boundary exactness: a probe equal to one commit's exact min/max
    // keeps every row of that commit (the ULP-widening guard, now on
    // the decoded date/decimal domains)
    assert(VersionedTable.readRange(spark, t, "d", (d0 + 100).toDouble, (d0 + 199).toDouble)
      .count() === 100)
  }

  test("changesBetween: append fast path reads ONLY the appended files; compaction yields an empty delta") {
    val t = fresh("cdcread")
    val v1 = VersionedTable.overwrite(spark, t,
      spark.range(0, 100).select(col("id").as("k"), (col("id") * 2).as("v")))
    val v2 = VersionedTable.append(spark, t,
      spark.range(100, 150).select(col("id").as("k"), (col("id") * 2).as("v")))
    val v3 = VersionedTable.append(spark, t,
      spark.range(150, 160).select(col("id").as("k"), (col("id") * 2).as("v")))
    // fast path: v1 -> v3 delta = the two appended batches, tagged insert
    val d = VersionedTable.changesBetween(spark, t, v1, v3)
    assert(d.filter(col("_change") === "insert").count() === 60)
    assert(d.filter(col("_change") === "delete").count() === 0)
    // ...and it READ only the appended files (no diff job over v1)
    val v1Files = VersionedTable.read(spark, t, Some(v1)).inputFiles.toSet
    assert(d.inputFiles.toSet.intersect(v1Files).isEmpty,
      "append fast path must not open the base snapshot's files")
    // same-version delta is empty
    assert(VersionedTable.changesBetween(spark, t, v2, v2).count() === 0)
    // compaction rewrites every file while changing no rows -> the
    // general (symmetric-difference) path must produce an EMPTY delta
    val v4 = VersionedTable.compact(spark, t, 1)
    assert(VersionedTable.changesBetween(spark, t, v3, v4).count() === 0)
    // an upsert's delta: updated key = delete(old) + insert(new)
    val v5 = VersionedTable.upsert(spark, t,
      spark.range(0, 5).select(col("id").as("k"), lit(-1L).as("v")), "k")
    val d2 = VersionedTable.changesBetween(spark, t, v4, v5)
    assert(d2.filter(col("_change") === "insert").count() === 5)
    assert(d2.filter(col("_change") === "delete").count() === 5)
  }

  test("changesBetween: MoR-delete fast path reads ONLY the tombstone-touched files") {
    val t = fresh("cdcmor")
    // three key-clustered commits -> three disjoint file groups
    val v1 = VersionedTable.overwrite(spark, t,
      spark.range(0, 100).select(col("id").as("k"), (col("id") * 2).as("v")))
    VersionedTable.append(spark, t,
      spark.range(100, 200).select(col("id").as("k"), (col("id") * 2).as("v")))
    val v3 = VersionedTable.append(spark, t,
      spark.range(200, 300).select(col("id").as("k"), (col("id") * 2).as("v")))
    // a narrow MoR delete inside the FIRST cluster only
    val v4 = VersionedTable.deleteMoR(spark, t, col("k") < 10)
    val d = VersionedTable.changesBetween(spark, t, v3, v4)
    assert(d.filter(col("_change") === "delete").count() === 10)
    assert(d.filter(col("_change") === "insert").count() === 0)
    assert(d.collect().map(_.getLong(0)).toSet === (0L until 10L).toSet)
    // scan evidence: the delta's DATA scan opens only the first
    // cluster's files (the fast path's whole point — no snapshot
    // symmetric difference; the dv-* parquet is the vector itself)
    val cluster1 = VersionedTable.read(spark, t, Some(v1)).inputFiles.toSet
    val dataScanned = d.inputFiles.toSet.filterNot(_.contains("/data/dv-"))
    assert(dataScanned.nonEmpty && dataScanned.subsetOf(cluster1),
      s"MoR fast path must open only tombstone-touched files, got $dataScanned")
    // two consecutive MoR deletes: the second interval's delta is only
    // ITS rows (a row is tombstoned at most once)
    val v5 = VersionedTable.deleteMoR(spark, t, col("k") < 20)
    val d2 = VersionedTable.changesBetween(spark, t, v4, v5)
    assert(d2.collect().map(_.getLong(0)).toSet === (10L until 20L).toSet)
    // and the cumulative interval spans both vectors
    assert(VersionedTable.changesBetween(spark, t, v3, v5)
      .filter(col("_change") === "delete").count() === 20)
  }

  test("schema evolution: appended columns merge at the head, time travel keeps the old schema") {
    val t = fresh("evolve")
    val v1 = VersionedTable.overwrite(spark, t,
      spark.range(0, 50).select(col("id").as("k"), (col("id") * 2).as("v")))
    VersionedTable.append(spark, t,
      spark.range(50, 80).select(col("id").as("k"), (col("id") * 2).as("v"),
        lit("new").as("tag")))
    val head = VersionedTable.read(spark, t)
    assert(head.columns.toSet === Set("k", "v", "tag"), "head resolves the union schema")
    assert(head.filter(col("tag").isNull).count() === 50,
      "pre-evolution rows read null for the added column")
    assert(head.filter(col("tag") === "new").count() === 30)
    val pinned = VersionedTable.read(spark, t, Some(v1))
    assert(pinned.columns.toSet === Set("k", "v"),
      "a version pinned before the evolution keeps the old schema")
    // zone maps survive evolution: probe on the original column spans
    // both schemas' files and stays exact
    val got = VersionedTable.readRange(spark, t, "k", 40, 60)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got === (40L to 60L).toSet)
  }

  test("string zone maps index escaped values and skip on lexicographic probes") {
    val t = fresh("stresc")
    // values containing the JSON-escape characters themselves
    val mk = (lo: Int, hi: Int, pfx: String) =>
      spark.range(lo, hi).select(col("id").as("k"),
        concat(lit(pfx), col("id").cast("string")).as("s"))
    VersionedTable.overwrite(spark, t, mk(0, 100, "a\\quote\"-"))
    VersionedTable.append(spark, t, mk(100, 200, "m-"))
    VersionedTable.append(spark, t, mk(200, 300, "z-"))
    val unbraced = VersionedTable.snapshotFiles(t).toSet
    VersionedTable.append(spark, t, mk(300, 400, "{brace}-"))
    val braced = VersionedTable.snapshotFiles(t).filterNot(unbraced).toSet
    val (kept, total) = VersionedTable.filesForRangeString(t, "s", "m", "m~")
    assert(kept.nonEmpty && kept.size < total,
      s"escaped string stats must still parse and skip (kept ${kept.size}/$total)")
    val got = VersionedTable.readRangeString(spark, t, "s", "m", "m~")
    assert(got.count() === 100)
    // the backslash/quote cluster is intact and probeable too
    assert(VersionedTable.readRangeString(spark, t, "s", "a", "a~").count() === 100)
    // brace-holding values carry bounds too: probes skip or keep them exactly
    assert(kept.toSet.intersect(braced).isEmpty, "a disjoint probe skips the brace files")
    assert(VersionedTable.filesForRangeString(t, "s", "{", "{~")._1.toSet === braced)
    assert(VersionedTable.readRangeString(spark, t, "s", "{", "{~").count() === 100)
  }

  test("readIndexed: a plain .filter() skips files inside Catalyst planning") {
    val t = fresh("autoidx")
    for (lo <- Seq(0L, 1000L, 2000L)) {
      val df = spark.range(lo, lo + 500)
        .select(col("id").as("k"), (col("id") * 2).as("v"),
          concat(lit(('a' + (lo / 1000).toInt).toChar.toString + "-"),
            col("id").cast("string")).as("s"))
      if (lo == 0L) VersionedTable.overwrite(spark, t, df)
      else VersionedTable.append(spark, t, df)
    }
    val all = scannedFiles(VersionedTable.read(spark, t))
    assert(all >= 3, "three commits stage at least three files")
    // numeric range: NO readRange call — the filter itself prunes
    val ranged = VersionedTable.read(spark, t).filter(col("k").between(1100, 1200))
    assert(ranged.collect().map(_.getLong(0)).toSet === (1100L to 1200L).toSet)
    assert(scannedFiles(ranged) < all, "planning must skip non-intersecting files")
    // equality probe prunes the same way
    assert(scannedFiles(VersionedTable.read(spark, t).filter(col("k") === 42)) < all)
    // string predicate prunes on the string zone maps
    val strd = VersionedTable.read(spark, t)
      .filter(col("s") >= "b" && col("s") < "b~")
    assert(strd.count() === 500)
    assert(scannedFiles(strd) < all)
    // a non-translatable predicate prunes nothing but stays exact
    val opaque = VersionedTable.read(spark, t).filter(col("k") % 7 === 0)
    assert(opaque.count() ===
      VersionedTable.read(spark, t).filter(col("k") % 7 === 0).count())
    assert(scannedFiles(opaque) === all)
    // IN-list envelope prunes (points all inside one commit's range)
    val inl = VersionedTable.read(spark, t).filter(col("k").isin(1101, 1150, 1199))
    assert(inl.collect().map(_.getLong(0)).toSet === Set(1101L, 1150L, 1199L))
    assert(scannedFiles(inl) < all, "IN envelope must prune the outer commits")
    // a long IN-list arrives as InSet — same envelope
    val inset = VersionedTable.read(spark, t)
      .filter(col("k").isin(1100L to 1120L: _*))
    assert(inset.count() === 21)
    assert(scannedFiles(inset) < all, "InSet envelope must prune")
    // string prefix probe: s values are '<era>-<id>' per commit
    val pre = VersionedTable.read(spark, t).filter(col("s").startsWith("b-1"))
    assert(pre.count() ===
      VersionedTable.read(spark, t).filter(col("s").startsWith("b-1")).count())
    assert(scannedFiles(pre) < all, "prefix interval must prune")
  }

  test("null-count zone maps: IS NULL / IS NOT NULL probes skip on committed null counts") {
    val t = fresh("nulls")
    // three commits: all-null v, fully populated v, mixed
    VersionedTable.overwrite(spark, t, spark.range(0, 300)
      .select(col("id").as("k"), lit(null).cast("long").as("v")))
    VersionedTable.append(spark, t, spark.range(300, 600)
      .select(col("id").as("k"), col("id").as("v")))
    VersionedTable.append(spark, t, spark.range(600, 900)
      .select(col("id").as("k"), when(col("id") % 3 === 0, col("id")).as("v")))
    val all = scannedFiles(VersionedTable.read(spark, t))
    // IS NULL skips the fully-populated commit's files
    val isNull = VersionedTable.read(spark, t).filter(col("v").isNull)
    assert(isNull.count() === 500)
    assert(scannedFiles(isNull) < all, "IS NULL must skip fully-populated files")
    // IS NOT NULL skips the all-null commit's files
    val notNull = VersionedTable.read(spark, t).filter(col("v").isNotNull)
    assert(notNull.count() === 400)
    assert(scannedFiles(notNull) < all, "IS NOT NULL must skip all-null files")
    // the isnotnull Catalyst INFERS from a comparison prunes the
    // all-null commit too — even though that commit has no [min, max]
    // interval for v at all (no non-null value to index)
    val cmp = VersionedTable.read(spark, t).filter(col("v") >= 0L)
    assert(cmp.count() === 400)
    assert(scannedFiles(cmp) < all,
      "inferred isnotnull must skip the interval-less all-null files")
    // COW delete of NULL rows rewrites only null-bearing files
    val before = VersionedTable.snapshotFiles(t).toSet
    VersionedTable.delete(spark, t, col("v").isNull)
    val after = VersionedTable.snapshotFiles(t).toSet
    assert(VersionedTable.read(spark, t).count() === 400)
    assert((before & after).nonEmpty,
      "the fully-populated commit's files must be carried by reference")
  }

  test("optimize: row-preserving layout rewrite that makes zone maps skip") {
    val t = fresh("optim")
    // interleaved keys: every staged file spans the whole key domain,
    // so pre-optimize probes skip nothing
    val df = spark.range(3000)
      .select((col("id") * 1049 % 3000).as("k"), (col("id") % 97).as("v"))
    val v1 = VersionedTable.overwrite(spark, t, df.repartition(6))
    val (kept0, tot0) = VersionedTable.filesForRange(t, "k", 0, 299)
    assert(kept0.size === tot0, "interleaved layout: nothing skippable")
    val v2 = VersionedTable.optimize(spark, t, Seq("k"), nFiles = 6)
    // layout changed, rows did not: empty CDC delta across the rewrite
    assert(VersionedTable.changesBetween(spark, t, v1, v2).count() === 0)
    // ... and the same probe now skips
    val (kept1, tot1) = VersionedTable.filesForRange(t, "k", 0, 299, Some(v2))
    assert(kept1.nonEmpty && kept1.size < tot1,
      s"sorted layout must skip (kept ${kept1.size}/$tot1)")
    assert(VersionedTable.readRange(spark, t, "k", 0, 299, Some(v2)).count() === 300)
    // snapshot isolation: the pre-optimize version is untouched
    assert(VersionedTable.read(spark, t, Some(v1)).count() === 3000)
  }

  test("optimize zorder: each dimension skips independently where lexicographic cannot") {
    val t = fresh("zorder")
    // a is near-unique -> a lexicographic (a, b) sort leaves every
    // file's b-interval spanning the whole domain; z-order must not
    val df = spark.range(4096).select(col("id").as("a"),
      ((col("id") * 2654435761L) % 4096).as("b"))
    VersionedTable.overwrite(spark, t, df.repartition(4))
    val vLex = VersionedTable.optimize(spark, t, Seq("a", "b"), nFiles = 16)
    val (keptLexB, totLex) = VersionedTable.filesForRange(t, "b", 0, 255, Some(vLex))
    assert(keptLexB.size === totLex,
      "lexicographic trap: b-probe scans everything under an (a, b) sort")
    val vZ = VersionedTable.optimize(spark, t, Seq("a", "b"), nFiles = 16, zorder = true)
    val (keptZA, totZ) = VersionedTable.filesForRange(t, "a", 0, 255, Some(vZ))
    val (keptZB, _) = VersionedTable.filesForRange(t, "b", 0, 255, Some(vZ))
    assert(keptZA.size < totZ, s"z-order a-probe must skip (kept ${keptZA.size}/$totZ)")
    assert(keptZB.size < totZ, s"z-order b-probe must skip (kept ${keptZB.size}/$totZ)")
    // semantics unchanged on both dimensions, including through the
    // automatic-skipping read path
    assert(VersionedTable.read(spark, t, Some(vZ))
      .filter(col("b").between(0, 255)).count() === 256)
    assert(VersionedTable.readRange(spark, t, "a", 0, 255, Some(vZ)).count() === 256)
    // nulls in a clustering column bin to the low edge, never crash
    val tn = fresh("zornull")
    val dfn = spark.range(512).select(
      when(col("id") % 7 === 0, null).otherwise(col("id")).as("a"),
      (col("id") % 31).as("b"))
    VersionedTable.overwrite(spark, tn, dfn)
    VersionedTable.optimize(spark, tn, Seq("a", "b"), nFiles = 4, zorder = true)
    assert(VersionedTable.read(spark, tn).count() === 512)
    // string columns are not z-orderable: explicit error, not silence
    val ts = fresh("zorstr")
    VersionedTable.overwrite(spark, ts,
      spark.range(10).select(col("id"), col("id").cast("string").as("s")))
    assertThrows[IllegalArgumentException] {
      VersionedTable.optimize(spark, ts, Seq("id", "s"), zorder = true)
    }
  }

  test("legacy manifests without a schema field still read via the mergeSchema fallback") {
    val t = fresh("legacy")
    VersionedTable.overwrite(spark, t,
      spark.range(0, 40).select(col("id").as("k"), (col("id") * 2).as("v")))
    val expected = VersionedTable.read(spark, t).collect().map(_.toSeq).toSet
    // strip the schema field from the committed manifest — the exact
    // shape every pre-round-7 manifest has on disk
    val mf = java.nio.file.Paths.get(t, "_commits/v00000001.json")
    val legacy = java.nio.file.Files.readString(mf).linesIterator
      .filterNot(_.contains("\"schema\"")).mkString("\n")
    java.nio.file.Files.writeString(mf, legacy)
    val again = VersionedTable.read(spark, t)
    assert(again.collect().map(_.toSeq).toSet === expected,
      "schema-less manifest reads identically through footer merging")
    assert(again.columns.toSet === Set("k", "v"))
  }

  test("streaming CDC through the commit log == batch collapse, replay-idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cdcv").toString
    val t = s"$dir/table"
    val log = core.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("ts_s"), col("value"),
        when(col("event_type") === "purchase", "delete").otherwise("upsert").as("op"))
    log.repartition(4).write.parquet(s"$dir/log")

    val stream = spark.readStream.schema(log.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/log")
    val q = Streams.cdcIngestVersioned(stream, t, s"$dir/ckpt")
    try q.processAllAvailable() finally q.stop()

    // one version per micro-batch — each a time-travelable snapshot
    val vs = VersionedTable.versions(t)
    assert(vs.size === 4, s"4 files -> 4 micro-batch commits, got $vs")
    // head == the batch q_cdc_apply collapse (same view shape)
    def view(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("op") === "upsert")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("ts_s").as("updated_s"), col("value").as("current_value"))
      .collect().map(_.toSeq).toSet
    val streamed = view(VersionedTable.read(spark, t))
    val batch = operators.ComplexTypes.qCdcApply(spark, sf).collect().map(_.toSeq).toSet
    assert(streamed === batch && batch.nonEmpty)
    // a checkpoint REPLAY of an already-applied batch adds a version
    // but cannot change the head's rows (LWW is a semilattice)
    val replayBatch = spark.read.parquet(s"$dir/log").limit(200)
    VersionedTable.merge(spark, t, replayBatch, Streams.cdcSnapshotMerge)
    assert(view(VersionedTable.read(spark, t)) === batch)
    // intermediate versions stay pinned: version 1 holds only batch 1's keys
    assert(VersionedTable.read(spark, t, Some(1L)).count() <=
      VersionedTable.read(spark, t, Some(4L)).count())
  }

  test("nested-struct zone maps: plain filters on struct fields skip files; arrays stay unindexed") {
    val t = fresh("zonenested")
    // three band-clustered commits; the indexed value lives INSIDE a
    // struct, next to an ARRAY column whose element stats must NOT be
    // written (repeated path — per-element intervals cannot serve row
    // predicates)
    for (lo <- Seq(0L, 1000L, 2000L)) {
      val df = spark.range(lo, lo + 500).select(
        col("id").as("k"),
        struct((col("id") * 2).as("m"),
          concat(lit("s-"), col("id").cast("string")).as("tag"),
          when(col("id") % 5 === 0, col("id")).as("opt")).as("info"),
        array(col("id"), col("id") + 1).as("arr"))
      if (lo == 0L) VersionedTable.overwrite(spark, t, df)
      else VersionedTable.append(spark, t, df)
    }
    val all = scannedFiles(VersionedTable.read(spark, t))
    assert(all >= 3)
    // numeric nested range: the GetStructField chain translates to the
    // dotted interval and planning skips the outer commits
    val ranged = VersionedTable.read(spark, t)
      .filter(col("info.m").between(2200, 2400))
    assert(ranged.collect().map(_.getLong(0)).toSet === (1100L to 1200L).toSet)
    assert(scannedFiles(ranged) < all, "nested numeric range must skip files")
    // nested string prefix probes the same way
    val pre = VersionedTable.read(spark, t)
      .filter(col("info.tag").startsWith("s-11"))
    val preWant = VersionedTable.read(spark, t)
      .filter(col("info.tag").startsWith("s-11")).count()
    assert(preWant > 0 && pre.count() === preWant)
    assert(scannedFiles(pre) < all, "nested string prefix must skip files")
    // nested IS NOT NULL prunes nothing here (every file mixes nulls)
    // but stays EXACT; IS NULL over a fully-populated nested field
    // skips via the leaf null counts — probe the explicit API
    val (keptN, totalN) = VersionedTable.filesForNullness(t, "info.m", wantNull = true)
    assert(keptN.size < totalN, "a never-null nested field's IS NULL probe skips everything")
    // ARRAY columns: no stats written, filters stay correct and unpruned
    val arrF = VersionedTable.read(spark, t)
      .filter(element_at(col("arr"), 1) === 1200L)
    assert(arrF.count() === 1)
    assert(scannedFiles(arrF) === all, "array predicates prune nothing (unindexed by design)")
    // and the stats file itself must carry no array-element keys
    val statsTxt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(t).resolve(
        VersionedTable.snapshotFiles(t).head).getParent.resolve("_stats.json"))
    assert(statsTxt.contains("info.m") && !statsTxt.contains("arr"),
      s"stats must index nested struct leaves and exclude repeated paths: $statsTxt")
  }
}
