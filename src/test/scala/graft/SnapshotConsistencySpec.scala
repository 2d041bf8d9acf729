package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{CommitStore, InMemoryCommitStore, LocalLinkCommitStore, MaterializedViewOps,
  VersionedTableOps}

/** A [[CommitStore]] that delegates everything to `inner` and, once
  * armed, runs a hook right after the next manifest read under a
  * `_commits` directory — the window in which a concurrent writer
  * lands between an operation's first read of the commit log and any
  * later one.
  */
final class RacingCommitStore(inner: CommitStore) extends CommitStore {
  @volatile private var hook: Option[() => Unit] = None

  /** Run `f` once, after the next manifest read. */
  def afterNextManifestRead(f: => Unit): Unit = hook = Some(() => f)

  override def list(dir: Path): Seq[String] = inner.list(dir)

  override def read(dir: Path, name: String): String = {
    val content = inner.read(dir, name)
    if (dir.getFileName.toString == "_commits") hook.foreach { f => hook = None; f() }
    content
  }

  override def putIfAbsent(dir: Path, name: String, content: String): Boolean =
    inner.putIfAbsent(dir, name, content)
  override def delete(dir: Path, name: String): Unit = inner.delete(dir, name)
  override def exists(dir: Path, name: String): Boolean = inner.exists(dir, name)
  override def modifiedMs(dir: Path, name: String): Long = inner.modifiedMs(dir, name)
  override def renameDir(from: Path, to: Path): Unit = inner.renameDir(from, to)
}

/** One table operation reads ONE snapshot of the commit log: a commit
  * that lands after the operation resolved its version is invisible
  * to it. Each case injects that commit, through the same ops, right
  * after the operation's first manifest read. Backend-abstract like
  * the VersionedTable battery.
  */
abstract class SnapshotConsistencyBattery(backend: String, inner: CommitStore)
    extends SparkSpec {

  private val store = new RacingCommitStore(inner)
  private val ops = new VersionedTableOps(store)

  private def freshTable(name: String): String = {
    val p = s"tmp/snapshot-test/$backend/$name"
    val root = Paths.get(p)
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(root))(
        _.iterator().asScala.toSeq.reverse.foreach(Files.delete))
    }
    p
  }

  private def rows(from: Long, to: Long) = spark.range(from, to).select(
    col("id").as("k"), format_string("s%04d", col("id")).as("s"))

  /** k in [0, 100) over several files, then a merge-on-read delete of
    * every k divisible by 10 — a head whose deletion vectors a later
    * compaction purges.
    */
  private def seeded(name: String): String = {
    val t = freshTable(name)
    ops.overwrite(spark, t, rows(0, 100).repartition(4))
    ops.deleteMoR(spark, t, col("k") % 10 === 0L)
    assert(ops.deletionVectors(t).nonEmpty)
    t
  }

  test(s"[$backend] readRange reads its kept files through the snapshot it pruned with") {
    val t = seeded("range")
    val want = ops.read(spark, t).filter(col("k").between(0L, 49L)).collect().toSet
    store.afterNextManifestRead { ops.compact(spark, t) }
    val got = ops.readRange(spark, t, "k", 0d, 49d).collect().toSet
    assert(ops.deletionVectors(t).isEmpty, "the compaction landed mid-read")
    assert(got === want, "the pre-compaction head's rows, its deletes applied")
  }

  test(s"[$backend] readRangeString reads its kept files through the snapshot it pruned with") {
    val t = seeded("range-string")
    val want = ops.read(spark, t).filter(col("s").between("s0000", "s0049")).collect().toSet
    store.afterNextManifestRead { ops.compact(spark, t) }
    val got = ops.readRangeString(spark, t, "s", "s0000", "s0049").collect().toSet
    assert(ops.deletionVectors(t).isEmpty, "the compaction landed mid-read")
    assert(got === want, "the pre-compaction head's rows, its deletes applied")
  }

  test(s"[$backend] a no-op delete returns the version it planned against") {
    val t = seeded("noop")
    val base = ops.versions(t).last
    store.afterNextManifestRead { ops.append(spark, t, rows(1000, 1005)) }
    val v = ops.delete(spark, t, col("k") >= 1000L)
    assert(ops.versions(t).last === base + 1, "the racing append landed")
    assert(v === base, "a no-op reports the base it saw, not the racing head")
    assert(ops.read(spark, t).filter(col("k") >= 1000L).count() === 5,
      "rows the plan never saw are not deleted")
  }

  test(s"[$backend] a caught-up refresh returns the view version whose cursor it checked") {
    val src = seeded("mv-src")
    val view = freshTable("mv-view")
    val mv = new MaterializedViewOps(ops)
    val checked = mv.refresh(spark, view, src, Seq("s"), Seq("k"))
    store.afterNextManifestRead { ops.compact(spark, view) }
    val v = mv.refresh(spark, view, src, Seq("s"), Seq("k"))
    assert(ops.versions(view).last === checked + 1, "the racing view commit landed")
    assert(v === checked, "the refresh reports the view head it read its cursor from")
  }
}

class SnapshotConsistencySpec
  extends SnapshotConsistencyBattery("link", LocalLinkCommitStore)

class SnapshotConsistencyObjectStoreSpec
  extends SnapshotConsistencyBattery("objectstore", new InMemoryCommitStore)
