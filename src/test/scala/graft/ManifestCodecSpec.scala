package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CatEntry, CatalogManifest, FileStats, Manifest, ManifestCodec}

/** The commit-log codec without a SparkSession: every string field of
  * the three records round-trips adversarial values, and text written
  * by the earlier hand-rolled writers (the fixtures under
  * `resources/graft/manifest-fixture`, copied verbatim from tables
  * they wrote) decodes to the values those writers were given.
  */
class ManifestCodecSpec extends AnyFunSuite {

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  // JSON and regex metacharacters, control characters, non-ASCII
  // (BMP and beyond) and the empty string
  private val nasty: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.oneOf("\"", "\\", "]", "[", "}", "{", ",", ":", "\n", "\t", "\r", "\u0000",
      "\\\"", "é", "中", " ", "😀", "txnApp", "#rows"),
    4 -> Gen.alphaNumChar.map(_.toString),
    1 -> Gen.choose(0x20, 0xD7FF).map(c => new String(Character.toChars(c))))).map(_.mkString)

  private val pairs = Gen.listOf(Gen.zip(nasty, nasty))
  private val finite = Gen.choose(-1e300, 1e300)

  private val manifests: Gen[Manifest] = for {
    v <- Gen.choose(0L, Long.MaxValue)
    op <- nasty
    ts <- Gen.option(Gen.choose(0L, Long.MaxValue))
    txns <- Gen.listOf(Gen.zip(nasty, Gen.choose(0L, Long.MaxValue)))
    cons <- pairs
    ren <- Gen.mapOf(Gen.zip(nasty, nasty))
    parts <- Gen.listOf(nasty)
    colMap <- nasty
    bloom <- Gen.listOf(Gen.zip(nasty, Gen.choose(1e-9, 0.5)))
    schema <- Gen.option(nasty)
    files <- Gen.listOf(nasty)
    dvs <- Gen.listOf(nasty)
  } yield Manifest(v, 1, op, ts, txns, cons, ren, parts, colMap, bloom, schema, files, dvs)

  private val catalogs: Gen[CatalogManifest] = for {
    v <- Gen.choose(0L, Long.MaxValue)
    op <- nasty
    ts <- Gen.option(Gen.choose(0L, Long.MaxValue))
    txns <- Gen.listOf(Gen.zip(nasty, Gen.choose(0L, Long.MaxValue)))
    entries <- Gen.listOf(Gen.zip(nasty, Gen.choose(0L, Long.MaxValue), nasty)
      .map { case (t, tv, m) => CatEntry(t, tv, m) })
  } yield CatalogManifest(v, 1, op, ts, txns, entries)

  // stats columns never start with '#' (Spark cannot write such a
  // column name); numeric and string columns are disjoint by type
  private val col = nasty.map("c" + _)
  private val stats: Gen[Seq[(String, FileStats)]] = Gen.listOf(for {
    file <- nasty
    rows <- Gen.option(Gen.choose(0L, Long.MaxValue))
    num <- Gen.mapOf(Gen.zip(col.map("n" + _), Gen.zip(finite, finite)))
    str <- Gen.mapOf(Gen.zip(col.map("s" + _), Gen.zip(nasty, nasty)))
    nulls <- Gen.mapOf(Gen.zip(nasty, Gen.choose(0L, Long.MaxValue)))
  } yield file -> FileStats(rows, num, str, nulls)).map(_.toMap.toSeq)

  test("manifests round-trip adversarial names and values") {
    checkProp(Prop.forAll(manifests) { m =>
      ManifestCodec.decodeManifest(ManifestCodec.encode(m), "m") == m
    })
  }

  test("catalog manifests round-trip, embedded manifest text included") {
    checkProp(Prop.forAll(catalogs) { c =>
      ManifestCodec.decodeCatalog(ManifestCodec.encodeCatalog(c), "c") == c
    })
  }

  test("_stats.json round-trips adversarial file names, columns and bounds") {
    checkProp(Prop.forAll(stats) { s =>
      ManifestCodec.decodeStats(ManifestCodec.encodeStats(s)) == s.toMap
    })
  }

  test("a manifest from a newer format is refused at decode") {
    val e = intercept[IllegalArgumentException] {
      ManifestCodec.decodeManifest("""{"version": 2, "format": 99, "files": []}""", "v2")
    }
    assert(e.getMessage.contains("format 99"), e.getMessage)
  }

  private def fixture(name: String): String =
    scala.util.Using.resource(scala.io.Source.fromResource(s"graft/manifest-fixture/$name",
      getClass.getClassLoader)(scala.io.Codec.UTF8))(_.mkString)

  private val cons = Seq("c\"1]" -> "k >= 0\nAND s != 'q\\\\\"]}'")
  private val renamed = "n\"e\\w]}é"
  private val fileV1 = (0 to 1).flatMap(pv => (0 to 3).map(i =>
    s"data/w-ba796786/p%5Dq__pv=$pv/part-0000$i-190fd0d6-5297-4f47-a67b-5d14f2a80302.c000.snappy.parquet"))
  private val appended = (0 to 3).map(i =>
    s"data/a-31ae20c6/part-0000$i-c0c9e048-e36c-489f-8c9d-b193917516c8-c000.snappy.parquet")

  test("manifests written by the earlier writer decode to the values it was given") {
    val v1 = ManifestCodec.decodeManifest(fixture("manifest-v1.json"), "v1")
    assert((v1.version, v1.op, v1.ts) === ((1L, "overwrite", Some(1792388034065L))))
    assert(v1.partitionBy === Seq("p]q"), "a partition column holding ']'")
    assert(v1.structType.get.fieldNames.toSeq === Seq("k", "p]q", "s", "x"))
    assert(v1.files === fileV1)
    assert(v1.constraints.isEmpty && v1.renames.isEmpty && v1.bloomBy.isEmpty && v1.dvs.isEmpty)

    val v5 = ManifestCodec.decodeManifest(fixture("manifest-txn.json"), "v5")
    assert((v5.version, v5.op) === ((5L, "append")))
    assert(v5.txns === Seq("app\"\\]}" -> 7L), "the one-watermark form")
    assert(v5.constraints === cons, "raw newline, quotes, backslashes and ']' in a CHECK")
    assert(v5.renames === Map("x" -> renamed))
    assert(v5.bloomBy === Seq("k" -> 0.01))
    assert(v5.files === fileV1 ++ appended)

    val v6 = ManifestCodec.decodeManifest(fixture("manifest.json"), "v6")
    assert((v6.version, v6.op, v6.txns) === ((6L, "delete", Nil)))
    assert(v6.constraints === cons && v6.renames === Map("x" -> renamed))
    assert(v6.structType.get.fieldNames.toSeq === Seq("k", "p]q", "s", renamed))
    assert(v6.files === fileV1 ++ appended)
    assert(v6.dvs ===
      Seq("data/dv-e980fea6/part-00000-514c5a30-9ba0-4b0e-87c7-de093bd89d28-c000.snappy.parquet"))

    val many = ManifestCodec.decodeManifest(fixture("manifest-txns.json"), "v1")
    assert(many.txns === Seq("l\"eft" -> 4L, "right]" -> 9L), "the txns-array form")
  }

  test("a catalog manifest written by the earlier writer decodes, embedded manifest intact") {
    val c = ManifestCodec.decodeCatalog(fixture("catalog.json"), "c1")
    assert((c.version, c.op, c.txns) === ((1L, "multi_commit", Seq("cat\"app" -> 3L))))
    val Seq(e) = c.entries
    assert((e.table, e.tversion) === (("tmp/manifest-fixture/v", 2L)))
    val member = ManifestCodec.decodeManifest(e.manifest, "member")
    assert((member.version, member.op, member.files.size) === ((2L, "append", 5)))
  }

  test("_stats.json written by the earlier writer decodes to the same bounds") {
    val st = ManifestCodec.decodeStats(fixture("stats.json"))
    val f0 = st("part-00000-190fd0d6-5297-4f47-a67b-5d14f2a80302.c000.snappy.parquet")
    assert(f0.rows === Some(3L))
    assert(f0.num === Map("k" -> ((-4.9e-324, 4.000000000000001)),
      "x" -> ((2.9999999999999996, 6.000000000000001))))
    assert(f0.str === Map("p]q" -> (("0", "0"))))
    assert(f0.nulls === Map("k" -> 0L, "p]q" -> 0L, "s" -> 0L, "x" -> 1L))
    assert(st.size === 4 && st.values.forall(_.rows.nonEmpty))
    val Seq((_, s)) = ManifestCodec.decodeStats(fixture("stats-str.json")).toSeq
    assert(s.str === Map("s" -> (("q\\\"]x-0", "q\\\"]x-9"))), "escaped string bounds")
    assert(s.rows === Some(10L) && s.num.keySet === Set("k"))
  }
}
