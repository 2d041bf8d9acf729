package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.core.MapReduce

/** Parity with the reference's word count and number sort on a corpus
  * built inside the test from a fixed seed, so it runs on any host.
  * The expected output is an independent restatement of the reference:
  * `do_map` splits a line on ' ', keeps each token's ASCII letters and
  * lowercases them, dropping empties; `do_merge` orders (word, count)
  * by count, then word, both descending; `do_sort_merge` writes one
  * ascending file. Both jobs run through `mergeToSingleFile`, whose one
  * CSV file must hold exactly those lines under its header.
  */
class HermeticParitySpec extends SparkSpec {

  private def write(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), lines.map(_ + "\n").mkString.getBytes("UTF-8"))

  /** The lines of the one CSV file `mergeToSingleFile` wrote to `out`. */
  private def singleFile(out: Path): Seq[String] = {
    val parts = scala.util.Using.resource(Files.list(out))(
      _.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toList)
    assert(parts.size === 1, s"the merge must leave one file, found $parts")
    Files.readAllLines(parts.head).asScala.toSeq
  }

  private def doMap(line: String): Seq[String] =
    line.split(' ').toSeq
      .map(_.filter(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')))
      .map(_.map(c => if (c <= 'Z') (c + 32).toChar else c))
      .filter(_.nonEmpty)

  private def doMerge(words: Seq[String]): Seq[String] =
    words.groupBy(identity).toSeq.map { case (w, ws) => (w, ws.size) }
      .sortWith { case ((wa, ca), (wb, cb)) => if (ca != cb) ca > cb else wa.compareTo(wb) > 0 }
      .map { case (w, c) => s"$w,$c" }

  test("wordCount through mergeToSingleFile matches do_map and do_merge on a seeded corpus") {
    val rnd = new scala.util.Random(7L)
    val in = Files.createTempDirectory("graft-parity-text")
    val vocab = (0 until 60).map { i =>
      Iterator.continually(('a' + rnd.nextInt(26)).toChar).take(2 + i % 5).mkString
    }.filterNot(Set("tie", "tied"))
    // every decoration the tokenizer must undo: upper case, digits and
    // punctuation inside and around a word, tokens that vanish, runs of
    // separators at either end of a line
    def token(): String = {
      val w = vocab((rnd.nextDouble() * rnd.nextDouble() * vocab.size).toInt)
      rnd.nextInt(8) match {
        case 0 => w.toUpperCase(java.util.Locale.ROOT)
        case 1 => w.capitalize + "."
        case 2 => w.take(1) + rnd.nextInt(100) + w.drop(1)
        case 3 => "\"" + w + "\","
        case 4 => "'" + w + "'s!"
        case 5 => Seq("42", "--", "3.14", "(!)")(rnd.nextInt(4))
        case _ => w
      }
    }
    for (f <- 0 until 4)
      write(in, s"part$f.txt", Seq.fill(150) {
        val sep = if (rnd.nextInt(5) == 0) "  " else " "
        (if (rnd.nextInt(6) == 0) " " else "") + Seq.fill(1 + rnd.nextInt(12))(token()).mkString(sep)
      } :+ "")
    // a word tied with its prefix: the longer one sorts first
    write(in, "ties.txt", Seq("tie tied", "Tied, TIE.", "t1ie tie9d"))
    write(in, "empty.txt", Nil)

    val corpus = scala.util.Using.resource(Files.list(in))(_.iterator().asScala.toList)
      .flatMap(p => Files.readAllLines(p).asScala)
    val want = doMerge(corpus.flatMap(doMap))
    assert(want.exists(_.startsWith("tied,3")) && want.exists(_.startsWith("tie,3")))
    assert(want.indexOf("tied,3") === want.indexOf("tie,3") - 1)

    val out = Files.createTempDirectory("graft-parity-out").resolve("wordcount")
    MapReduce.mergeToSingleFile(MapReduce.wordCount(spark, in.toString), out.toString)
    val got = singleFile(out)
    assert(got.head === "word,cnt")
    assert(got.tail === want)
  }

  test("numberSort through mergeToSingleFile matches do_sort_merge on seeded numbers") {
    val rnd = new scala.util.Random(8L)
    val in = Files.createTempDirectory("graft-parity-nums")
    val all = Seq.newBuilder[Int]
    for (f <- 0 until 4)
      write(in, s"nums$f.txt", Seq.fill(200) {
        val row = Seq.fill(1 + rnd.nextInt(10))(rnd.nextInt(2000001) - 1000000)
        all ++= row
        (if (rnd.nextInt(4) == 0) "  " else "") + row.mkString(if (rnd.nextBoolean()) " " else "   ")
      } :+ "")
    write(in, "extremes.txt", Seq(s"${Int.MinValue} -1 0 ${Int.MaxValue}", "-7 -7"))
    all ++= Seq(Int.MinValue, -1, 0, Int.MaxValue, -7, -7)
    write(in, "empty.txt", Nil)
    val want = all.result().sorted.map(_.toString)
    assert(want.head === Int.MinValue.toString && want.count(_ == "-7") >= 2)

    val out = Files.createTempDirectory("graft-parity-out").resolve("numbersort")
    MapReduce.mergeToSingleFile(MapReduce.numberSort(spark, in.toString), out.toString)
    val got = singleFile(out)
    assert(got.head === "n")
    assert(got.tail === want)
  }
}
