package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class RefSpec extends AnyFunSuite {
  private def words(s: String): Seq[String] = Ref.wordList(s).toSeq

  test("tokenizer follows the reference rules") {
    assert(words("Hello, world") == Seq("hello", "world"))
    assert(words("co-op") == Seq("co"))
    assert(words("don't") == Seq("don't"))
    assert(words("the 3rd one") == Seq("the", "one"))
    assert(words("[a]\\b^c_d`e") == Seq("[a]\\b^c_d`e"))
    assert(words("up\u000bdown\tleft\fright\r\nend") == Seq("up", "down", "left", "right", "end"))
    assert(words("  --  ... 42 ") == Nil)
    assert(words("MiXeD") == Seq("mixed"))
  }

  private def dir(files: (String, String)*): Path = {
    val d = Files.createTempDirectory("perfbench-ref")
    graft.TempDirs.deleteAtExit(d)
    files.foreach { case (n, body) => Files.write(d.resolve(n), body.getBytes("US-ASCII")) }
    d
  }

  test("countDir merges counts across files") {
    val counts = Ref.countDir(dir("a.txt" -> "The cat, the\u000bdog.", "b.txt" -> "the 2nd Cat"))
    assert(counts.asScala == Map("the" -> 3L, "cat" -> 2L, "dog" -> 1L))
  }

  test("parseSharded reads part files and skips markers and checksums") {
    val d = dir("part-00000-x.txt" -> "apple 3\nbanana 1\n", "part-00001-x.txt" -> "cherry 2\n",
      "_SUCCESS" -> "", ".part-00000-x.txt.crc" -> "junk")
    assert(Ref.parseSharded(d).asScala == Map("apple" -> 3L, "banana" -> 1L, "cherry" -> 2L))
  }

  test("parseSharded rejects malformed lines, repeated words and unsorted shards") {
    intercept[IllegalArgumentException](Ref.parseSharded(dir("part-0" -> "apple3\n")))
    intercept[NumberFormatException](Ref.parseSharded(dir("part-0" -> "apple x\n")))
    intercept[IllegalArgumentException](Ref.parseSharded(dir("part-0" -> "a 1\n", "part-1" -> "a 2\n")))
    intercept[IllegalArgumentException](Ref.parseSharded(dir("part-0" -> "b 1\na 2\n")))
  }

  test("exactPairs matches a brute-force Jaccard scan") {
    val (texts, _) = new Gen(11).docCorpus(DocShape(60, 40, 200, 1.1, 0.4, 0.05))
    val sh = texts.map(Ref.shingles(_, 3))
    val brute = (for (a <- sh.indices; b <- sh.indices if a < b) yield (a, b)).filter { case (a, b) =>
      val i = Ref.intersect(sh(a), sh(b)).toLong
      i * 5 > (sh(a).length + sh(b).length - i) * 4
    }.toSet
    assert(brute.nonEmpty)
    assert(Ref.exactPairs(sh, 4, 5) == brute)
  }

  test("components label every node with its component's minimum id") {
    assert(Ref.components(Seq(5L -> 9L, 9L -> 2L, 7L -> 8L)) ==
      Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 7L -> 7L, 8L -> 7L))
  }
}
