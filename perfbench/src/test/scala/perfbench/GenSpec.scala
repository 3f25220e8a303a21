package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val text = TextShape(files = 3, tokens = 3000, vocab = 500, zipfS = 1.1, oneOffShare = 0.4)
  private val docs = DocShape(docs = 40, words = 50, vocab = 300, zipfS = 1.1, dupShare = 0.3, subShare = 0.05)

  private def tmp(): Path = {
    val d = Files.createTempDirectory("perfbench-gen")
    graft.TempDirs.deleteAtExit(d)
    d
  }

  /** File name -> bytes of every file under `dir`. */
  private def contents(dir: Path): Map[String, Seq[Byte]] =
    Files.list(dir).iterator().asScala
      .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap

  private def textCorpus(seed: Long): Map[String, Seq[Byte]] = {
    val d = tmp()
    new Gen(seed).textCorpus(d, text)
    contents(d)
  }

  private def parquet(seed: Long): Map[String, Seq[Byte]] = {
    val d = tmp()
    Gen.writeParquet(d.resolve("docs.parquet"), new Gen(seed).docCorpus(docs)._1)
    contents(d)
  }

  test("the same seed gives byte-identical text files") {
    val a = textCorpus(7)
    assert(a.keySet == Set("part-00000.txt", "part-00001.txt", "part-00002.txt"))
    assert(a == textCorpus(7))
  }

  test("another seed gives different text files") {
    assert(textCorpus(7) != textCorpus(8))
  }

  test("the same seed gives a byte-identical parquet corpus, another seed a different one") {
    assert(parquet(7) == parquet(7))
    assert(parquet(7) != parquet(8))
  }

  test("text corpus has the requested token count and one-off identifiers") {
    val d = tmp()
    new Gen(3).textCorpus(d, text)
    val raw = Files.list(d).iterator().asScala
      .map(f => new String(Files.readAllBytes(f), "US-ASCII")).mkString(" ")
    assert(raw.split("[\\t\\n\\x0B\\f\\r ]+").count(_.nonEmpty) == text.tokens)
    val counts = Ref.countDir(d).asScala
    // 11-letter words are the one-off identifiers; vocabulary words are shorter
    val ids = counts.filter(_._1.length == 11)
    assert(ids.nonEmpty && ids.values.forall(_ == 1L))
    assert(ids.size > text.tokens * text.oneOffShare * 0.7)
  }

  test("planted copies are near-duplicates of an earlier document") {
    val (texts, planted) = new Gen(5).docCorpus(docs)
    assert(texts.length == docs.docs && planted > 0)
    val sh = texts.map(Ref.shingles(_, 3))
    assert(Ref.exactPairs(sh, 1, 2).nonEmpty)
  }
}
