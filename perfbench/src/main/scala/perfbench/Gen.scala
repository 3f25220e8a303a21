package perfbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** What one generated input holds, recorded beside it. `tokens` and
  * `distinctWords` count words that survive the tokenizer
  * ([[Ref]]); `plantedPairs` counts near-duplicate copies.
  */
final case class InputProps(files: Int, bytes: Long, tokens: Long,
                            distinctWords: Long, plantedPairs: Int)

/** Shape of a word-count corpus: `tokens` whitespace tokens drawn from a
  * Zipf(`zipfS`) vocabulary of `vocab` words, except that a share
  * `oneOffShare` are identifiers that occur exactly once, spread evenly
  * over `files` files.
  */
final case class TextShape(files: Int, tokens: Int, vocab: Int, zipfS: Double,
                           oneOffShare: Double)

/** Shape of a near-duplicate document corpus: `docs` documents of
  * `words` words; a share `dupShare` are copies of an earlier original
  * document with each word substituted with probability `subShare`.
  */
final case class DocShape(docs: Int, words: Int, vocab: Int, zipfS: Double,
                          dupShare: Double, subShare: Double)

/** Seeded, single-threaded input generator. Everything is derived from
  * one `SplittableRandom(seed)`, so the same seed and shape give
  * byte-identical files on any JVM.
  *
  * Tokens carry the decorations the tokenizer must undo: 10% are
  * capitalised, 10% carry trailing punctuation or a hyphenated tail
  * (`co-op` counts as `co`), 1% start with a digit (dropped), and
  * separators include tabs, vertical tabs, form feeds and CRLF.
  */
final class Gen(seed: Long) {
  private val rng = new SplittableRandom(seed)

  /** `n` distinct lowercase vocabulary words of 2 to 9 characters, a few
    * with an apostrophe or one of the kept symbols ``[\]^_` `` inside.
    */
  def vocabulary(n: Int): Array[String] = {
    val seen = new java.util.HashSet[String](n * 2)
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val len = 2 + rng.nextInt(8)
      val sb = new java.lang.StringBuilder(len)
      var j = 0
      while (j < len) { sb.append(('a' + rng.nextInt(26)).toChar); j += 1 }
      val r = rng.nextInt(100)
      if (r < 3) sb.setCharAt(1 + rng.nextInt(len - 1), '\'')
      else if (r < 4) sb.setCharAt(rng.nextInt(len), "[\\]^_`".charAt(rng.nextInt(6)))
      val w = sb.toString
      if (seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  /** Inverse-CDF sampler over ranks 0 until n with P(k) ∝ 1/(k+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val c = new Array[Double](n)
      var acc = 0.0
      var k = 0
      while (k < n) { acc += math.pow(k + 1.0, -s); c(k) = acc; k += 1 }
      k = 0
      while (k < n) { c(k) /= acc; k += 1 }
      c
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val Punct = Array(",", ".", ";", ":", "!", "?", ")", "\"", "-op", "-in")

  /** Appends `word` as a raw token with the decorations described above. */
  private def token(sb: java.lang.StringBuilder, word: String): Unit = {
    val r = rng.nextInt(100)
    if (r == 0) { sb.append(rng.nextInt(100)).append(word); return }
    if (r < 11) sb.append(Character.toUpperCase(word.charAt(0))).append(word, 1, word.length)
    else sb.append(word)
    if (rng.nextInt(10) == 0) sb.append(Punct(rng.nextInt(Punct.length)))
  }

  private def separator(sb: java.lang.StringBuilder, col: Int): Unit =
    if (col % 12 == 11) sb.append(if (rng.nextInt(20) == 0) "\r\n" else "\n")
    else rng.nextInt(200) match {
      case 0 => sb.append('\t')
      case 1 => sb.append('\u000b')
      case 2 => sb.append('\f')
      case 3 => sb.append("  ")
      case _ => sb.append(' ')
    }

  /** A one-off identifier: 11 base-26 letters of a counter, longer than
    * any vocabulary word, so each occurs exactly once.
    */
  private def oneOff(i: Long, offset: Long): String = {
    val c = new Array[Char](11)
    var v = i + offset
    var k = 10
    while (k >= 0) { c(k) = ('a' + (v % 26)).toChar; v /= 26; k -= 1 }
    new String(c)
  }

  /** Writes a text corpus as `part-NNNNN.txt` files under `dir`. */
  def textCorpus(dir: Path, shape: TextShape): Unit = {
    Files.createDirectories(dir)
    val vocab = vocabulary(shape.vocab)
    val zipf = new Zipf(shape.vocab, shape.zipfS)
    // 26^11 ≈ 3.7e15, so offset + counter never wraps to a shorter string
    val offset = rng.nextLong(1000000000000000L)
    var ids = 0L
    var f = 0
    while (f < shape.files) {
      val n = shape.tokens / shape.files + (if (f < shape.tokens % shape.files) 1 else 0)
      val sb = new java.lang.StringBuilder(n * 8)
      var t = 0
      while (t < n) {
        if (rng.nextDouble() < shape.oneOffShare) { token(sb, oneOff(ids, offset)); ids += 1 }
        else token(sb, vocab(zipf.next()))
        separator(sb, t)
        t += 1
      }
      Files.write(dir.resolve(f"part-$f%05d.txt"), sb.toString.getBytes(US_ASCII))
      f += 1
    }
  }

  /** The documents of a near-duplicate corpus; returns the texts (doc_id
    * is the index) and the number of planted copies. A copy keeps the
    * source's tokens as written, decorations included. Copies are made
    * of originals only, so near-duplicate clusters are stars whose
    * diameter, and with it the number of connected-components rounds,
    * does not vary with the seed.
    */
  def docCorpus(shape: DocShape): (Array[String], Int) = {
    val vocab = vocabulary(shape.vocab)
    val zipf = new Zipf(shape.vocab, shape.zipfS)
    def fresh(): String = { val sb = new java.lang.StringBuilder; token(sb, vocab(zipf.next())); sb.toString }
    val tokens = new Array[Array[String]](shape.docs)
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int]
    var planted = 0
    var d = 0
    while (d < shape.docs) {
      tokens(d) =
        if (originals.nonEmpty && rng.nextDouble() < shape.dupShare) {
          planted += 1
          tokens(originals(rng.nextInt(originals.size))).map(t =>
            if (rng.nextDouble() < shape.subShare) fresh() else t)
        } else { originals += d; Array.fill(shape.words)(fresh()) }
      d += 1
    }
    val texts = tokens.map { ts =>
      val sb = new java.lang.StringBuilder(ts.length * 8)
      var i = 0
      while (i < ts.length) { sb.append(ts(i)); separator(sb, i); i += 1 }
      sb.toString
    }
    (texts, planted)
  }
}

object Gen {
  /** Writes (doc_id, text) rows as one parquet file, without Spark. */
  def writeParquet(file: Path, texts: Array[String]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.LocalOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message docs { required int64 doc_id; required binary text (STRING); }")
    Files.createDirectories(file.getParent)
    val writer = ExampleParquetWriter.builder(new LocalOutputFile(file))
      .withType(schema).build()
    try {
      val groups = new SimpleGroupFactory(schema)
      texts.indices.foreach { i =>
        writer.write(groups.newGroup().append("doc_id", i.toLong).append("text", texts(i)))
      }
    } finally writer.close()
  }

  /** Files and bytes of the regular files under `dir`. */
  def footprint(dir: Path): (Int, Long) = {
    val files = Files.list(dir)
    try {
      val sizes = files.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).toArray
      (sizes.length, sizes.sum)
    } finally files.close()
  }
}
