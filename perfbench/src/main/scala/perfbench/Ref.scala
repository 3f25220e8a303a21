package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Single-threaded reference implementations the benchmark checks the
  * engine's outputs against. Tokenizer rules (FIXTURES.md §1): split on
  * ASCII whitespace including vertical tab, keep the longest prefix of
  * ``[A-Za-z[\]^_`']``, lowercase, drop empty tokens.
  */
object Ref {
  private def isSpace(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r'

  private def isKept(c: Int): Boolean =
    (c >= 'A' && c <= 'z') || c == '\''

  /** Calls `emit` with every surviving word of `text`, in order. */
  def words(text: CharSequence)(emit: String => Unit): Unit = {
    val sb = new java.lang.StringBuilder
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && isSpace(text.charAt(i))) i += 1
      sb.setLength(0)
      while (i < n && isKept(text.charAt(i))) {
        val c = text.charAt(i)
        sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
        i += 1
      }
      while (i < n && !isSpace(text.charAt(i))) i += 1
      if (sb.length > 0) emit(sb.toString)
    }
  }

  def wordList(text: CharSequence): Array[String] = {
    val out = Array.newBuilder[String]
    words(text)(out += _)
    out.result()
  }

  /** Word counts over every regular file in `dir`. */
  def countDir(dir: Path): java.util.HashMap[String, Long] = {
    val counts = new java.util.HashMap[String, Long](1 << 16)
    val inc: java.util.function.BiFunction[Long, Long, Long] = (a, b) => a + b
    val files = Files.list(dir)
    try files.iterator().asScala.toSeq.sorted.foreach { f =>
      val text = new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.ISO_8859_1)
      words(text)(w => counts.merge(w, 1L, inc))
    } finally files.close()
    counts
  }

  /** The lines of every `part-*` file under `dir` (the files a Spark
    * text or csv sink writes), shard by shard in file-name order.
    */
  def partLines(dir: Path): Seq[Seq[String]] = {
    val files = Files.list(dir)
    try files.iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-")).sorted
      .map(f => Files.readAllLines(f).asScala.toSeq)
    finally files.close()
  }

  /** Parses a sharded `word count` output into a map. Throws on a
    * malformed line, a word seen twice, or a shard not sorted by word.
    */
  def parseSharded(dir: Path): java.util.HashMap[String, Long] = {
    val out = new java.util.HashMap[String, Long](1 << 16)
    for (shard <- partLines(dir)) {
      var prev: String = null
      for (line <- shard) {
        val sp = line.lastIndexOf(' ')
        require(sp > 0, s"malformed line '$line'")
        val w = line.substring(0, sp)
        val c = line.substring(sp + 1).toLong
        require(prev == null || prev.compareTo(w) < 0, s"shard not sorted at '$w'")
        require(!out.containsKey(w), s"word '$w' in two shards")
        out.put(w, c)
        prev = w
      }
    }
    out
  }

  /** Distinct word-`n`-gram shingles of a document, hashed to longs. */
  def shingles(text: String, n: Int): Array[Long] = {
    val ws = wordList(text)
    if (ws.length < n) Array.emptyLongArray
    else (0 to ws.length - n).map(i => ws.slice(i, i + n).mkString(" "))
      .distinct.map(murmur).toArray.sorted
  }

  private def murmur(s: String): Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    stringHash(s, 0x9747b28c).toLong << 32 | (stringHash(s, 0x5bd1e995) & 0xffffffffL)
  }

  /** |A ∩ B| of two sorted distinct arrays. */
  def intersect(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var k = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { k += 1; i += 1; j += 1 }
    }
    k
  }

  /** Every pair (a < b) of documents whose exact shingle Jaccard exceeds
    * num/den, counting shared shingles through an inverted index.
    */
  def exactPairs(sh: Array[Array[Long]], num: Int, den: Int): Set[(Int, Int)] = {
    val postings = mutable.HashMap.empty[Long, mutable.ArrayBuilder.ofInt]
    sh.indices.foreach(d => sh(d).foreach(s => postings.getOrElseUpdate(s, new mutable.ArrayBuilder.ofInt) += d))
    val lists = postings.map { case (s, b) => s -> b.result() }
    val shared = new Array[Int](sh.length)
    val out = Set.newBuilder[(Int, Int)]
    sh.indices.foreach { a =>
      val touched = mutable.ArrayBuffer.empty[Int]
      for (s <- sh(a); b <- lists(s) if b > a) {
        if (shared(b) == 0) touched += b
        shared(b) += 1
      }
      touched.foreach { b =>
        val inter = shared(b).toLong
        if (inter * den > (sh(a).length + sh(b).length - inter) * num) out += ((a, b))
        shared(b) = 0
      }
    }
    out.result()
  }

  /** Component label (the minimum member id) of every node in `pairs`. */
  def components(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }
}
