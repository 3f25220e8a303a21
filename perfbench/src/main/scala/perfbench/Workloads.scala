package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions.{col, max, xxhash64}

import graft.operators.{Dedup, WordCount}
import graft.sources.TextDirectory

/** One layer of the traced run. A `prefix` step is its own sunk job that
  * runs the full job's pipeline up to and including this layer; the
  * other steps are the consecutive actions of the full job itself. A
  * layer's self time is its step's time minus the previous prefix's.
  */
final case class Step(metric: String, prefix: Boolean, run: () => Unit)

/** A generated input, with the reference result its output is checked
  * against.
  */
trait Prepared {
  def props: InputProps
  /** Seconds the single-threaded reference took on this input. */
  def refSeconds: Double
  def steps(spark: SparkSession, out: Path): Seq[Step]
  /** Throws if the output under `out` is wrong; else returns counts
    * read from it, keyed by per-layer metric name.
    */
  def check(out: Path): Map[String, Double]
  /** Per-layer counts that do not come from a span: properties of the
    * input, or results of an extra, untimed engine call.
    */
  def layerCounts(spark: SparkSession): Map[String, Double]

  /** The closed-loop job: every non-prefix step, in order. */
  final def job(spark: SparkSession, out: Path): Unit =
    steps(spark, out).filterNot(_.prefix).foreach(_.run())
}

trait Workload {
  def name: String
  def prepare(seed: Long, dir: Path, tiny: Boolean): Prepared
}

object Workloads {
  val all: Seq[Workload] = Seq(
    // tokenising dominates: few distinct keys, so the shuffle and sink are small
    WordCountWorkload("wc_zipf_bigfiles", TextShape(8, 4000000, 32768, 1.1, 0.0)),
    // 40% one-off words: aggregation, shuffle and the sharded write carry real work
    WordCountWorkload("wc_longtail_manyfiles", TextShape(400, 1000000, 262144, 1.1, 0.4)),
    // MinHash kernel, LSH band join and verify joins: a multi-job pipeline
    DedupWorkload("dedup_neardup_docs", DocShape(1000, 200, 32768, 1.1, 0.2, 0.05)))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name'; known: ${all.map(_.name).mkString(", ")}"))

  /** Runs `df` to completion as one sunk job: every output column is
    * computed (the largest hash of a row is kept), but no row is copied out
    * of the fused stage, so the sink adds little to the prefix it ends.
    */
  def consume(df: DataFrame): Unit =
    df.agg(max(xxhash64(df.columns.map(col).toIndexedSeq: _*))).collect()

  /** `df` without its outermost global sort. The optimizer drops a sort
    * that a repartition consumes, so this is the plan a consumer such
    * as `writeSharded` runs below its own exchange.
    */
  def unsorted(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case Sort(_, true, child, _) => GraftColumnBridge.ofRows(df.sparkSession, child)
    case _ => df
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime
    val a = body
    (a, (System.nanoTime - t0) / 1e9)
  }
}

/** `TextDirectory.writeSharded(TextDirectory.wordCountDir(dir), out, 8)`:
  * the reference program end to end.
  */
final case class WordCountWorkload(name: String, shape: TextShape) extends Workload {
  import Workloads._

  def prepare(seed: Long, dir: Path, tiny: Boolean): Prepared = {
    val s = if (tiny) shape.copy(files = 2, tokens = 4000, vocab = 1000) else shape
    new Gen(seed).textCorpus(dir, s)
    val (ref, refSeconds) = timed(Ref.countDir(dir))
    val (files, bytes) = Gen.footprint(dir)
    var tokens = 0L
    ref.values.forEach(c => tokens += c)
    new WordCountInput(dir, InputProps(files, bytes, tokens, ref.size, 0), ref, refSeconds)
  }

  final class WordCountInput(dir: Path, val props: InputProps,
                             ref: java.util.HashMap[String, Long],
                             val refSeconds: Double) extends Prepared {
    def steps(spark: SparkSession, out: Path): Seq[Step] = {
      val in = dir.toString
      Seq(
        Step("sources.scan_s", prefix = true, () => consume(spark.read.textFile(in).toDF())),
        Step("wordcount.tokenize_s", prefix = true, () =>
          consume(WordCount.explodeWords(spark.read.textFile(in).toDF("text"), "text", Nil))),
        Step("wordcount.agg_s", prefix = true, () =>
          consume(unsorted(TextDirectory.wordCountDir(spark, in)))),
        Step("sink.write_s", prefix = false, () =>
          TextDirectory.writeSharded(TextDirectory.wordCountDir(spark, in), out.toString, 8)))
    }

    def layerCounts(spark: SparkSession): Map[String, Double] =
      Map("wordcount.tokens" -> props.tokens.toDouble,
        "wordcount.distinct_words" -> props.distinctWords.toDouble)

    def check(out: Path): Map[String, Double] = {
      val got = Ref.parseSharded(out)
      if (got != ref) {
        val missing = ref.keySet.stream.filter(w => got.get(w) != ref.get(w)).limit(3).toArray
        throw new IllegalStateException(
          s"word count mismatch: ${got.size} words against ${ref.size}; e.g. " +
            missing.map(w => s"$w=${got.get(w)}/${ref.get(w)}").mkString(", "))
      }
      Map("sink.rows" -> got.size.toDouble,
        "sink.files" -> Ref.partLines(out).size.toDouble)
    }
  }
}

/** `Dedup.minhashPairs(n = 3, b = 32, r = 4, 4/5)` written as csv, then
  * `Dedup.componentsAdaptive` over the written pairs, written as csv.
  */
final case class DedupWorkload(name: String, shape: DocShape) extends Workload {
  import Workloads._
  private val (n, b, r, num, den) = (3, 32, 4, 4, 5)

  def prepare(seed: Long, dir: Path, tiny: Boolean): Prepared = {
    val s = if (tiny) shape.copy(docs = 80, vocab = 2000) else shape
    val (texts, planted) = new Gen(seed).docCorpus(s)
    Gen.writeParquet(dir.resolve("docs.parquet"), texts)
    val ((sh, exact), refSeconds) = timed {
      val sh = texts.map(Ref.shingles(_, n))
      (sh, Ref.exactPairs(sh, num, den))
    }
    val vocab = new java.util.HashSet[String]()
    var tokens = 0L
    texts.foreach(t => Ref.words(t) { w => vocab.add(w); tokens += 1 })
    val (files, bytes) = Gen.footprint(dir)
    new DedupInput(dir, InputProps(files, bytes, tokens, vocab.size, planted), sh, exact, refSeconds)
  }

  final class DedupInput(dir: Path, val props: InputProps, sh: Array[Array[Long]],
                         exact: Set[(Int, Int)], val refSeconds: Double) extends Prepared {
    private def docs(spark: SparkSession) = spark.read.parquet(dir.toString)
    private def sigs(spark: SparkSession) = Dedup.minhashSignatures(docs(spark), n, b * r)

    def steps(spark: SparkSession, out: Path): Seq[Step] = {
      val pairs = out.resolve("pairs").toString
      Seq(
        Step("sources.scan_s", prefix = true, () => consume(docs(spark))),
        Step("dedup.signature_s", prefix = true, () => consume(sigs(spark))),
        Step("dedup.lsh_s", prefix = true, () => consume(Dedup.lshCandidates(sigs(spark), b, r))),
        Step("dedup.verify_s", prefix = false, () =>
          Dedup.minhashPairs(docs(spark), n, b, r, num, den).write.csv(pairs)),
        Step("dedup.cc_s", prefix = false, () =>
          Dedup.componentsAdaptive(
            spark.read.schema("id_a long, id_b long, inter long, uni long").csv(pairs))
            .write.csv(out.resolve("components").toString)))
    }

    def check(out: Path): Map[String, Double] = {
      val pairs = Ref.partLines(out.resolve("pairs")).flatten.map { line =>
        val Array(a, b, inter, uni) = line.split(',').map(_.toInt)
        val i = Ref.intersect(sh(a), sh(b))
        require(a < b && inter == i && uni == sh(a).length + sh(b).length - i &&
          inter.toLong * den > uni.toLong * num, s"pair $line is not a near-duplicate")
        (a, b)
      }
      require(pairs.distinct.size == pairs.size, "duplicate pairs")
      val comps = Ref.partLines(out.resolve("components")).flatten.map { line =>
        val Array(d, c) = line.split(',').map(_.toLong)
        d -> c
      }.toMap
      require(comps == Ref.components(pairs.map { case (a, b) => (a.toLong, b.toLong) }),
        "components differ from the connected components of the pairs")
      Map("dedup.pairs" -> pairs.size.toDouble,
        "dedup.recall" -> (if (exact.isEmpty) 1.0 else pairs.size.toDouble / exact.size))
    }

    def layerCounts(spark: SparkSession): Map[String, Double] =
      Map("dedup.candidates" -> Dedup.lshCandidates(sigs(spark), b, r).count().toDouble)
  }
}
