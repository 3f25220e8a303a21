package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, TempDirs}
import Workloads.timed

/** Closed-loop benchmark harness: one client submits one job at a time
  * through the engine's public API on `local[nproc]` and waits for its
  * checked result before submitting the next.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * }}}
  *
  * Run from the root of a checkout. `--trace 0` reports the end-to-end
  * metrics; `--trace 1` runs the traced mode and reports the per-layer
  * metrics. The last stdout line, prefixed `RESULT `, is the JSON result.
  */
object Main {
  private val SetupReps = 3
  // full-size jobs run for this long before timing starts: the JIT
  // keeps speeding the job up over its first several runs
  private val WarmSeconds = 10
  private val MinJobs = 4
  private val MB = 1e6

  /** Per-layer metrics and their units, in report order. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "session.build_s" -> "s", "session.warmup_s" -> "s",
    "sources.scan_s" -> "s", "sources.files" -> "count", "sources.input_mb" -> "MB",
    "sources.scan_tasks" -> "count",
    "wordcount.tokenize_s" -> "s", "wordcount.tokens" -> "count", "wordcount.agg_s" -> "s",
    "wordcount.distinct_words" -> "count", "wordcount.combine_ratio" -> "ratio",
    "shuffle.write_mb" -> "MB", "shuffle.records" -> "count", "shuffle.write_s" -> "s",
    "shuffle.fetch_wait_s" -> "s", "shuffle.spill_mb" -> "MB",
    "sink.write_s" -> "s", "sink.rows" -> "count", "sink.mb" -> "MB", "sink.files" -> "count",
    "dedup.signature_s" -> "s", "dedup.lsh_s" -> "s", "dedup.candidates" -> "count",
    "dedup.verify_s" -> "s", "dedup.pairs" -> "count", "dedup.precision" -> "ratio",
    "dedup.recall" -> "ratio", "dedup.cc_s" -> "s", "dedup.cc_jobs" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.sched_delay_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.cpu_busy_share" -> "ratio", "spark.peak_exec_mem_mb" -> "MB",
    "check.ref_1t_s" -> "s", "trace.job_s" -> "s", "trace.overhead_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(args: Array[String]): Args = {
    require(args.length % 2 == 0, "arguments come in --name value pairs")
    val m = args.grouped(2).map(a => a(0) -> a(1)).toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    require(Set("0", "1")(get("--trace")), "--trace takes 0 or 1")
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toInt, get("--trace") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload = Workloads.byName(args.workload)
    val root = Paths.get("").toAbsolutePath
    val work = root.resolve(".bench_build").resolve("work")
      .resolve(s"${workload.name}-${args.seed}-${ProcessHandle.current.pid}")
    val code =
      try {
        val result = new Run(args, workload, root, work).result()
        println("RESULT " + result)
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      } finally TempDirs.deleteRecursively(work)
    sys.exit(code)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def note(msg: String): Unit = println("# " + msg)

  private def json(metrics: Seq[(String, Double, String)], attempted: Int, failed: Int): String = {
    val ms = metrics.map { case (k, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"$k is not a number")
      s""""$k": {"value": ${java.lang.Double.toString(v)}, "unit": "$u"}"""
    }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  private final class Run(args: Args, workload: Workload, root: Path, work: Path) {
    private val cores = Runtime.getRuntime.availableProcessors
    private var attempted = 0
    private var failed = 0
    private var jobNo = 0

    private def session(): SparkSession = {
      val spark = GraftSession.builder("perfbench", s"local[$cores]")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark
    }

    /** Heap in use after a full GC. Spark frees unreachable shuffles,
      * broadcasts and unpersisted blocks asynchronously once a GC has
      * found them, so it collects, lets that cleanup run, and collects
      * again.
      */
    private def heapMb(): Double = {
      System.gc()
      Thread.sleep(250)
      System.gc()
      val rt = Runtime.getRuntime
      (rt.totalMemory - rt.freeMemory) / MB
    }

    /** Runs `job` into a fresh output directory and checks the output.
      * A job that throws or fails its check counts as failed. Returns the
      * job's result, its wall seconds and the check's counts (empty if
      * the check failed), or None if the job threw.
      */
    private def attempt[A](check: Path => Map[String, Double])(job: Path => A)
        : Option[(A, Double, Map[String, Double])] = {
      val out = work.resolve(s"out-$jobNo")
      jobNo += 1
      attempted += 1
      def fail(e: Exception): Unit = {
        failed += 1
        note(s"job ${jobNo - 1} failed: $e")
      }
      try {
        val (a, seconds) = timed(job(out))
        val counts = try check(out) catch { case e: Exception => fail(e); Map.empty[String, Double] }
        Some((a, seconds, counts))
      } catch {
        case e: Exception => fail(e); None
      } finally TempDirs.deleteRecursively(out)
    }

    def result(): String = {
      val (input, genSeconds) = timed(workload.prepare(args.seed, work.resolve("input"), tiny = false))
      val warm = workload.prepare(args.seed, work.resolve("warm-input"), tiny = true)
      note(f"${workload.name} seed ${args.seed}: ${input.props} generated in $genSeconds%.2f s, " +
        f"single-threaded reference ${input.refSeconds}%.3f s")

      var spark: SparkSession = null
      val setups = (1 to SetupReps).map { k =>
        if (spark != null) spark.stop()
        val (s, build) = timed(session())
        spark = s
        val (done, elapsed) = timed(attempt(warm.check)(out => warm.job(spark, out)))
        val warmup = done.fold(elapsed)(_._2)
        note(f"setup $k: session $build%.3f s, warm-up job $warmup%.3f s")
        (build, warmup)
      }
      val setupS = median(setups.map(s => s._1 + s._2))
      val warmEnd = System.nanoTime + WarmSeconds * 1000000000L
      var warmJobs = 0
      while (warmJobs == 0 || System.nanoTime < warmEnd) {
        attempt(input.check)(out => input.job(spark, out))
        warmJobs += 1
      }
      note(s"$warmJobs warm-up jobs on the full input")
      try {
        if (args.trace) traced(spark, input, setups)
        else untraced(spark, input, setupS)
      } finally spark.stop()
    }

    private def deadline(): Long = System.nanoTime + args.seconds * 1000000000L

    private def untraced(spark: SparkSession, input: Prepared, setupS: Double): String = {
      val end = deadline()
      val jobs = mutable.ArrayBuffer.empty[Double]
      val heaps = mutable.ArrayBuffer.empty[Double]
      while (heaps.size < MinJobs || System.nanoTime < end) {
        val job = attempt(input.check)(out => input.job(spark, out)).map(_._2)
        jobs ++= job
        heaps += heapMb()
        note(f"job ${heaps.size - 1}: ${job.fold("failed")(s => f"$s%.3f s")}, " +
          f"heap after GC ${heaps.last}%.1f MB")
      }
      val jobS = median(jobs.toSeq)
      note(f"job_s median $jobS%.4f over ${jobs.size} jobs (min ${jobs.min}%.4f, max ${jobs.max}%.4f)")
      json(Seq(("job_s", jobS, "s"), ("setup_s", setupS, "s"),
        ("retained_heap_mb", median(heaps.toSeq), "MB")), attempted, failed)
    }

    /** Alternates an untraced job with a traced request: every prefix
      * job, then the full job, each step in its own span.
      */
    private def traced(spark: SparkSession, input: Prepared, setups: Seq[(Double, Double)]): String = {
      val tracer = new Tracer(spark)
      val end = deadline()
      val untracedS = mutable.ArrayBuffer.empty[Double]
      val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
      var iter = 0
      while (iter < 2 || System.nanoTime < end) {
        attempt(input.check)(out => input.job(spark, out)).foreach(untracedS += _._2)
        tracer.attach()
        attempt(input.check) { out =>
          tracer.span("request", iter, "") {
            input.steps(spark, out).map(st => st -> tracer.span(st.metric, iter, "request")(st.run())._2)
          }._1
        }.foreach { case (spans, _, counts) => layers += layerMetrics(spans) ++ counts }
        tracer.detach()
        iter += 1
      }
      val file = root.resolve(".bench_build").resolve("trace")
        .resolve(s"${workload.name}-seed${args.seed}.jsonl")
      tracer.write(file)
      note(s"${tracer.spans.size} spans written to ${root.relativize(file)}")

      val fixed = input.layerCounts(spark) ++ Map(
        "session.build_s" -> median(setups.map(_._1)),
        "session.warmup_s" -> median(setups.map(_._2)),
        "check.ref_1t_s" -> input.refSeconds,
        "sources.files" -> input.props.files.toDouble)
      val med = (k: String) => if (layers.isEmpty) 0.0 else median(layers.map(_.getOrElse(k, 0.0)).toSeq)
      val values = LayerUnits.map { case (k, _) => k -> fixed.getOrElse(k, med(k)) }.toMap
      def ratio(a: Double, b: Double) = if (a > 0 && b > 0) a / b else 0.0
      val derived = values ++ Map(
        "trace.overhead_s" -> (values("trace.job_s") -
          (if (untracedS.isEmpty) 0.0 else median(untracedS.toSeq))),
        "wordcount.combine_ratio" -> ratio(values("wordcount.tokens"), med("map_records")),
        "dedup.precision" -> ratio(values("dedup.pairs"), values("dedup.candidates")))
      json(LayerUnits.map { case (k, u) => (k, derived(k), u) }, attempted, failed)
    }

    /** Self time of each layer and the counters of one traced request. */
    private def layerMetrics(spans: Seq[(Step, Span)]): Map[String, Double] = {
      val self = mutable.LinkedHashMap.empty[String, Double]
      var prevCum = 0.0
      var finalCum = 0.0
      spans.foreach { case (st, sp) =>
        val cum = if (st.prefix) sp.seconds else { finalCum += sp.seconds; finalCum }
        self(st.metric) = cum - prevCum
        prevCum = cum
      }
      val full = spans.filterNot(_._1.prefix).map(_._2)
      def sum(k: String): Double = full.map(_.counters(k).toDouble).sum
      val scan = spans.find(_._1.metric == "sources.scan_s").map(_._2)
      self.toMap ++ Map(
        "trace.job_s" -> finalCum,
        "sources.input_mb" -> scan.fold(0.0)(_.counters("in_bytes") / MB),
        "sources.scan_tasks" -> scan.fold(0.0)(_.counters("tasks").toDouble),
        "shuffle.write_mb" -> sum("shuffle_bytes") / MB,
        "shuffle.records" -> sum("shuffle_records"),
        "shuffle.write_s" -> sum("shuffle_write_ns") / 1e9,
        "shuffle.fetch_wait_s" -> sum("fetch_wait_ms") / 1e3,
        "shuffle.spill_mb" -> sum("spill_bytes") / MB,
        "sink.mb" -> sum("out_bytes") / MB,
        "spark.jobs" -> sum("jobs"),
        "spark.tasks" -> sum("tasks"),
        "spark.sched_delay_s" -> sum("sched_ms") / 1e3,
        "spark.task_cpu_s" -> sum("cpu_ns") / 1e9,
        "spark.task_run_s" -> sum("run_ms") / 1e3,
        "spark.gc_s" -> sum("gc_ms") / 1e3,
        "spark.cpu_busy_share" -> sum("cpu_ns") / 1e9 / (finalCum * cores),
        "spark.peak_exec_mem_mb" -> full.map(_.counters("peak_mem") / MB).max,
        // records the scanning tasks handed to the shuffle; not reported
        // itself, but the base of wordcount.combine_ratio
        "map_records" -> sum("map_records")) ++
        spans.find(_._1.metric == "dedup.cc_s").map(s => "dedup.cc_jobs" -> s._2.sparkJobs.size.toDouble)
    }
  }
}
