package perfbench

import scala.collection.mutable

import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Running totals of the Spark task metrics the per-layer report needs.
  * Events arrive on the listener bus thread; [[Tracer]] drains the bus
  * before reading, so a snapshot taken after an action has returned
  * holds every task of that action.
  */
final class Counters extends SparkListener {
  private val v = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val jobIds = mutable.ArrayBuffer.empty[Int]

  private def add(k: String, x: Long): Unit = v(k) += x

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("jobs", 1)
    jobIds += e.jobId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime + m.executorDeserializeCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("sched_ms", math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime))
      v("peak_mem") = math.max(v("peak_mem"), m.peakExecutionMemory)
      val sw = m.shuffleWriteMetrics
      add("shuffle_bytes", sw.bytesWritten)
      add("shuffle_records", sw.recordsWritten)
      add("shuffle_write_ns", sw.writeTime)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spill_bytes", m.diskBytesSpilled)
      add("in_bytes", m.inputMetrics.bytesRead)
      add("out_bytes", m.outputMetrics.bytesWritten)
      // records a scanning task hands to the shuffle: the map side's
      // output after any combining
      if (m.inputMetrics.bytesRead > 0) add("map_records", sw.recordsWritten)
    }
  }

  /** Totals so far, and the number of jobs started so far. `peak_mem`
    * is the peak since the previous snapshot.
    */
  def snapshot(): (Map[String, Long], Int) = synchronized {
    val out = v.toMap.withDefaultValue(0L)
    v("peak_mem") = 0
    (out, jobIds.length)
  }

  def jobsSince(from: Int): Seq[Int] = synchronized(jobIds.drop(from).toSeq)
}

/** One timed layer boundary. `iter` is the request (closed-loop job) the
  * span belongs to; `parent` names the enclosing span; `sparkJobs` are
  * the Spark job ids that ran inside it; `counters` are the listener
  * totals it added (the peak is the peak within the span).
  */
final case class Span(name: String, iter: Int, parent: String, startNs: Long, endNs: Long,
                      sparkJobs: Seq[Int], counters: Map[String, Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory around calls into the engine; they are
  * written out once, when the run ends.
  */
final class Tracer(spark: SparkSession) {
  private val origin = System.nanoTime
  private val counters = new Counters
  // running peak execution memory of each open span, innermost last
  private val openPeaks = mutable.Stack.empty[Long]
  val spans = mutable.ArrayBuffer.empty[Span]

  def attach(): Unit = spark.sparkContext.addSparkListener(counters)
  def detach(): Unit = spark.sparkContext.removeSparkListener(counters)

  private def foldPeak(peak: Long): Unit =
    if (openPeaks.nonEmpty) openPeaks.push(math.max(openPeaks.pop(), peak))

  def span[A](name: String, iter: Int, parent: String)(body: => A): (A, Span) = {
    GraftSparkInternals.waitListenerBusEmpty(spark.sparkContext)
    val (before, jobMark) = counters.snapshot()
    foldPeak(before("peak_mem"))
    openPeaks.push(0L)
    val t0 = System.nanoTime
    val a = body
    val t1 = System.nanoTime
    GraftSparkInternals.waitListenerBusEmpty(spark.sparkContext)
    val (after, _) = counters.snapshot()
    val peak = math.max(openPeaks.pop(), after("peak_mem"))
    foldPeak(peak)
    val delta = after.map { case (k, x) => k -> (if (k == "peak_mem") peak else x - before(k)) }
      .withDefaultValue(0L)
    val s = Span(name, iter, parent, t0 - origin, t1 - origin, counters.jobsSince(jobMark), delta)
    spans += s
    (a, s)
  }

  def write(file: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(file.getParent)
    val lines = spans.map { s =>
      val cs = s.counters.toSeq.sortBy(_._1).map { case (k, x) => s""""$k":$x""" }.mkString(",")
      s"""{"name":"${s.name}","iter":${s.iter},"parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""spark_jobs":[${s.sparkJobs.mkString(",")}],"counters":{$cs}}"""
    }
    java.nio.file.Files.write(file, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
