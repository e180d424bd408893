package perfbench

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark execution counters for the traced run, from a listener the
  * benchmark registers only around traced units. */
final class ExecListener extends SparkListener {
  private val c = scala.collection.concurrent.TrieMap.empty[String, LongAdder]
  private def add(k: String, v: Long): Unit =
    c.getOrElseUpdate(k, new LongAdder).add(v)
  /** Job intervals (ms since epoch), to split wall time into time inside
    * some job and driver time outside every job. */
  val jobSpans = ArrayBuffer.empty[(Long, Long)]
  private val jobStart = scala.collection.concurrent.TrieMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1); jobStart(e.jobId) = e.time
    // the benchmark names the phase a job runs in through its job group
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => add("group." + g.takeWhile(_ != ':'), 1))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach(t0 =>
      jobSpans.synchronized { jobSpans += (t0 -> e.time); () })
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    add("stages", 1)
    if (i.numTasks == 1)
      for (a <- i.submissionTime; b <- i.completionTime)
        add("serial_stage_ms", b - a)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    if (!e.taskInfo.successful) add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime)
      add("task_cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def get(k: String): Long = c.get(k).map(_.sum).getOrElse(0L)

  /** Wall time (ms) covered by the union of job intervals. */
  def jobWallMs(): Long = jobSpans.synchronized {
    var total = 0L
    var end = Long.MinValue
    for ((a, b) <- jobSpans.sortBy(_._1)) {
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

object ExecListener {
  /** Runs `f` with `l` registered, then waits until every event posted
    * while it ran has reached `l`. */
  def around[A](sc: SparkContext, l: ExecListener)(f: => A): A = {
    sc.addSparkListener(l)
    try f
    finally {
      org.apache.spark.perfbenchshim.Bus.drain(sc)
      sc.removeSparkListener(l)
    }
  }

  /** Counts a listener collected as per-layer values. `units` divides the
    * additive ones, so they read per unit of fixed work. */
  def report(rec: Record, l: ExecListener, wallS: Double, cores: Int,
             units: Int): Unit = {
    val n = math.max(1, units).toDouble
    val mb = 1024.0 * 1024.0
    val jobWallS = l.jobWallMs() / 1e3
    rec.set("exec.jobs", l.get("jobs") / n)
    rec.set("exec.stages", l.get("stages") / n)
    rec.set("exec.tasks", l.get("tasks") / n)
    rec.set("exec.task_run_s", l.get("task_run_ms") / 1e3 / n)
    rec.set("exec.task_cpu_s", l.get("task_cpu_ns") / 1e9 / n)
    rec.set("exec.gc_s", l.get("gc_ms") / 1e3 / n)
    rec.set("exec.input_mb", l.get("input_bytes") / mb / n)
    rec.set("exec.shuffle_write_mb", l.get("shuffle_write_bytes") / mb / n)
    rec.set("exec.shuffle_read_mb", l.get("shuffle_read_bytes") / mb / n)
    rec.set("exec.spill_mb", l.get("spill_bytes") / mb / n)
    rec.set("exec.failed_tasks", l.get("failed_tasks") / n)
    rec.set("exec.slot_util",
      if (jobWallS > 0) l.get("task_run_ms") / 1e3 / (cores * jobWallS)
      else 0.0)
    rec.set("exec.serial_stage_s", l.get("serial_stage_ms") / 1e3 / n)
    rec.set("exec.driver_s", math.max(0.0, wallS - jobWallS) / n)
  }
}
