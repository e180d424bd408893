package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.sources.LakeTable
import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event

/** `stream_ingest`: click and purchase events go through
  * `StreamOps.purchaseAfterClick` into a lake table
  * (`writeStream.format("graft-lake")`), and a change-feed reader
  * (`readStream.format("graft-lake")`) collects the join rows.
  *
  * Phase 1 is open loop: a generator thread sends events at the fixed rate
  * `Rate`.
  * An event that completes join rows (a purchase after its clicks, or a
  * late click) is one latency sample, from the time it was due until the
  * reader has all of those rows. Phase 2 adds a pre-generated backlog at once,
  * a fixed number of times, and times how long each takes to come out of
  * the feed. Every expected join row must come out exactly once. */
final class StreamIngest(spark: SparkSession, work: String, seed: Long,
                         rec: Record) {
  import StreamIngest._

  private val rnd = new java.util.SplittableRandom(seed)
  private val zipfCdf = {
    val w = (1 to Users).map(k => 1.0 / math.pow(k, ZipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private var nextId = 0L
  private var eventTimeMs = BaseMs

  /** `n` events with ids and event times continuing the sequence. A share
    * of them carry an event time up to `LateMaxS` earlier than their
    * position, so they arrive out of order. */
  def events(n: Int): IndexedSeq[Event] = (0 until n).map { _ =>
    val id = nextId; nextId += 1
    eventTimeMs += EventGapMs
    val late = if (rnd.nextDouble() < LateShare)
      1000L * (1 + rnd.nextInt(LateMaxS)) else 0L
    val u = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    val user = (if (u >= 0) u else -u - 1).toLong min (Users - 1)
    val x = rnd.nextInt(10)
    val kind = if (x < 5) "click" else if (x < 9) "purchase" else "view"
    Event(id, new java.sql.Timestamp(eventTimeMs - late), user, kind,
          rnd.nextInt(10000) / 100.0, "{}")
  }

  /** Join rows (purchase id, click id) the interval join must emit, keyed
    * to the index (in `evs`) of the later of their two events. */
  def expected(evs: IndexedSeq[Event]): Map[(Long, Long), Int] = {
    val clicks = evs.zipWithIndex.filter(_._1.event_type == "click")
      .groupBy(_._1.user_id)
    evs.zipWithIndex.filter(_._1.event_type == "purchase").flatMap {
      case (p, pi) =>
        clicks.getOrElse(p.user_id, Nil).collect {
          case (c, ci) if c.ts.getTime <= p.ts.getTime &&
                          c.ts.getTime >= p.ts.getTime - WindowMs =>
            (p.event_id, c.event_id) -> math.max(pi, ci)
        }
    }.toMap
  }

  // ---- the pipeline --------------------------------------------------
  private var ms: MemoryStream[Event] = _
  private var writer: StreamingQuery = _
  private var reader: StreamingQuery = _
  /** join row → (times seen, nanoTime the reader first had it) */
  private val seen = new ConcurrentHashMap[(Long, Long), (Int, Long)]()
  private var dir = ""

  private def start(rep: Int): Unit = {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val base = s"$work/stream_$rep"
    dir = s"$base/table"
    ms = MemoryStream[Event]
    writer = StreamOps.purchaseAfterClick(ms.toDF())
      .writeStream.format("graft-lake")
      .option("path", dir).option("checkpointLocation", s"$base/cp_writer")
      .start()
  }

  private def startReader(rep: Int): Unit = {
    val collectBatch: (DataFrame, Long) => Unit = (df, _) => {
      val rows = df.where(col("_change_type") === "insert")
        .select("p_id", "c_id").collect()
      val now = System.nanoTime()
      rows.foreach { r =>
        seen.merge((r.getLong(0), r.getLong(1)), (1, now),
          (a, b) => (a._1 + b._1, a._2))
      }
    }
    reader = spark.readStream.format("graft-lake").option("path", dir).load()
      .writeStream.option("checkpointLocation", s"$work/stream_$rep/cp_reader")
      .foreachBatch(collectBatch).start()
  }

  private def stop(): Unit = {
    Seq(reader, writer).filter(_ != null).foreach(_.stop())
    reader = null; writer = null
  }

  /** Waits until every key of `want` has been seen, or the timeout. */
  private def awaitSeen(want: Iterable[(Long, Long)], timeoutMs: Long): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    var missing = want.filterNot(seen.containsKey)
    while (missing.nonEmpty && System.currentTimeMillis() < end) {
      Thread.sleep(2)
      missing = missing.filterNot(seen.containsKey)
    }
    missing.isEmpty
  }

  /** Starts writer and reader on fresh directories and waits until a
    * warm-up batch has come out of the feed. */
  def setup(rep: Int): Unit = {
    stop()
    seen.clear()
    start(rep)
    val warm = WarmUp
    ms.addData(warm)
    writer.processAllAvailable()
    startReader(rep)
    if (!awaitSeen(expected(warm).keys, 60000))
      throw new IllegalStateException("warm-up rows never reached the feed")
    seen.clear()
  }

  private val listener = new ProgressListener

  /** Phase 1 then phase 2. `phase1S` is the length of the fixed-rate
    * phase. */
  def measure(phase1S: Double, exec: Option[ExecListener]): Unit = {
    val traceRun = exec.isDefined
    if (traceRun) {
      spark.streams.addListener(listener)
      graft.ops.Prof.dumpAndReset()
    }
    listener.writerId = writer.id
    val n1 = math.max(1, (Rate * phase1S).toInt)
    val phase1 = events(n1)
    val drains = (0 until Drains).map(_ => events(DrainEvents))
    val all = phase1 ++ drains.flatten
    val want = expected(all)
    val due = new Array[Long](all.size)
    val sentOffset = new Array[Long](n1)
    var genLateNs = 0L

    // phase 1: open loop, each event due at t0 + i / rate
    val c0 = Proc.cpuS()
    val t0 = System.nanoTime()
    val epoch0 = System.currentTimeMillis()
    val gen = new Thread(() => {
      var i = 0
      while (i < n1) {
        val now = System.nanoTime()
        var j = i
        while (j < n1 && t0 + (j * 1e9 / Rate).toLong <= now) {
          due(j) = t0 + (j * 1e9 / Rate).toLong; j += 1
        }
        if (j > i) {
          val off = ms.addData(phase1.slice(i, j)).json.trim.toLong
          val sent = System.nanoTime()
          (i until j).foreach { k =>
            sentOffset(k) = off
            genLateNs = math.max(genLateNs, sent - due(k))
          }
          i = j
        } else {
          val next = t0 + (i * 1e9 / Rate).toLong
          val waitNs = next - System.nanoTime()
          if (waitNs > 0) java.util.concurrent.locks.LockSupport.parkNanos(waitNs)
        }
      }
    }, "perfbench-generator")
    gen.start(); gen.join()
    val want1 = want.filter(_._2 < n1)
    if (!awaitSeen(want1.keys, 60000))
      rec.notes("phase1") = "timed out waiting for phase-1 rows"
    // one sample per event that completes join rows: from when it was due
    // until the reader has all of them
    val samples = want1.keys.groupBy(want1)
    for ((i, rows) <- samples) {
      val vis = rows.toSeq.map(k => Option(seen.get(k)).map(_._2))
      val ok = vis.forall(_.isDefined)
      rec.ops += Op("event", f"due+${(due(i) - t0) / 1e9}%.3fs",
                    if (ok) (vis.flatten.max - due(i)) / 1e6 else 0.0,
                    ok, 0, traceRun)
    }
    rec.units += WorkUnit(-1, (System.nanoTime() - t0) / 1e9,
                          Proc.cpuS() - c0, samples.size, traceRun)

    // phase 2: fixed backlogs drained one after the other
    var offset = n1
    for ((d, k) <- drains.zipWithIndex) {
      val lo = offset
      val hi = offset + d.size
      val wantK = want.filter { case (_, i) => i >= lo && i < hi }
      def drain(): Unit = {
        val s = System.nanoTime()
        (lo until hi).foreach(due(_) = s)
        Trace.operation("stream.drain") {
          ms.addData(d)
          if (!awaitSeen(wantK.keys, 60000))
            rec.notes(s"drain$k") = "timed out waiting for drained rows"
        }
      }
      rec.timeUnit(traceRun) {
        exec match {
          case Some(l) => ExecListener.around(spark.sparkContext, l)(drain())
          case None => drain()
        }
      }
      offset = hi
    }
    // every expected row exactly once, nothing else
    val seenAll = seen.asScala.toMap
    val want2 = want.filter(_._2 >= n1)
    for ((_, rows) <- want2.keys.groupBy(want2))
      rec.ops += Op("delivery", "phase2", 0.0, rows.forall(seenAll.contains),
                    rec.unit, traceRun)
    for ((p, c) <- want2.keys if !seenAll.contains((p, c)))
      rec.failures += (s"row ($p,$c)" -> "never delivered")
    for (((p, c), (n, _)) <- seenAll) {
      if (!want.contains((p, c))) rec.wrongResult(s"row ($p,$c)", "not expected")
      else if (n != 1) rec.wrongResult(s"row ($p,$c)", s"delivered $n times")
    }
    for ((p, c) <- want1.keys if !seenAll.contains((p, c)))
      rec.failures += (s"row ($p,$c)" -> "never delivered")
    rec.set("stream.gen_late_ms", genLateNs / 1e6)
    rec.set("phase2.events", DrainEvents)
    if (traceRun) {
      Thread.sleep(200) // last progress events
      spark.streams.removeListener(listener)
      listener.report(rec, n1, due, sentOffset, t0, epoch0)
      val batches = math.max(1, listener.writer.size)
      val prof = graft.ops.Prof.dumpAndReset().map(p => p._1 -> p._2).toMap
      for ((label, name) <- ProfPhases)
        rec.set(name, prof.getOrElse(label, 0.0) * 1e3 / batches)
      stop()
      tableValues(s"$work/one_shot")
    } else stop()
  }

  /** Table-level values of the sink: storage amplification (bytes under
    * the table directory over the bytes of one plain parquet write of the
    * live rows), data and log size, live files and versions. */
  private def tableValues(oneShot: String): Unit = {
    spark.read.format("graft-lake").load(dir).write.parquet(oneShot)
    val data = treeBytes(Paths.get(dir), _.toString.endsWith(".parquet"))
    rec.set("lake.storage_amp", treeBytes(Paths.get(dir), _ => true) /
      math.max(1.0, treeBytes(Paths.get(oneShot), _.toString.endsWith(".parquet"))))
    rec.set("lake.bytes_written_mb", data / 1048576.0)
    rec.set("lake.log_kb",
      treeBytes(Paths.get(dir), !_.toString.endsWith(".parquet")) / 1024.0)
    rec.set("lake.live_files", LakeTable.currentFiles(dir).size)
    rec.set("lake.versions", LakeTable.currentVersion(dir).getOrElse(0L).toDouble)
  }
}

object StreamIngest {
  /** Events per second of phase 1, well below the pipeline's capacity.
    * On a 4-CPU VM the median latency of one seed ranged over 2.2–3.4 s in
    * five runs at 40 events/s, and over 2.48–2.53 s in three at 20. */
  val Rate = 20
  val Users = 60
  val ZipfS = 1.1
  val LateShare = 0.1
  val LateMaxS = 90
  val EventGapMs = 30000L
  val WindowMs = 30L * 60 * 1000
  val BaseMs: Long = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
  val Drains = 5
  val DrainEvents = 2000

  /** `Prof` labels of the commit phases → per-layer metric names. */
  val ProfPhases = Seq("lake.stage.write" -> "lake.stage_write_ms",
    "lake.commit.plan" -> "lake.commit_plan_ms",
    "lake.audit" -> "lake.audit_ms",
    "lake.commit.publish" -> "lake.publish_ms")

  def treeBytes(root: Path, keep: Path => Boolean): Long =
    if (!Files.exists(root)) 0L
    else scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.filter(p => Files.isRegularFile(p) && keep(p))
        .map(p => Files.size(p)).sum
    }

  /** Warm-up: one click then one purchase for each of 20 users, two hours
    * of event time before the measured events. */
  val WarmUp: IndexedSeq[Event] = (0 until 20).flatMap { u =>
    val t = BaseMs - 2 * 3600 * 1000L + u * 1000L
    Seq(Event(-2L * u - 2, new java.sql.Timestamp(t), u.toLong, "click", 1.0, "{}"),
        Event(-2L * u - 1, new java.sql.Timestamp(t + 500), u.toLong,
              "purchase", 1.0, "{}"))
  }
}

/** Streaming progress of the writer and the feed reader, for the traced
  * run's per-layer values. */
final class ProgressListener extends StreamingQueryListener {
  @volatile var writerId: java.util.UUID = _
  val writer = ArrayBuffer.empty[StreamingQueryProgress]
  val reader = ArrayBuffer.empty[StreamingQueryProgress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) synchronized {
      if (p.id == writerId) writer += p else reader += p
    }
  }

  private def d(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  private def endMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      d(p, "triggerExecution").toLong

  def report(rec: Record, n1: Int, due: Array[Long], sentOffset: Array[Long],
             t0: Long, epoch0: Long): Unit = synchronized {
    val w = writer.toSeq
    val trig = w.map(d(_, "triggerExecution"))
    rec.set("stream.batches", w.size)
    rec.set("stream.batch_p50_ms", Stats.pct(trig, 50))
    rec.set("stream.batch_tail_ms", Stats.tail(trig)._2)
    rec.set("stream.add_batch_ms", Stats.pct(w.map(d(_, "addBatch")), 50))
    rec.set("lake.append_ms", Stats.pct(w.map(d(_, "addBatch")), 50))
    rec.set("stream.plan_ms", Stats.pct(w.map(d(_, "queryPlanning")), 50))
    rec.set("stream.offset_ms",
      Stats.pct(w.map(p => d(p, "latestOffset") + d(p, "getBatch")), 50))
    rec.set("stream.wal_ms",
      Stats.pct(w.map(p => d(p, "walCommit") + d(p, "commitOffsets")), 50))
    rec.set("stream.state_commit_ms",
      Stats.pct(w.map(_.stateOperators.map(_.commitTimeMs.toDouble).sum), 50))
    val last = w.lastOption.toSeq.flatMap(_.stateOperators)
    rec.set("stream.state_rows", last.map(_.numRowsTotal).sum.toDouble)
    rec.set("stream.state_mb",
      w.map(_.stateOperators.map(_.memoryUsedBytes).sum).maxOption
        .getOrElse(0L) / 1048576.0)
    rec.set("stream.late_dropped",
      w.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble)
    rec.set("lake.feed_ms",
      Stats.pct(reader.toSeq.map(d(_, "triggerExecution")), 50))
    // a phase-1 event is durable when the writer batch that read its
    // MemoryStream offset has committed
    val done = w.map(p => p.sources.head.endOffset.trim.toLong -> endMs(p))
      .sortBy(_._1)
    val durable = (0 until n1).flatMap { i =>
      done.find(_._1 >= sentOffset(i)).map { case (_, end) =>
        end - (epoch0 + (due(i) - t0) / 1e6) }
    }
    rec.set("stream.durable_p50_ms", Stats.pct(durable, 50))
    val lastPhase1 = if (n1 > 0) sentOffset(n1 - 1) else -1L
    rec.set("stream.backlog_max_rows",
      w.filter(p => p.sources.head.endOffset.trim.toLong <= lastPhase1)
        .map(_.numInputRows.toDouble).maxOption.getOrElse(0.0))
    for (p <- w; end = endMs(p)) {
      val a = t0 + ((end - d(p, "triggerExecution").toLong - epoch0) * 1e6).toLong
      Trace.record("stream.batch", "stream", a, a + (d(p, "triggerExecution") * 1e6).toLong)
    }
  }
}

object Stats {
  /** Nearest-rank percentile; 0 for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }

  /** The highest of the usual percentiles with at least ten samples beyond
    * it: (percentile, value). Falls back to the maximum below 20 samples. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size * (1 - p / 100) >= 10)
    p.map(q => q -> pct(xs, q)).getOrElse(100.0 -> xs.maxOption.getOrElse(0.0))
  }
}
