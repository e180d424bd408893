package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** One timed operation: a query call, an artifact build or a stream
  * event. `unit` is the index of the unit of fixed work it belongs to;
  * `traced` says whether spans were recorded around it. */
final case class Op(kind: String, name: String, ms: Double, ok: Boolean,
                    unit: Int, traced: Boolean)

/** One unit of fixed work (a curation job, a stream phase or drain): its
  * wall and process CPU time. */
final case class WorkUnit(index: Int, wallS: Double, cpuS: Double,
                       ops: Int, traced: Boolean)

/** What a run observed: operations with their latencies, failures with
  * their cause, wrong results with what was wrong, and named values. */
final class Record {
  val ops = ArrayBuffer.empty[Op]
  val units = ArrayBuffer.empty[WorkUnit]
  val failures = ArrayBuffer.empty[(String, String)]
  val wrong = ArrayBuffer.empty[(String, String)]
  val values = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val notes = scala.collection.mutable.LinkedHashMap.empty[String, String]
  var setupReps = Seq.empty[Double]
  var sessionS = 0.0
  var unit = 0
  var tracedUnit = false

  /** Runs `f` as one operation. A throw is recorded with its class and
    * message and counted as failed; the run goes on. */
  def op[A](kind: String, name: String)(f: => A): Option[A] = {
    val t0 = System.nanoTime()
    val r = try Right(f) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    ops.synchronized {
      ops += Op(kind, name, ms, r.isRight, unit, tracedUnit)
      r.left.foreach(e => failures += (s"$kind:$name" -> cause(e)))
    }
    r.toOption
  }

  /** A result that came back but disagrees with the model or oracle. */
  def wrongResult(what: String, detail: String): Unit =
    wrong.synchronized { wrong += (what -> detail); () }

  /** Runs one unit of fixed work and records its wall and CPU time. */
  def timeUnit(traced: Boolean)(f: => Unit): WorkUnit = {
    tracedUnit = traced
    Trace.unit = unit
    Trace.on = traced
    val before = ops.size
    val c0 = Proc.cpuS()
    val t0 = System.nanoTime()
    try f finally Trace.on = false
    val u = WorkUnit(unit, (System.nanoTime() - t0) / 1e9, Proc.cpuS() - c0,
                  ops.size - before, traced)
    units += u
    unit += 1
    u
  }

  def set(k: String, v: Double): Unit = values(k) = v
  def add(k: String, v: Double): Unit =
    values(k) = values.getOrElse(k, 0.0) + v

  def cause(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .toSeq.last
    val msg = Option(e.getMessage).getOrElse("").linesIterator
      .take(3).mkString(" | ").take(400)
    val rootPart =
      if (root eq e) ""
      else s" (root ${root.getClass.getName}: " +
        Option(root.getMessage).getOrElse("").take(200) + ")"
    s"${e.getClass.getName}: $msg$rootPart"
  }
}

object Proc {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU time (all threads), seconds. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** Peak resident set size (VmHWM), MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Spans around each call the benchmark makes into a layer. Spans are kept
  * in memory and written when the run ends. Spans of one operation share
  * its id; `parent` is the enclosing span on the same thread. Spans are
  * recorded only while `on` is set, that is inside traced units. */
object Trace {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
                        layer: String, t0: Long, t1: Long, unit: Int)

  @volatile var on = false
  val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  @volatile var unit = 0

  /** Starts a new operation: spans opened under it share its id. */
  def operation[A](name: String, layer: String = "bench")(f: => A): A =
    if (!on) f else {
      val opId = ids.incrementAndGet()
      inSpan(opId, name, layer, f)
    }

  def span[A](name: String, layer: String)(f: => A): A =
    if (!on) f else {
      val opId = stack.get.headOption.map(_._2).getOrElse(ids.incrementAndGet())
      inSpan(opId, name, layer, f)
    }

  /** A span measured elsewhere (a streaming listener callback). */
  def record(name: String, layer: String, t0: Long, t1: Long): Unit =
    spans.synchronized {
      val id = ids.incrementAndGet()
      spans += Span(id, 0L, id, name, layer, t0, t1, unit); ()
    }

  private def inSpan[A](opId: Long, name: String, layer: String,
                        f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.map(_._1).getOrElse(0L)
    stack.set((id, opId) :: stack.get)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      spans.synchronized {
        spans += Span(id, parent, opId, name, layer, t0, t1, unit); ()
      }
    }
  }

  /** Self time per layer, seconds: each span's duration minus the part of
    * its interval that its child spans cover. */
  def selfTimeByLayer(): Map[String, Double] = {
    val byParent = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
        .map(k => (math.max(k.t0, s.t0), math.min(k.t1, s.t1)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      for ((a, b) <- kids) {
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      s.layer -> (s.t1 - s.t0 - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def layerTotal(layer: String): Double =
    spans.filter(_.layer == layer).map(s => (s.t1 - s.t0) / 1e9).sum

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> s.t0, "end_ns" -> s.t1, "unit" -> s.unit)))
    } finally w.close()
  }
}

/** The few JSON shapes the benchmark writes. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case Some(x) => value(x)
    case None => "null"
    case x => str(x.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
