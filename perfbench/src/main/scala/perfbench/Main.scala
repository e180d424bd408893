package perfbench

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** One benchmark run in one JVM: set up the workload, measure it for the
  * requested time, and write what was observed as JSON for `run.py`,
  * which turns it into the end-to-end and per-layer metrics.
  *
  * {{{
  * perfbench.Main <workload> <seed> <seconds> <trace 0|1> <fixtureDir>
  *                <workDir> <outFile>
  * perfbench.Main --oracles <outFile>
  * }}}
  * The first form runs on `local[N]`, N the number of CPUs. The second
  * writes the oracle SQL of the checked queries. */
object Main {
  val Workloads = Seq("llm_curation", "stream_ingest")

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--oracles")) {
      writeOracles(args(1)); return
    }
    val Array(workload, seedS, secondsS, traceS, fixture, work, out) = args
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val rec = new Record
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark_local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val exec = if (trace) Some(new ExecListener) else None
    try {
      workload match {
        case "llm_curation" => curation(spark, fixture, seed, seconds, rec, exec)
        case "stream_ingest" => streamIngest(spark, work, seed, seconds, rec, exec)
      }
    } catch {
      case e: Throwable => rec.failures += ("run" -> rec.cause(e))
    }
    exec.foreach { l =>
      val traced = rec.units.filter(u => u.traced && u.index >= 0)
      ExecListener.report(rec, l, traced.map(_.wallS).sum, cpus, traced.size)
      layerValues(rec, l, traced.size, traced.map(_.wallS).sum)
      Trace.write(s"$work/spans.jsonl")
    }
    rec.set("peak_rss_mb", Proc.peakRssMb())
    rec.set("jvm_s_before_stop", (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    write(rec, out, workload, seed)
    spark.stop()
  }

  /** The measured loop shared by the closed-loop workloads: units until
    * the time is up, at least one. */
  private def loop(spark: SparkSession, seconds: Double,
                   exec: Option[ExecListener], rec: Record)(unit: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val k = i
      rec.timeUnit(exec.isDefined) {
        exec match {
          case Some(l) => ExecListener.around(spark.sparkContext, l)(unit(k))
          case None => unit(k)
        }
      }
      i += 1
    }
  }

  private def timedReps(rec: Record, n: Int)(f: Int => Unit): Unit =
    rec.setupReps = (0 until n).map { i =>
      val t0 = System.nanoTime(); f(i); (System.nanoTime() - t0) / 1e9
    }

  private def curation(spark: SparkSession, fixture: String, seed: Long,
                       seconds: Double, rec: Record,
                       exec: Option[ExecListener]): Unit = {
    // set-up resolves the fixture tables the job reads (footers and
    // schemas); the jobs themselves are cold
    timedReps(rec, 3)(_ => Seq("documents", "embeddings", "orders", "lineitem")
      .foreach(t => spark.read.parquet(s"$fixture/$t.parquet").schema))
    loop(spark, seconds, exec, rec)(
      Queries.curationJob(spark, fixture, seed, _, rec))
  }

  private def streamIngest(spark: SparkSession, work: String, seed: Long,
                           seconds: Double, rec: Record,
                           exec: Option[ExecListener]): Unit = {
    val s = new StreamIngest(spark, work, seed, rec)
    timedReps(rec, 3)(s.setup)
    s.measure(seconds * 0.9, exec)
  }

  /** Layer totals from the spans, per traced unit. */
  private def layerValues(rec: Record, l: ExecListener, units: Int,
                          wallS: Double): Unit = {
    val n = math.max(1, units).toDouble
    rec.set("ops.build_s", Trace.layerTotal("ops") / n)
    rec.set("ops.eager_jobs", l.get("group.build") / n)
    rec.set("plan.s", Trace.layerTotal("plan") / n)
    rec.set("plan.share", if (wallS > 0) Trace.layerTotal("plan") / wallS else 0.0)
    for (k <- rec.values.keys.toSeq if k.startsWith("memo."))
      rec.set(k, rec.values(k) / n)
    for ((layer, s) <- Trace.selfTimeByLayer())
      rec.set(s"self.${layer}_s", s / n)
  }

  private def write(rec: Record, out: String, workload: String, seed: Long): Unit = {
    val j = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed,
      "session_s" -> rec.sessionS, "setup_reps" -> rec.setupReps,
      "units" -> rec.units.map(u => Map("index" -> u.index, "wall_s" -> u.wallS,
        "cpu_s" -> u.cpuS, "ops" -> u.ops, "traced" -> u.traced)),
      "ops" -> rec.ops.map(o => Seq(o.kind, o.name, o.ms, o.ok, o.unit, o.traced)),
      "failures" -> rec.failures.map { case (a, b) => Seq(a, b) },
      "wrong" -> rec.wrong.map { case (a, b) => Seq(a, b) },
      "checks" -> Queries.checks.map { case (a, b, c) => Seq(a, b, c) },
      "values" -> rec.values,
      "notes" -> rec.notes))
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(j) finally w.close()
  }

  /** Oracle SQL of the queries `llm_curation` runs. */
  private def writeOracles(out: String): Unit = {
    val names = Queries.curationConsumers
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(Json.value(names.map(n =>
      n -> graft.SparkEntry.oracleSql.getOrElse(n, null)).toMap))
    finally w.close()
  }
}
