package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB time breakdown for one or more declared queries — the local
  * substitute for the Spark UI's Jobs page (guide §1.1: decide where the
  * time goes before changing anything). Runs each query `runs` times
  * (min wall-clock reported) and prints every Spark job the LAST run
  * launched with its duration and call site, so a lifecycle op's cost
  * decomposes into its staging writes / merges / audits / reads.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.ProfileQ q_lake_mv q_agg_mad [runs]"
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = args.lastOption.flatMap(a =>
      scala.util.Try(a.toInt).toOption).getOrElse(3)
    val names = args.filterNot(a =>
      scala.util.Try(a.toInt).toOption.isDefined).toSeq
    val spark = Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // same warm-up contract as Bench: fixtures listed, graph/doc cores built
    SparkEntry.queries.get("q_agg_basic").foreach(fn => fn(spark, sfDir).count())
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings")) {
      try graft.ops.Tables.byName(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    try {
      graft.ops.PurchaseGraph.pairs(spark, sfDir).count()
      graft.ops.PurchaseGraph.thinnedNamed(spark, sfDir).count()
      graft.ops.PurchaseGraph.lpaLabels(spark, sfDir).count()
      graft.ops.PurchaseGraph.triangle(spark, sfDir)._2.count()
      graft.ops.DocCore.grams(spark, sfDir).count()
      graft.ops.DocCore.sigs(spark, sfDir).count()
      graft.ops.DocCore.winnowFps(spark, sfDir).count()
      graft.ops.DocCore.winnowPairs(spark, sfDir).count()
      graft.ops.DocCore.dupSpans(spark, sfDir).count()
      graft.ops.DocCore.lmScores(spark, sfDir).count()
      graft.ops.DocCore.clusters(spark, sfDir).count()
    } catch { case _: Throwable => () }

    final case class Job(id: Int, desc: String, start: Long,
                         var end: Long = -1L)
    val jobs = mutable.ArrayBuffer[Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          val site = e.stageInfos.lastOption.map(s =>
            s.name + " [" + e.stageInfos.map(_.numTasks).sum + " tasks/" +
              e.stageInfos.length + " stages]").getOrElse("?")
          jobs += Job(e.jobId, site, e.time)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.find(_.id == e.jobId).foreach(_.end = e.time)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      val times = (1 to runs).map { i =>
        spark.catalog.clearCache()
        jobs.synchronized(jobs.clear())
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      // jobs buffer now holds the LAST run's jobs; listener events are
      // async — a short sleep lets the tail land
      Thread.sleep(300)
      println(f"\n[profileq] $n runs=" +
        times.map(t => f"$t%.3f").mkString(" "))
      for ((label, sec, calls) <- graft.ops.Prof.dumpAndReset())
        println(f"[profileq]   prof $label%-26s ${sec / runs}%7.3f s/run  ($calls calls)")
      val snap = jobs.synchronized(jobs.toVector)
      val done = snap.filter(_.end > 0)
      println(f"[profileq] ${done.length} jobs, " +
        f"sum ${done.map(j => j.end - j.start).sum / 1e3}%.3f s " +
        "(last run); slowest first:")
      for (j <- done.sortBy(j => -(j.end - j.start)).take(25))
        println(f"[profileq]   ${(j.end - j.start) / 1e3}%7.3f s  job ${j.id}%3d  ${j.desc}")
    }
    spark.stop()
  }
}
