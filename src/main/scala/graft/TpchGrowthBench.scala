package graft

/** Scale-growth benchmark for the relational/TPC-H core — the analytics
  * counterpart of [[GrowthBench]]'s dedup curves: runs the five heaviest
  * TPC-H shapes (q21, q2, q8, q9, q17 — multi-join, correlated-subquery,
  * and groupBy-heavy) on [[Synth.writeTpch]] fixtures at 1×/3×/10× the
  * sf0.1 fact volume and prints one JSON line with (sec, bnlj, cartesian)
  * per scale. Near-linear seconds plus zero nested-loop operators at
  * every scale is the claim BASELINE.md records; GrowthSpec asserts the
  * same on smaller corpora inside `sbt test`. A broadcast→SMJ flip as
  * facts grow is EXPECTED and fine; BroadcastNestedLoopJoin or
  * CartesianProduct at any scale is a scale bug.
  *
  * The three BNLJ-free graph ops ride along (r6): writeTpch shifts only
  * orderkeys, so fact volume grows k× while the DISTINCT (cust, supp)
  * membership — and therefore |V| and |E| of the derived graph — stays
  * constant. The expected curve is SUBLINEAR: the k×-growing part is the
  * scan + distinct dedup shuffle, the iterative graph core is bounded by
  * the unchanged |E| — exactly the "derive once, iterate on the small
  * thing" shape a 100 TB graph pipeline relies on.
  *
  * Env: SPARK_GRAFT_SRC_SF (default /root/testdata/sf0.1),
  * SPARK_GRAFT_CPUS (default 32),
  * SPARK_GRAFT_GROWTH_DIR (default /tmp/graft_growth_tpch). */
object TpchGrowthBench {
  val Queries: Seq[String] =
    Seq("q_tpch_q21", "q_tpch_q2", "q_tpch_q8", "q_tpch_q9", "q_tpch_q17",
        "q_graph_cc", "q_graph_labelprop", "q_graph_bfs")

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SRC_SF", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_GROWTH_DIR",
                                   "/tmp/graft_growth_tpch")
    val spark = Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    val scales = Seq(1, 3, 10)
    for (k <- scales) Synth.writeTpch(spark, srcDir, s"$outDir/x$k", k)

    // warm codegen/JVM once so x1 isn't charged the startup cost
    SparkEntry.queries("q_tpch_q6")(spark, s"$outDir/x1").count()

    def r3(v: Double): Double = math.round(v * 1000.0) / 1000.0
    val lines = Queries.map { q =>
      val cells = scales.map { k =>
        spark.catalog.clearCache()
        // the BUILD is inside the timed region: the iterative graph ops
        // run their label loops (with per-round checkpoints and 1-row
        // convergence probes) at DataFrame-construction time, so timing
        // only count() would miss most of their work. Plan audit covers
        // EVERY action executed in the region — the per-round checkpoint
        // plans included, which the final (checkpoint-truncated) plan of
        // the iterative ops no longer shows (r6 ADVICE).
        // timing lives INSIDE the audited block: the listener settle-wait
        // after f must not land in the measurement
        val ((n, sec), off) = graft.PlanAudit.withPlanOffenses(spark) {
          val t0 = System.nanoTime()
          val c = SparkEntry.queries(q)(spark, s"$outDir/x$k").count()
          (c, r3((System.nanoTime() - t0) / 1e9))
        }
        val bnlj = off.count(_.contains("BroadcastNestedLoopJoin"))
        val cart = off.count(_.contains("CartesianProduct"))
        s""""x$k":{"rows":$n,"sec":$sec,"bnlj":$bnlj,"cartesian":$cart}"""
      }
      s""""$q":{${cells.mkString(",")}}"""
    }
    println(s"""{"metric":"tpch_growth","src":"$srcDir",""" +
      s""""ops":{${lines.mkString(",")}}}""")
    spark.stop()
  }
}
