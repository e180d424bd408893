package graft

import org.apache.spark.sql.SparkSession

/** Registry-wide physical-plan audit: plans every declared query (no
  * execution) and prints one line per query with its CartesianProduct /
  * BroadcastNestedLoopJoin line counts, so scale anti-patterns can't hide
  * in the long tail of the inventory. The ScalaTest twin (ScaleSpec)
  * asserts the allowlist; this main is for eyeballing the full table.
  * Usage: runMain graft.PlanAudit [sfDir]
  */
object PlanAudit {

  /** Runs `f` with a QueryExecutionListener attached and returns the
    * scale-anti-pattern lines (BroadcastNestedLoopJoin / CartesianProduct,
    * tagged with the triggering action) from the physical plan of EVERY
    * action executed inside — including the per-round checkpoint
    * materializations and convergence probes of iterative ops. The final
    * DataFrame of those ops ends in localCheckpoint, which truncates
    * earlier rounds to LogicalRDD scans, so a final-plan-only assert
    * would let a nested loop inside the rounds pass undetected (r6
    * ADVICE); this audits each round's plan as it executes.
    *
    * QueryExecutionListener delivery is async — after `f` returns we wait
    * until the offense count is stable across two 250 ms polls (bounded
    * at 5 s) before detaching. Only offending lines are retained, so
    * memory stays bounded however many actions run. */
  def withPlanOffenses[A](spark: SparkSession)(f: => A): (A, Seq[String]) = {
    val offenses = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        seen.incrementAndGet()
        qe.executedPlan.toString.linesIterator
          .filter(l => l.contains("BroadcastNestedLoopJoin")
                    || l.contains("CartesianProduct"))
          .foreach(l => offenses.add(s"[$funcName] ${l.trim}"))
        ()
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // the listener only sees ACTIONS; iterative ops compile each round's
    // plan at construction and truncate it behind a lazy checkpoint — the
    // probe hook inside their loops reports those rounds here
    graft.ops.PlanProbe.install(l => { offenses.add(l); () })
    try {
      val r = f
      var stable = 0
      var last = -1L
      var waited = 0
      while (stable < 2 && waited < 20) {
        Thread.sleep(250); waited += 1
        val n = seen.get
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      (r, offenses.toArray(Array.empty[String]).toSeq)
    } finally {
      graft.ops.PlanProbe.uninstall()
      spark.listenerManager.unregister(listener)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val cart = plan.split("\n").count(_.contains("CartesianProduct"))
        val bnlj = plan.split("\n").count(_.contains("BroadcastNestedLoopJoin"))
        if (cart > 0 || bnlj > 0)
          println(s"AUDIT $n cartesian=$cart bnlj=$bnlj")
      } catch {
        case e: Throwable => println(s"AUDIT $n PLAN_ERROR ${e.getMessage}")
      }
    }
    println("AUDIT done")
    spark.stop()
  }
}
