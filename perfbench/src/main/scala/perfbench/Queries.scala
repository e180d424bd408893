package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ops.{DocCore, PurchaseGraph}

/** `llm_curation`: cold curation jobs, each building both memo artifact
  * sets and then running a fixed list of dedup, similarity and graph
  * consumers. */
object Queries {
  /** The curation consumers, trimmed so that one cold job fits the run
    * length: one of each family. The list is fixed so every seed does the
    * same work; with the eleven builds a job makes 14 timed calls. */
  val curationConsumers: Seq[String] = Seq(
    "q_dedup_near", "q_sim_knn", "q_graph_kcore")

  /** The memo artifacts, in build order, each as its own call. */
  val docBuilds: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "grams" -> DocCore.grams, "sigs" -> DocCore.sigs,
    "winnowFps" -> DocCore.winnowFps, "winnowPairs" -> DocCore.winnowPairs,
    "dupSpans" -> DocCore.dupSpans, "lmScores" -> DocCore.lmScores,
    "clusters" -> DocCore.clusters)
  val graphBuilds: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "pairs" -> PurchaseGraph.pairs, "thinnedNamed" -> PurchaseGraph.thinnedNamed,
    "lpaLabels" -> PurchaseGraph.lpaLabels,
    "triangle" -> ((s: SparkSession, d: String) => PurchaseGraph.triangle(s, d)._2))

  /** Result checks, one per executed query: (name, "digest" | "rows",
    * value). run.py compares them with the stored oracle digests. */
  val checks = ArrayBuffer.empty[(String, String, String)]

  /** Runs one registry query the way a user would: build the DataFrame,
    * collect its rows. When tracing, the plan is forced on its own first,
    * so building, planning and execution get separate spans. */
  def runQuery(spark: SparkSession, dir: String, name: String,
               rec: Record): Unit = {
    spark.catalog.clearCache()
    val fn = SparkEntry.queries(name)
    val sc = spark.sparkContext
    val res = rec.op("query", name) {
      Trace.operation(name) {
        if (Trace.on) sc.setJobGroup("build:" + name, name)
        val df = Trace.span("ops.build", "ops")(fn(spark, dir))
        if (Trace.on) {
          Trace.span("plan", "plan")(df.queryExecution.executedPlan)
          sc.setJobGroup("exec:" + name, name)
        }
        val rows = Trace.span("exec.collect", "exec")(df.collect())
        sc.clearJobGroup()
        (df.schema, rows)
      }
    }
    res.foreach { case (schema, rows) =>
      val oracle = SparkEntry.oracleSql.contains(name)
      checks.synchronized {
        checks += ((name, if (oracle) "digest" else "rows",
                    if (oracle) Digest.of(schema, rows) else rows.length.toString))
      }
    }
  }

  /** One cold curation job in a fresh session: the session-scoped memo
    * starts empty, so every artifact is built inside the job. */
  def curationJob(spark: SparkSession, dir: String, seed: Long, job: Int,
                  rec: Record): Unit = {
    val s = spark.newSession()
    for ((group, builds) <- Seq("doc" -> docBuilds, "graph" -> graphBuilds);
         (name, build) <- builds) {
      val t0 = System.nanoTime()
      rec.op("build", s"memo.$name") {
        Trace.operation(s"memo.$name") {
          Trace.span(s"memo.$name", "memo")(build(s, dir).count())
        }
      }
      if (Trace.on) {
        val sec = (System.nanoTime() - t0) / 1e9
        rec.add(s"memo.${name}_s", sec)
        rec.add(s"memo.${group}_build_s", sec)
      }
    }
    new scala.util.Random(seed * 104729L + job).shuffle(curationConsumers)
      .foreach(runQuery(s, dir, _, rec))
  }
}
