package graft


/** Plan audit: dumps `explain("formatted")` for representative queries so
  * scan pruning (ReadSchema/PushedFilters), join strategies (Broadcast vs
  * SortMerge), TakeOrderedAndProject, and WholeStageCodegen coverage can be
  * reviewed. Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq(
      "q_scan_pushdown", "q_join_broadcast", "q_join_inner", "q_topk",
      "q_agg_basic", "q_sim_cosine_dup", "q_dedup_near", "q_win_tumble_batch",
      "q_join_range", "q_dedup_simhash", "q_dedup_minhash", "q_sample_stratified",
      "q_sim_knn", "q_scd2_build", "q_pack_sequences", "q_sample_split")
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
