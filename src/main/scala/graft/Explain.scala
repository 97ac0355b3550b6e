package graft

/** Plan inspector: prints the formatted physical plan for the named
  * queries (or a default headline set) at the given SF dir. Used to audit
  * pushdown (PushedFilters/ReadSchema), join strategies (broadcast vs
  * shuffle), and WholeStageCodegen coverage.
  *
  * `sbt "runMain graft.Explain q01_agg_pricing_summary ..."`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Harness.session(Harness.cpus)
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q02_filter_gt", "q01_agg_pricing_summary",
        "q09_filter_ts_range", "q20_join_broadcast_dim",
        "q21_join_shuffle_fact", "q26_window_rank", "q60_vector_topk_cosine")
    names.foreach { n =>
      println(s"\n######## $n ########")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
