package graft

/** Dev tool: print formatted physical plans for selected queries —
  * used to audit pushdown (PushedFilters/ReadSchema at the parquet scan),
  * WholeStageCodegen spans, and join strategies.
  *
  * Usage: runMain graft.Explain <sfDir> [query ...]  (default: headline set)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q_filter", "q_agg", "q_join_revenue", "q_roll_mean",
        "q_asof", "q_simsearch_topk", "q_minhash_pairs")
    // the measurement session: its plans carry GraftExtensions' rules
    // (SimplifyKernelPredicates) and SQL-registered kernels
    val spark = core.Measure.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
