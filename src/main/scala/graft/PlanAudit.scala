package graft

/** Prints physical plans for representative queries — the scale-audit
  * loop: is the filter pushed to the scan, is the projection pruned, are
  * dimension joins broadcast, how wide are the codegen spans.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    // -exec may appear anywhere; strip it before positional parsing so
    // `PlanAudit -exec` (no dir) doesn't read the flag as the data dir
    val exec = args.contains("-exec")
    val rest = args.filterNot(_ == "-exec")
    val sfDir =
      if (rest.nonEmpty) rest(0) else "/root/testdata/sf0.01"
    val spark = Sessions.local("graft-plan-audit")
    val names =
      if (rest.length > 1) rest.drop(1).toSeq
      else Seq("q1_pricing_summary", "q2_project_filter", "q5_multiway_join",
        "q21_self_join", "q22_chunked_index", "x6_cosine_pairs",
        "x8_minhash_lsh", "x12_neardup_pairs", "x54_leakage_split",
        "x64_source_overlap", "x66_sequence_packing",
        "x67_scrub_contamination", "x70_ws_tokens",
        "x71_portable_simhash", "x72_portable_srp")
    // -exec: run each query to a noop sink first and print the FINAL
    // adaptive plan — reused shuffle stages and AQE join demotions only
    // show up post-execution
    names.foreach { n =>
      println(s"\n===== $n =====")
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (exec) {
        // drive THIS dataset's QueryExecution (noop write and
        // Dataset.rdd/foreachPartition each plan a fresh one), so the
        // printed plan is the finalized adaptive plan with its runtime
        // stage graph
        val rdd = df.queryExecution.toRdd
        spark.sparkContext.runJob(rdd,
          (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
            { while (it.hasNext) it.next(); () })
        println(df.queryExecution.executedPlan.toString)
      } else df.explain("formatted")
    }
    spark.stop()
  }
}
