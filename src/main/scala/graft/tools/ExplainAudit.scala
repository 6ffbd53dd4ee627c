package graft.tools
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions("graft-explainaudit", defaultCpus = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("r01_pricing_summary", "r03_region_revenue", "r10_filter_agg",
        "x06_minhash_sig", "x10_knn_topk", "m05_quorum")
    for (name <- names) {
      val plan = graft.SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"===== $name =====")
      println(plan.split("\n").take(40).mkString("\n"))
    }
    spark.stop()
  }
}
