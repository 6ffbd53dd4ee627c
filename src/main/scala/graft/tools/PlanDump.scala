package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` of declared queries to files — the
  * optimization rounds' measurement artifact (guide §1: capture the plan
  * shape — Exchange count, join strategy, PushedFilters/ReadSchema,
  * WholeStageCodegen spans — before and after every change).
  *
  * Usage: `sbt "runMain graft.tools.PlanDump <sfDir> <outDir> [q1,q2,...]"`
  *
  * One file per query: `<outDir>/<name>.txt`. NOTE: building a streaming
  * row's DataFrame EXECUTES its drain (the fn runs the fold loop and
  * returns the read-back frame), so the dumped plan is the final
  * read-back's — still the right artifact for those rows, whose timed
  * cost is the drain + read-back; the per-fold jobs are profiled via
  * `FoldProbe` or `ScaleProbe drainprofile` instead. Run at sf0.001 for cheap triage;
  * plan SHAPE is scale-invariant (AQE re-optimization happens at
  * runtime, which `explain` does not show).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val spark = graft.Sessions("graft-plandump", defaultCpus = 32)
    Files.createDirectories(Paths.get(outDir))
    val selected = graft.SparkEntry.queries
      .filter { case (k, _) => only.forall(_.contains(k)) }.toSeq.sortBy(_._1)
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(s"$outDir/$name.txt"), txt.getBytes("UTF-8"))
        // one-line triage summary on stdout: operator red-flag counts
        val ex = "Exchange".r.findAllIn(txt).size
        val smj = "SortMergeJoin".r.findAllIn(txt).size
        val bhj = "BroadcastHashJoin".r.findAllIn(txt).size
        val cart = "Cartesian".r.findAllIn(txt).size
        val bnl = "BroadcastNestedLoop".r.findAllIn(txt).size
        println(f"plandump $name%-34s exch=$ex%3d smj=$smj%2d bhj=$bhj%2d " +
          f"cartesian=$cart%d bnlj=$bnl%d")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
