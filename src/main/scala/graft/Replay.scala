package graft

import graft.analytics.MetricAnalytics
import graft.control.{ScalingManager, SimulatedWorkers}
import graft.decide.{CpuLoadEvaluator, MetricSummary, StepScalingAlgorithm}
import graft.model.ClusterQueriesMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * End-to-end batch replay of the reference's One Real Query
 * (SURVEY.md §7.2): "should the cluster resize, and to what capacity,
 * given the last minute of per-node CPU?"
 *
 * Reads an events-style fixture, reinterprets it as the metric tick stream
 * (user_id → node, value → cpu load), replays the evaluation cascade over a
 * sliding cursor of ticks, and prints the ResizeAction trace — the e2e the
 * reference never had (SURVEY.md §5.4).
 *
 * Usage: runMain graft.Replay [sfDir] [numTicks] [confPath]
 */
object Replay {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val numTicks = args.lift(1).map(_.toInt).getOrElse(12)
    val conf = args.lift(2).map(GraftConfig.load).getOrElse(GraftConfig.default)
    val spark = Sessions("graft-replay", defaultCpus = 4)
    try run(spark, sfDir, numTicks, conf)
    finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, numTicks: Int,
          conf: GraftConfig = GraftConfig.default): Unit = {
    import spark.implicits._

    // The fixture's events become metric samples: one "tick" per hour
    // (events are sparse, so 15 s ticks would hold ~1 node each),
    // node = user_id, cpu = the node's mean value scaled into [0, 1].
    val events = graft.sources.Tables.events(spark, sfDir)
    val samples = events
      .groupBy(date_trunc("hour", col("ts")).as("ts"),
        concat(lit("node-"), col("user_id")).as("node"))
      .agg(least(avg(col("value")) / lit(150.0), lit(1.0)).as("value"))

    val ticks = samples.select("ts").distinct().orderBy("ts")
      .as[java.sql.Timestamp].take(numTicks + 20)

    // simulated clock: one evaluation tick = 15 s of wall time, so the
    // cooldown gate behaves as it would on the reference cadence
    var simNow = 1000000000L
    // scaling bounds/steps come from the S8 config surface (reference key
    // names scaling.ig.*; defaults reproduce application.conf)
    val workers = new SimulatedWorkers(
      minCapacity = conf.igMinNumNodes, maxCapacity = conf.igMaxNumNodes,
      concurrent = conf.igScaleConcurrently,
      groupIds = Seq("ig-1", "ig-2"), clock = () => simNow)
    workers.resize(5); workers.settle()
    val mgr = new ScalingManager(workers,
      new StepScalingAlgorithm(new CpuLoadEvaluator,
        minCapacity = conf.igMinNumNodes, maxCapacity = conf.igMaxNumNodes,
        stepExpand = conf.igScaleStepExpand, stepShrink = conf.igScaleStepShrink),
      clock = () => simNow)

    println(f"${"tick"}%-22s${"nodes"}%6s${"cold"}%6s${"decision"}%12s${"running"}%9s")
    ticks.take(numTicks).zipWithIndex.foreach { case (cursor, tickIdx) =>
      // ring buffer as of this cursor: the newest 20 ticks (A3)
      val visible = samples.filter(col("ts") <= lit(cursor))
      val buffer = MetricAnalytics.retainLastN(visible, 20)
      val cold = MetricAnalytics.isCold(buffer, 4)
      val summary =
        if (cold) MetricSummary.Cold
        else {
          val avgs = MetricAnalytics.oneMinuteAvgExact(buffer, 4)
            .as[(String, Double)].collect().toMap
          val total = MetricAnalytics.latestTickNodeCount(buffer)
            .as[Long].head().toInt
          MetricSummary(isCold = false, avgs, total)
        }
      // the replay keeps the cluster "busy" so the trace shows the CPU
      // cascade; the idle short-circuit is exercised by ControlSpec
      val stats = ClusterQueriesMetrics(cursor,
        runningQueries = 1, queuedQueries = 0, 0, 0, 0, 0, 0)
      // one deterministic ClusterSizeMonitor hint tick mid-replay: the
      // scaling-hints branch (required > running expands ahead of the
      // cooldown gate — reference scaling/ScalingManager.scala:34-36)
      // is visible in the trace, not just in ControlSpec
      val requiredWorkers = if (tickIdx == 6) workers.running + 3 else 0
      val decision = mgr.evaluate(stats, requiredWorkers, summary)
      workers.settle()
      simNow += 15000L * 9 // ~2 min+ between replayed ticks: cooldown visible but finite
      println(f"$cursor%-22s${summary.totalNodes}%6d$cold%6s${decision.map(a => s"${a.action}:${a.capacity}").getOrElse("-")}%12s${workers.running}%9d")
    }
  }

  /** The flagship single-shot form: one decision from the whole fixture —
    * used by [[SparkEntry.entry]] smoke checks. */
  def flagship(spark: SparkSession, sfDir: String): DataFrame = {
    val events = graft.sources.Tables.events(spark, sfDir)
    val samples = events.select(
      (floor(unix_timestamp(col("ts")) / 15) * 15).cast("timestamp").as("ts"),
      concat(lit("node-"), col("user_id")).as("node"),
      least(col("value") / lit(200.0), lit(1.0)).as("value"))
    val buffer = MetricAnalytics.retainLastN(samples, 20)
    val q = MetricAnalytics.quorum(buffer, expandThreshold = 0.7,
      shrinkThreshold = 0.5, nodesFraction = 0.8)
    val cold = MetricAnalytics.isCold(buffer, 4)
    q.withColumn("is_cold", lit(cold))
      .withColumn("decision",
        when(col("is_cold"), "NONE")
          .when(col("is_greater"), "EXPAND")
          .when(col("is_between"), "NONE")
          .otherwise("SHRINK"))
  }
}
