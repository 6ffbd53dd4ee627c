package perfbench

import graft.Autoscaler
import graft.analytics.MetricAnalytics
import graft.control.{ScalingManager, SimulatedWorkers}
import graft.decide.{CpuLoadEvaluator, MetricSummary, StepScalingAlgorithm}
import graft.model.{ClusterQueriesMetrics, QueryActivity, ResizeAction}
import graft.sinks.BufferingPublisher
import graft.sources.{JmxJson, MetricsFetcher}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `control_ticks`: back-to-back `Autoscaler.ControlLoop.tick()` calls
  * over the generated 1,000-node fleet, the injected clock advancing 15 s
  * per tick, in the loop's dry-run wiring (`SimulatedWorkers` plus a
  * buffering publisher). Every tick's decision is checked against a
  * pure-Scala window model of the generator's ground truth driving a
  * second `ScalingManager`. */
object ControlTicks {
  val WindowN = 4
  val TickMs = 15000L
  val MinCapacity = 2
  val MaxCapacity = 40
  val WarmupTicks = 6
  val StartMs = 1704067200000L

  /** One tick of generated input: each node's payload, the ground truth
    * of the nodes whose payload is a reading (blank and malformed ones
    * must drop out of the window), and the coordinator's payloads with
    * what they say. */
  final case class TickInput(
      phase: String,
      nodes: Array[(String, String)],
      truth: Array[(String, Double)],
      queryStats: String,
      activity: QueryActivity,
      requiredPayload: String,
      required: Int)

  def load(dir: String): Array[TickInput] = {
    val nodeLines = Files.readAllLines(Paths.get(dir, "fleet_nodes.tsv")).asScala
    val byTick = nodeLines.iterator.map(_.split("\t", -1)).toSeq.groupBy(_(0).toInt)
    Files.readAllLines(Paths.get(dir, "fleet_coord.tsv")).asScala.map { line =>
      val f = line.split("\t", -1)
      val rows = byTick(f(0).toInt)
      val activity =
        if (f(3).isEmpty) QueryActivity.AssumeActive
        else {
          val a = f(3).split(",").map(_.toDouble)
          QueryActivity(a(0).toInt, a(1).toInt, a(2), a(3), a(4), a(5), a(6), a(7))
        }
      TickInput(f(1), rows.map(r => (r(1), r(2))).toArray,
        rows.filter(_(3).nonEmpty).map(r => (r(1), r(3).toDouble)).toArray,
        f(2), activity, f(4), f(5).toInt)
    }.toArray
  }

  /** The benchmark-owned fetcher: serves the current tick's payloads. */
  final class FleetFetcher(rec: Recorder) extends MetricsFetcher {
    var current: TickInput = _
    override val name: String = "perfbench-fleet"
    private def frame(spark: SparkSession, rows: Seq[(String, String)]): DataFrame =
      spark.createDataFrame(rows).toDF("node", "payload")
    override def fetchPayloads(spark: SparkSession): DataFrame =
      rec.span("sources.fetch_ms")(frame(spark, current.nodes.toSeq))
    override def fetchNodeList(spark: SparkSession): DataFrame =
      rec.span("sources.fetch_ms")(frame(spark, current.nodes.toSeq).select("node"))
    override def fetchQueryStats(spark: SparkSession): DataFrame =
      rec.span("sources.fetch_ms")(frame(spark, Seq(("coordinator", current.queryStats))))
    override def fetchRequiredWorkers(spark: SparkSession): DataFrame =
      rec.span("sources.fetch_ms")(frame(spark, Seq(("coordinator", current.requiredPayload))))
  }

  /** The program's cascade, timed, with the summary it was handed kept
    * for the check. */
  final class TimedManager(workers: SimulatedWorkers, clock: () => Long, rec: Recorder)
    extends ScalingManager(workers, new StepScalingAlgorithm(new CpuLoadEvaluator,
      workers.minCapacity, workers.maxCapacity), clock) {
    var lastSummary: Option[MetricSummary] = None
    override def evaluate(q: ClusterQueriesMetrics, required: Int,
        summary: MetricSummary): Option[ResizeAction] = {
      lastSummary = Some(summary)
      rec.span("control.evaluate_ms")(super.evaluate(q, required, summary))
    }
  }

  final class TimedPublisher(rec: Recorder) extends BufferingPublisher {
    override def putMetricMap(ns: String, prefix: String, values: Map[String, Double]): Unit =
      rec.span("sinks.publish_ms")(super.putMetricMap(ns, prefix, values))
    override def putMetrics(ns: String, values: Seq[(String, Double)]): Unit =
      rec.span("sinks.publish_ms")(super.putMetrics(ns, values))
  }

  /** The reference window semantics over ground truth: a ring of the last
    * `WindowN` scrape frames; cold until `WindowN` non-empty frames; the
    * node universe is the newest frame's nodes, each averaged over the
    * last `WindowN` frames with missing samples read as 0. */
  final class WindowModel {
    private val ring = mutable.Queue.empty[(Long, Array[(String, Double)])]
    def push(ts: Long, samples: Array[(String, Double)]): Unit = {
      ring.enqueue((ts, samples))
      while (ring.size > WindowN) ring.dequeue()
    }
    def isEmpty: Boolean = ring.forall(_._2.isEmpty)
    def frames: Seq[(Long, Array[(String, Double)])] = ring.toSeq.filter(_._2.nonEmpty)
    def summary: MetricSummary = {
      val fs = frames
      if (fs.size < WindowN) MetricSummary.Cold
      else {
        val newest = fs.maxBy(_._1)._2.map(_._1).distinct
        val perFrame = fs.map(_._2.toMap)
        val avgs = newest.map(n => n -> perFrame.map(_.getOrElse(n, 0.0)).sum / WindowN).toMap
        MetricSummary(isCold = false, avgs, newest.length)
      }
    }
  }

  def run(spark: SparkSession, inputs: String, seconds: Double, rec: Recorder): WorkloadRun = {
    val setups = (0 until 7).map { _ =>
      System.gc() // the previous load's garbage is not this load's cost
      val t0 = System.nanoTime()
      val fleet = load(inputs)
      ((System.nanoTime() - t0) / 1e9, fleet)
    }
    val fleet = setups.last._2
    var now = StartMs
    val clock = () => now
    val workers = new SimulatedWorkers(MinCapacity, MaxCapacity, clock = clock)
    val manager = new TimedManager(workers, clock, rec)
    val fetcher = new FleetFetcher(rec)
    val publisher = new TimedPublisher(rec)
    val loop = new Autoscaler.ControlLoop(spark, fetcher, manager, workers, publisher,
      "perfbench", publish = true, windowN = WindowN, clock = clock)
    val modelWorkers = new SimulatedWorkers(MinCapacity, MaxCapacity, clock = clock)
    val model = new ScalingManager(modelWorkers, new StepScalingAlgorithm(
      new CpuLoadEvaluator, MinCapacity, MaxCapacity), clock)
    val window = new WindowModel
    val failures = mutable.ArrayBuffer.empty[String]
    val actions = mutable.Map.empty[String, Int].withDefaultValue(0)
    val phases = mutable.Map.empty[String, Int].withDefaultValue(0)

    import spark.implicits._
    var t = 0
    var deadline = Long.MaxValue
    while (t < WarmupTicks || System.nanoTime() < deadline) {
      if (t == WarmupTicks) deadline = System.nanoTime() + (seconds * 1e9).toLong
      val in = fleet(t % fleet.length)
      fetcher.current = in
      manager.lastSummary = None
      val measured = t >= WarmupTicks
      val (op, got) = rec.op("tick", measured)(loop.tick())
      // the model sees the same tick through ground truth only
      window.push(now, in.truth)
      val expectSummary = if (window.isEmpty) None else Some(window.summary)
      val expect =
        if (window.isEmpty) None
        else model.evaluate(in.activity.stamped(new Timestamp(now)), in.required,
          expectSummary.get).map(a => (a.action, a.capacity))
      val gotAction = got.flatten.map(d => (d.action, d.capacity))
      val gauges = publisher.records.map(r => r._2 -> r._3).toMap
      val problems = Seq(
        Option.when(got.isEmpty)("tick threw"),
        Option.when(got.nonEmpty && gotAction != expect)(s"decision $gotAction, model $expect"),
        Option.when(got.nonEmpty && manager.lastSummary.map(norm) != expectSummary.map(norm))(
          "window summary differs from the model"),
        Option.when(got.nonEmpty && in.truth.nonEmpty &&
          !gauges.get("trino.totalWorkers").contains(in.truth.length.toDouble))(
          s"published totalWorkers ${gauges.get("trino.totalWorkers")}, scraped ${in.truth.length}")
      ).flatten
      if (problems.nonEmpty) {
        op.ok = false
        failures += s"tick $t (${in.phase}): ${problems.mkString("; ")}"
      }
      if (measured) {
        phases(in.phase) += 1
        gotAction.foreach(a => actions(a._1) += 1)
        op.items = in.nodes.length
        if (rec.traced) {
          // standalone calls of the layers tick() makes internally, on the
          // same inputs: the parse of this tick's payloads and the window
          // analytics over this tick's ring
          rec.probe("sources.parse_ms", op) {
            JmxJson.parsePayloads(fetcher.fetchPayloads(spark), "payload",
              Map("cpu" -> (("ProcessCpuLoad", DoubleType)),
                "cores" -> (("AvailableProcessors", LongType))),
              keepWhenPresent = Some("ProcessCpuLoad"))
              .select(col("node"), col("cpu"), col("cores")).collect()
          }
          val frame = window.frames.flatMap { case (ts, s) =>
            s.map { case (n, v) => (new Timestamp(ts), n, v) } }.toDF("ts", "node", "value")
          rec.probe("analytics.window_ms", op) {
            if (!MetricAnalytics.isCold(frame, WindowN)) {
              MetricAnalytics.oneMinuteAvgExact(frame, WindowN).collect()
              MetricAnalytics.latestTickNodeCount(frame).head()
            }
          }
        }
      }
      publisher.records.clear()
      // the simulated control plane completes a resize within two ticks
      if (t % 2 == 1) { workers.settle(); modelWorkers.settle() }
      now += TickMs
      t += 1
    }
    WorkloadRun(setups.map(_._1), failures.toSeq,
      Map("ticks" -> (t - WarmupTicks), "phases" -> phases.toMap, "actions" -> actions.toMap,
        "final_capacity" -> workers.running),
      covering = Set("sources.fetch_ms", "sources.parse_ms", "analytics.window_ms",
        "control.evaluate_ms", "sinks.publish_ms"))
  }

  private def norm(s: MetricSummary): (Boolean, Int, Seq[(String, Double)]) =
    (s.isCold, s.totalNodes, s.oneMinuteAvg.toSeq.sorted)
}
