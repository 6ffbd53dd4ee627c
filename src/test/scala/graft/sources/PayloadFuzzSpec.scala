package graft.sources

import graft.{Autoscaler, SparkSpec}
import graft.control.{ScalingManager, SimulatedWorkers}
import graft.decide.{CpuLoadEvaluator, MetricSummary, StepScalingAlgorithm}
import graft.model.{ClusterQueriesMetrics, ResizeAction}
import graft.sinks.BufferingPublisher
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.sql.Timestamp
import scala.util.Random

/** Seeded payload fuzz through the two faces of [[JmxJson]]: the frame
  * face ([[JmxJson.parsePayloads]]) must agree with the reader on every
  * payload, and a control-loop tick over a fuzzed stub fleet must never
  * throw and must decide as a window model of the labelled readings. */
class PayloadFuzzSpec extends SparkSpec {
  import PayloadFuzz._

  private val Fields = Map(
    "cpu" -> (("ProcessCpuLoad", DoubleType)),
    "cores" -> (("AvailableProcessors", LongType)),
    "running" -> (("RunningQueries", LongType)),
    "required" -> (("RequiredWorkers", LongType)))

  test("parsePayloads agrees with the reader on every fuzzed payload") {
    import spark.implicits._
    val rng = new Random(11)
    val payloads = Seq.fill(600)(node(rng).payload) ++ Seq.fill(200)(mangle(rng, node(rng).payload)) ++
      QueryStats.map(_._1) ++ Required.map(_._1) ++ Shapeless
    val df = payloads.zipWithIndex.map(_.swap).toDF("id", "payload")
    for (gate <- Seq(None, Some("ProcessCpuLoad"), Some("RunningQueries"), Some("SystemCpuLoad"))) {
      val got = JmxJson.parsePayloads(df, "payload", Fields, keepWhenPresent = gate)
        .select("id", "cpu", "cores", "running", "required")
        .as[(Int, Double, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      payloads.zipWithIndex.foreach { case (p, i) =>
        val a = JmxJson.attributes(p)
        val kept = gate.forall(g => a.isPresent(g) &&
          Fields.values.forall { case (attr, t) => attr != g || a.gauge(attr, t) != JmxJson.Gauge.Fault })
        val want = (i, a.double("ProcessCpuLoad").orZero(0.0), a.long("AvailableProcessors").orZero(0L),
          a.long("RunningQueries").orZero(0L), a.long("RequiredWorkers").orZero(0L))
        assert(got.get(i) === Option.when(kept)(want), s"gate $gate, payload $p")
      }
    }
  }

  test("parsePayloads keeps the frame's columns and adds the fields in order") {
    import spark.implicits._
    val df = Seq(("n1", "x", mbean(Seq("ProcessCpuLoad" -> "0.5")))).toDF("node", "cpu", "payload")
    val out = JmxJson.parsePayloads(df, "payload", Map(
      "cpu" -> (("ProcessCpuLoad", DoubleType)), "cores" -> (("AvailableProcessors", LongType))))
    assert(out.columns.toSeq === Seq("node", "cpu", "payload", "cores"))
    assert(out.schema("cpu").dataType === DoubleType && out.schema("cores").dataType === LongType)
    assert(out.select("cpu", "cores").as[(Double, Long)].collect().toSeq === Seq((0.5, 0L)))
    intercept[IllegalArgumentException](JmxJson.parsePayloads(df, "payload",
      Map("x" -> (("ProcessCpuLoad", org.apache.spark.sql.types.StringType)))))
  }

  /** Serves the current tick's fuzzed payloads. */
  private class FleetFetcher extends MetricsFetcher {
    override val name = "fuzz"
    var nodes: Seq[(String, String)] = Nil
    var stats = ""
    var required = ""
    override def fetchPayloads(s: SparkSession): DataFrame = {
      import s.implicits._
      nodes.toDF("node", "payload")
    }
    override def fetchNodeList(s: SparkSession): DataFrame = {
      import s.implicits._
      nodes.map(_._1).toDF("node")
    }
    override def fetchQueryStats(s: SparkSession): DataFrame = {
      import s.implicits._
      Seq(stats).toDF("payload")
    }
    override def fetchRequiredWorkers(s: SparkSession): DataFrame = {
      import s.implicits._
      Seq(required).toDF("payload")
    }
  }

  private class RecordingManager(workers: SimulatedWorkers, clock: () => Long)
    extends ScalingManager(workers,
      new StepScalingAlgorithm(new CpuLoadEvaluator, workers.minCapacity, workers.maxCapacity),
      clock) {
    var last: Option[MetricSummary] = None
    override def evaluate(q: ClusterQueriesMetrics, required: Int,
        summary: MetricSummary): Option[ResizeAction] = {
      last = Some(summary)
      super.evaluate(q, required, summary)
    }
  }

  test("a tick over a fuzzed fleet never throws and decides as the window model") {
    val WindowN = 4
    for (seed <- 1 to 2) {
      val rng = new Random(100 + seed)
      var now = 1000000000L
      val clock = () => now
      val workers = new SimulatedWorkers(2, 30, clock = clock)
      val mgr = new RecordingManager(workers, clock)
      val pub = new BufferingPublisher
      val fetcher = new FleetFetcher
      val loop = new Autoscaler.ControlLoop(spark, fetcher, mgr, workers, pub, "fuzz",
        publish = true, windowN = WindowN, clock = clock)
      val modelWorkers = new SimulatedWorkers(2, 30, clock = clock)
      val model = new ScalingManager(modelWorkers, new StepScalingAlgorithm(
        new CpuLoadEvaluator, 2, 30), clock)
      // the reference window over the labels: the last WindowN frames,
      // cold below WindowN non-empty frames, the newest frame's nodes
      // averaged over WindowN with a missing reading as 0
      var ring = Vector.empty[Map[String, Double]]
      val bands = Seq((0.75, 0.99), (0.05, 0.3), (0.52, 0.68))
      var band = bands.head
      var actions = 0
      (0 until 36).foreach { t =>
        if (t % 6 == 0) band = bands(rng.nextInt(bands.length))
        val fleet = (0 until 12).map(i => s"n$i" -> node(rng, band._1, band._2, faultShare = 0.3))
        val (stats, activity) = QueryStats(rng.nextInt(QueryStats.length))
        val (required, hint) = Required(rng.nextInt(Required.length))
        fetcher.nodes = fleet.map { case (n, p) => (n, p.payload) }
        fetcher.stats = stats
        fetcher.required = required
        mgr.last = None
        pub.records.clear()

        val got = loop.tick().map(d => (d.action, d.capacity))

        val truth = fleet.collect { case (n, NodePayload(_, Some(c), cores)) => (n, c, cores) }
        ring = (ring :+ truth.map(r => r._1 -> r._2).toMap).takeRight(WindowN)
        val frames = ring.filter(_.nonEmpty)
        val summary =
          if (frames.isEmpty) None
          else if (frames.size < WindowN) Some(MetricSummary.Cold)
          else Some(MetricSummary(isCold = false, frames.last.keys.map(n =>
            n -> frames.map(_.getOrElse(n, 0.0)).sum / WindowN).toMap, frames.last.size))
        val want = summary.flatMap(s =>
          model.evaluate(activity.stamped(new Timestamp(now)), hint, s))
          .map(a => (a.action, a.capacity))
        assert(mgr.last === summary, s"seed $seed tick $t summary")
        assert(got === want, s"seed $seed tick $t decision")
        actions += got.size
        if (truth.nonEmpty) {
          val gauges = pub.records.map(r => r._2 -> r._3).toMap
          assert(gauges("trino.totalWorkers") === truth.size.toDouble)
          assert(gauges("trino.totalAvailableCores") === truth.map(_._3).sum.toDouble)
          assert(gauges("trino.requiredWorkers") === hint.toDouble)
          assert(gauges("trino.totalRunningQueries") === activity.running.toDouble)
        }
        if (t % 2 == 1) { workers.settle(); modelWorkers.settle() }
        now += 15000L
      }
      assert(actions > 0, s"seed $seed: the fleet never moved the cascade")
    }
  }
}
