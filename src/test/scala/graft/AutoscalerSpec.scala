package graft

import graft.control.{ScalingManager, SimulatedWorkers}
import graft.decide.{CpuLoadEvaluator, MetricSummary, StepScalingAlgorithm}
import graft.model.{ClusterQueriesMetrics, ResizeAction}
import graft.sinks.BufferingPublisher
import graft.sources.MetricsFetcher
import graft.streaming.MetricsPipeline
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The production entry-point loop ([[Autoscaler.ControlLoop]]) driven
  * end-to-end with a stub fetcher: scrape → ring window → cold gate →
  * EXPAND → gauge publish → cooldown → drain SHRINK — the
  * TrinoAutoscaler.scala:14-34 composition with every boundary injected. */
class AutoscalerSpec extends SparkSpec {

  private class StubFetcher(cpu: () => Double,
                            queries: () => Option[(Long, Long)] = () => None,
                            fiveMinCompleted: () => Double = () => 0.0,
                            required: () => Option[Long] = () => None,
                            blank: () => Boolean = () => false,
                            extraNodes: Seq[(String, String)] = Nil,
                            rawStats: () => Option[String] = () => None,
                            rawRequired: () => Option[String] = () => None)
    extends MetricsFetcher {
    override val name = "stub"
    /** Every frame handed out, in order. */
    val frames = scala.collection.mutable.Buffer.empty[DataFrame]
    private def kept(frame: DataFrame): DataFrame = { frames += frame; frame }
    override def fetchPayloads(s: SparkSession): DataFrame = kept {
      import s.implicits._
      (Seq("n1", "n2").map(n => (n,
        if (blank()) "" // every node's scrape failed
        else s"""{"attributes":[{"name":"ProcessCpuLoad","value":${cpu()}},
           |{"name":"AvailableProcessors","value":8}]}""".stripMargin)) ++ extraNodes)
        .toDF("node", "payload")
    }
    override def fetchNodeList(s: SparkSession): DataFrame = {
      import s.implicits._
      Seq.empty[String].toDF("body")
    }
    override def fetchQueryStats(s: SparkSession): DataFrame = kept {
      import s.implicits._
      if (rawStats().isDefined) Seq(rawStats().get).toDF("payload")
      else queries() match {
        case None => Seq("").toDF("payload")
        case Some((-1L, _)) => // degraded scrape: non-blank, no gauges
          Seq("""{"attributes":[]}""").toDF("payload")
        case Some((run, q)) => Seq(
          s"""{"attributes":[{"name":"RunningQueries","value":$run},
             |{"name":"QueuedQueries","value":$q},
             |{"name":"CompletedQueries.FiveMinute.Count","value":${fiveMinCompleted()}},
             |{"name":"FailedQueries.OneMinute.Count","value":0.25}]}""".stripMargin)
          .toDF("payload")
      }
    }
    override def fetchRequiredWorkers(s: SparkSession): DataFrame = kept {
      import s.implicits._
      if (rawRequired().isDefined) Seq(rawRequired().get).toDF("payload")
      else required() match {
        case None => Seq("").toDF("payload")
        case Some(r) => Seq(
          s"""{"attributes":[{"name":"RequiredWorkers","value":$r}]}""")
          .toDF("payload")
      }
    }
  }

  test("tick loop: cold 3 ticks, EXPAND on the 4th, gauges out, drain after cooldown") {
    var now = 1000000000L
    var cpu = 0.9
    val workers = new SimulatedWorkers(0, 20, clock = () => now)
    workers.resize(5); workers.settle()
    val mgr = new ScalingManager(workers,
      new StepScalingAlgorithm(new CpuLoadEvaluator, 0, 20), () => now)
    val pub = new BufferingPublisher
    val loop = new Autoscaler.ControlLoop(spark, new StubFetcher(() => cpu),
      mgr, workers, pub, "AWS/EMR", publish = true, clock = () => now)

    val first4 = (1 to 4).map { _ =>
      val r = loop.tick(); workers.settle(); now += 15000L; r
    }
    // one-minute ring needs 4 samples per node before any decision
    assert(first4.take(3).forall(_.isEmpty), "must stay cold until the window fills")
    assert(first4(3).exists(_.action == "EXPAND"))
    assert(workers.requested === 10)
    // K1/K2 gauges: per-node CPU fan-out + scalar worker gauges + target
    val names = pub.records.map(_._2).toSet
    assert(names.contains("trino.cpu.n1") && names.contains("trino.cpu.n2"))
    assert(names.contains("trino.runningWorkers") && names.contains("trino.targetCapacity"))
    assert(pub.records.forall(_._1 == "AWS/EMR"))

    // drain: CPU drops, but the ring still holds 3 hot samples — the
    // first post-cooldown tick legitimately re-EXPANDs on the stale-hot
    // window (the ring is the reference's MetricStore semantics). Flush
    // the window with 4 cool ticks, let the new cooldown lapse, and the
    // fully-cool window must SHRINK.
    cpu = 0.2
    now += 120001L
    (1 to 4).foreach { _ => loop.tick(); workers.settle(); now += 15000L }
    now += 120001L
    val drain = (1 to 2).map { _ =>
      val r = loop.tick(); workers.settle(); now += 15000L; r
    }
    assert(drain.flatten.exists(_.action == "SHRINK"),
      s"expected a drain SHRINK, got ${drain.flatten}")
  }

  test("idle gauges shrink to min; blank query stats must NOT read as idle") {
    var now = 2000000000L
    var queries: Option[(Long, Long)] = Some((3L, 1L))
    val workers = new SimulatedWorkers(2, 20, clock = () => now)
    workers.resize(8); workers.settle()
    val mgr = new ScalingManager(workers,
      new StepScalingAlgorithm(new CpuLoadEvaluator, 2, 20), () => now)
    val marker = java.nio.file.Files.createTempFile("graft-idle", ".marker")
    java.nio.file.Files.delete(marker)
    val loop = new Autoscaler.ControlLoop(spark,
      new StubFetcher(() => 0.6, () => queries), mgr, workers,
      new BufferingPublisher, "AWS/EMR", publish = false, clock = () => now,
      idleMarker = Some(new graft.sinks.IdleMarkerSink(marker.toString)))

    // busy cluster: K4 marker is touched, no idle shrink
    loop.tick(); workers.settle(); now += 15000L
    assert(java.nio.file.Files.exists(marker), "busy tick must touch the marker")
    assert(workers.requested === 8)

    // blank stats (fetcher blind): assume ACTIVE - still no idle shrink
    assert(!loop.lastTick.get.assumeActive)
    queries = None
    loop.tick(); workers.settle(); now += 15000L
    assert(workers.requested === 8, "blank query stats must not idle-shrink")
    assert(loop.lastTick.get.assumeActive)

    // attribute-less payload (degraded scrape, non-blank): the gate is
    // the RunningQueries gauge being PRESENT - zero-filling it would
    // read as idle and shrink a busy cluster to min
    queries = Some((-1L, -1L)) // sentinel: StubFetcher emits an empty attribute list
    loop.tick(); workers.settle(); now += 15000L
    assert(workers.requested === 8, "attribute-less stats must not idle-shrink")

    // truly idle: running=queued=0 -> immediate shrink to minCapacity
    queries = Some((0L, 0L))
    val d = loop.tick()
    assert(d.exists(a => a.action == "SHRINK" && a.capacity == 2),
      s"expected idle shrink to min, got $d")
    assert(workers.requested === 2)
  }

  test("scaling hint: required > running expands to required AHEAD of the cooldown gate") {
    var now = 3000000000L
    var required: Option[Long] = Some(9L)
    val workers = new SimulatedWorkers(0, 20, clock = () => now)
    workers.resize(5); workers.settle()
    val mgr = new ScalingManager(workers,
      new StepScalingAlgorithm(new CpuLoadEvaluator, 0, 20), () => now)
    val loop = new Autoscaler.ControlLoop(spark,
      new StubFetcher(() => 0.55, () => Some((2L, 0L)), required = () => required),
      mgr, workers, new BufferingPublisher, "AWS/EMR", publish = false,
      clock = () => now)

    // tick 1: hint 9 > running 5 -> EXPAND:9 immediately (cold window is
    // irrelevant: the hint branch precedes the CPU cascade entirely)
    val d1 = loop.tick(); workers.settle(); now += 15000L
    assert(d1.exists(a => a.action == "EXPAND" && a.capacity == 9),
      s"hint must expand to required, got $d1")

    // tick 2, 15 s later — DEEP inside the 2-min cooldown a CPU-driven
    // action would wait out: a larger hint must still expand
    required = Some(12L)
    val d2 = loop.tick(); workers.settle(); now += 15000L
    assert(d2.exists(a => a.action == "EXPAND" && a.capacity == 12),
      s"hint must bypass the cooldown gate, got $d2")
    assert(workers.requested === 12)

    // tick 3: hint gone (blank payload -> 0); mid CPU + fresh cooldown ->
    // the ordinary gated path does nothing
    required = None
    val d3 = loop.tick()
    assert(d3.isEmpty, s"without a hint the cooldown gate must hold, got $d3")
  }

  test("draining cluster: zero running/queued with hot 5-min counters must NOT idle-shrink") {
    var now = 4000000000L
    var completed5m = 3.2 // last queries finished <5 min ago (decayed counter >= 1)
    val workers = new SimulatedWorkers(2, 20, clock = () => now)
    workers.resize(8); workers.settle()
    val mgr = new ScalingManager(workers,
      new StepScalingAlgorithm(new CpuLoadEvaluator, 2, 20), () => now)
    val loop = new Autoscaler.ControlLoop(spark,
      new StubFetcher(() => 0.6, () => Some((0L, 0L)),
        fiveMinCompleted = () => completed5m),
      mgr, workers, new BufferingPublisher, "AWS/EMR", publish = false,
      clock = () => now)

    // draining: running=queued=0 but CompletedQueries.FiveMinute >= 1 —
    // reference idle needs ALL five decayed counters < 1
    // (scaling/ScalingManager.scala:103-117)
    loop.tick(); workers.settle(); now += 15000L
    assert(workers.requested === 8,
      "a draining cluster must not shrink-to-min a tick early")

    // counters decay below 1 -> now genuinely idle -> shrink to min
    completed5m = 0.4
    val d = loop.tick()
    assert(d.exists(a => a.action == "SHRINK" && a.capacity == 2),
      s"expected idle shrink once counters decay, got $d")
  }

  test("publish tick emits the reference's full 7-family CloudWatch gauge set") {
    var now = 5000000000L
    val workers = new SimulatedWorkers(0, 20, clock = () => now)
    workers.resize(5); workers.settle()
    val mgr = new ScalingManager(workers,
      new StepScalingAlgorithm(new CpuLoadEvaluator, 0, 20), () => now)
    val pub = new BufferingPublisher
    val loop = new Autoscaler.ControlLoop(spark,
      new StubFetcher(() => 0.55, () => Some((4L, 2L)), required = () => Some(3L)),
      mgr, workers, pub, "AWS/EMR", publish = true, clock = () => now)
    loop.tick()
    val names = pub.records.map(_._2).toSet
    // metrics/TrinoMetricStore.scala:54-68 family set
    val expected = Set("trino.cpu.n1", "trino.cpu.n2", "trino.requiredWorkers",
      "trino.totalWorkers", "trino.totalAvailableCores",
      "trino.totalOneMinFailedQueries", "trino.totalQueuedQueries",
      "trino.totalRunningQueries")
    assert(expected.subsetOf(names), s"missing ${expected -- names}")
    val byName = pub.records.map(r => r._2 -> r._3).toMap
    assert(byName("trino.totalAvailableCores") === 16.0) // 2 nodes x 8
    assert(byName("trino.totalRunningQueries") === 4.0)
    assert(byName("trino.totalQueuedQueries") === 2.0)
    assert(byName("trino.totalOneMinFailedQueries") === 0.25)
    assert(byName("trino.requiredWorkers") === 3.0)
  }

  /** The cascade, with every window summary it was handed kept. */
  private class RecordingManager(workers: SimulatedWorkers, clock: () => Long)
    extends ScalingManager(workers,
      new StepScalingAlgorithm(new CpuLoadEvaluator, workers.minCapacity, workers.maxCapacity),
      clock) {
    val summaries = scala.collection.mutable.Buffer.empty[MetricSummary]
    override def evaluate(q: ClusterQueriesMetrics, required: Int,
        summary: MetricSummary): Option[ResizeAction] = {
      summaries += summary
      super.evaluate(q, required, summary)
    }
  }

  /** Every phase of the record took time inside its tick. */
  private def assertPhasesWithinTick(record: Autoscaler.TickRecord): Unit = {
    val phases = record.phasesMs.productIterator.map(_.asInstanceOf[Double]).toSeq
    assert(phases.forall(_ >= 0.0), record.phasesMs)
    assert(phases.init.sum <= record.phasesMs.tick, record.phasesMs)
  }

  test("a warm tick evaluates its window without a Spark job") {
    var now = 6000000000L
    val workers = new SimulatedWorkers(0, 20, clock = () => now)
    workers.resize(5); workers.settle()
    val mgr = new RecordingManager(workers, () => now)
    val fetcher = new StubFetcher(() => 0.6, () => Some((2L, 0L)), required = () => Some(3L))
    val loop = new Autoscaler.ControlLoop(spark, fetcher,
      mgr, workers, new BufferingPublisher, "AWS/EMR", publish = true,
      clock = () => now)
    (1 to 4).foreach { _ => loop.tick(); workers.settle(); now += 15000L }
    assert(!mgr.summaries.last.isCold, "four ticks fill the window")
    fetcher.frames.clear()

    val sc = spark.sparkContext
    def jobs(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      GraftBridge.drainListeners(sc)
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val sqlStarts = new java.util.concurrent.atomic.AtomicInteger
    val executions = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sqlStarts.incrementAndGet()
        case _ =>
      }
    }
    sc.addSparkListener(executions)
    var decision: Option[MetricsPipeline.Decision] = None
    val tickJobs =
      try jobs("warm-tick") { decision = loop.tick() }
      finally sc.removeSparkListener(executions)
    assert(mgr.summaries.last === MetricSummary(isCold = false,
      Map("n1" -> 0.6, "n2" -> 0.6), 2))
    val record = loop.lastTick.get
    assert((record.payloadRows, record.nodesKept, record.nodesDropped) === ((2, 2, 0)))
    assert(record.ringFrames === 4 && !record.assumeActive && record.requiredWorkers === 3)
    assert(record.decision === decision)
    assertPhasesWithinTick(record)
    // the node frame and both coordinator frames, each read from its
    // analyzed plan: none went through the optimizer or the planner
    assert(fetcher.frames.size === 3)
    for (f <- fetcher.frames) {
      val ran = f.queryExecution.tracker.phases.keySet
      assert(!ran.contains("optimization") && !ran.contains("planning"),
        s"a fetched frame ran $ran")
    }
    // the whole tick: the stub fetcher's frames are local relations, so
    // the three frame reads run local scans and start no job; any job
    // here comes from the window step
    assert(tickJobs === 0, s"a warm tick started $tickJobs Spark jobs")
    // and the reads run the frames' plans directly: no Dataset action
    // posts a SQL execution
    assert(sqlStarts.get === 0, s"a warm tick posted ${sqlStarts.get} SQL executions")
  }

  test("all-blank node scrape never reads as 0% CPU: cold stays cold, warm holds its decision") {
    var now = 7000000000L
    var blank = false
    val workers = new SimulatedWorkers(0, 20, clock = () => now)
    workers.resize(5); workers.settle()
    val mgr = new RecordingManager(workers, () => now)
    val pub = new BufferingPublisher
    val loop = new Autoscaler.ControlLoop(spark,
      new StubFetcher(() => 0.6, () => Some((2L, 0L)), blank = () => blank),
      mgr, workers, pub, "AWS/EMR", publish = true, clock = () => now)
    def tick(blankScrape: Boolean): Option[MetricsPipeline.Decision] = {
      blank = blankScrape
      val d = loop.tick(); workers.settle(); now += 15000L; d
    }

    // a blank first scrape leaves an empty window: nothing to evaluate
    assert(loop.lastTick.isEmpty)
    assert(tick(blankScrape = true).isEmpty && mgr.summaries.isEmpty)
    assert(pub.records.isEmpty, "a blank scrape publishes no node gauges")
    val blankRecord = loop.lastTick.get
    assert((blankRecord.payloadRows, blankRecord.nodesKept, blankRecord.nodesDropped) ===
      ((2, 0, 2)))
    assert(blankRecord.ringFrames === 1 && !blankRecord.assumeActive)
    assert(blankRecord.requiredWorkers === 0 && blankRecord.decision.isEmpty)
    assertPhasesWithinTick(blankRecord)

    // cold: one reading, then a blank scrape — still cold
    tick(blankScrape = false)
    assert(tick(blankScrape = true).isEmpty)
    assert(mgr.summaries.map(_.isCold) === Seq(true, true))

    // warm at 0.6 (inside the 0.5-0.7 band: no action). Read as 0%, a
    // blank scrape would pull each mean to 0.45 and SHRINK 5 -> 2.
    (1 to 4).foreach(_ => tick(blankScrape = false))
    val warm = MetricSummary(isCold = false, Map("n1" -> 0.6, "n2" -> 0.6), 2)
    assert(mgr.summaries.last === warm)
    assert(tick(blankScrape = true).isEmpty, "a blank scrape must not SHRINK")
    // the blank holds a ring slot: the window has three readings for four
    // slots, so the cascade gets the cold summary, never a diluted mean
    assert(mgr.summaries.last === MetricSummary.Cold)
    assert(workers.requested === 5)
    // once the blank leaves the ring, the same universe and decision return
    val after = (1 to 4).map(_ => tick(blankScrape = false))
    assert(after.forall(_.isEmpty) && workers.requested === 5)
    assert(mgr.summaries.last === warm)
  }

  test("a warm tick drops nodes whose CPU gauge faults and counts only clean nodes") {
    var now = 8000000000L
    val workers = new SimulatedWorkers(0, 20, clock = () => now)
    workers.resize(5); workers.settle()
    val mgr = new RecordingManager(workers, () => now)
    val pub = new BufferingPublisher
    // each of these threw inside the tick's old Spark parse under ANSI
    // casts or map-key dedup, failing the whole tick
    val faulty = Seq(
      "na" -> """{"attributes":[{"name":"ProcessCpuLoad","value":"n/a"},
                |{"name":"AvailableProcessors","value":8}]}""".stripMargin,
      // a duplicate name reads as its last occurrence, here a null value
      "dup" -> """{"attributes":[{"name":"ProcessCpuLoad","value":0.9},
                 |{"name":"AvailableProcessors","value":8},
                 |{"name":"ProcessCpuLoad","value":null}]}""".stripMargin,
      "nan" -> """{"attributes":[{"name":"ProcessCpuLoad","value":"NaN"},
                 |{"name":"AvailableProcessors","value":8}]}""".stripMargin)
    val loop = new Autoscaler.ControlLoop(spark,
      new StubFetcher(() => 0.6, () => Some((2L, 0L)), extraNodes = faulty),
      mgr, workers, pub, "AWS/EMR", publish = true, clock = () => now)
    (1 to 4).foreach { _ => loop.tick(); workers.settle(); now += 15000L }
    pub.records.clear()
    assert(loop.tick().isEmpty)
    assert(mgr.summaries.last === MetricSummary(isCold = false,
      Map("n1" -> 0.6, "n2" -> 0.6), 2))
    val byName = pub.records.map(r => r._2 -> r._3).toMap
    assert(byName("trino.totalWorkers") === 2.0)
    assert(byName("trino.totalAvailableCores") === 16.0)
    assert(byName.keySet.filter(_.startsWith("trino.cpu.")) === Set("trino.cpu.n1", "trino.cpu.n2"))
  }

  test("a faulty query-stats gauge never reads as idle; a faulty hint reads as 0") {
    var now = 9000000000L
    var stats: Option[String] = Some(
      """{"attributes":[{"name":"RunningQueries","value":"n/a"},
        |{"name":"QueuedQueries","value":0}]}""".stripMargin)
    var hint: Option[String] = Some("""{"attributes":[{"name":"RequiredWorkers","value":"n/a"}]}""")
    val workers = new SimulatedWorkers(2, 20, clock = () => now)
    workers.resize(8); workers.settle()
    val mgr = new ScalingManager(workers,
      new StepScalingAlgorithm(new CpuLoadEvaluator, 2, 20), () => now)
    val pub = new BufferingPublisher
    val loop = new Autoscaler.ControlLoop(spark,
      new StubFetcher(() => 0.6, rawStats = () => stats, rawRequired = () => hint),
      mgr, workers, pub, "AWS/EMR", publish = true, clock = () => now)

    // RunningQueries "n/a" with nothing else queued: assume active
    assert(loop.tick().isEmpty, "a faulty RunningQueries must not idle-shrink")
    assert(workers.requested === 8)
    val byName = pub.records.map(r => r._2 -> r._3).toMap
    assert(byName("trino.requiredWorkers") === 0.0, "a faulty hint reads as 0")
    assert(byName("trino.totalRunningQueries") === 1.0)
    now += 15000L

    // a faulty decayed counter beside clean zero counts: still active
    stats = Some("""{"attributes":[{"name":"RunningQueries","value":0},
        |{"name":"QueuedQueries","value":0},
        |{"name":"CompletedQueries.FiveMinute.Count","value":true}]}""".stripMargin)
    assert(loop.tick().isEmpty, "a faulty counter must not idle-shrink")
    assert(workers.requested === 8)
    now += 15000L

    // the same payload without the fault is idle: shrink to min
    stats = Some("""{"attributes":[{"name":"RunningQueries","value":0},
        |{"name":"QueuedQueries","value":0}]}""".stripMargin)
    hint = Some("""{"attributes":[{"name":"RequiredWorkers","value":"1"}]}""")
    val d = loop.tick()
    assert(d.exists(a => a.action == "SHRINK" && a.capacity == 2), s"expected idle shrink, got $d")
  }
}
