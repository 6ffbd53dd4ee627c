package graft

import graft.aws.{AwsSettings, CloudWatchHttpPublisher, EmrApiClient, EmrWorkers, LiveWorkers}
import graft.control.{ScalingManager, SimulatedWorkers, WorkersView}
import graft.model.QueryActivity
import graft.decide.{CpuLoadEvaluator, StepScalingAlgorithm}
import graft.sinks.{BufferingPublisher, MetricPublisher}
import graft.sources.{FetchedFrame, JmxJson, MetricsFetcher}
import graft.streaming.MetricsPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp
import java.util.concurrent.{CancellationException, CompletableFuture, CompletionException,
  LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import scala.collection.mutable

/**
 * Production entry point — the reference's application wiring
 * (`TrinoAutoscaler.scala:14-34`: Akka scheduler → scrape every 15 s →
 * evaluate → resize, plus the 30 s topology refresh at
 * `cluster/Workers.scala:43`) re-expressed on Structured Streaming
 * (SURVEY.md §3.2): a rate source ticks the loop, `foreachBatch` is the
 * effect boundary, and the odd ticks refresh worker topology
 * (modulo-tick — SURVEY §2.7 ST8).
 *
 * Composition per tick ([[Autoscaler.ControlLoop.tick]]). A tick runs two
 * paths at once and joins them before the window step:
 *   1. the coordinator path, on the loop's coordinator thread (at most
 *      one, a daemon, gone once the loop idles past
 *      [[Autoscaler.CoordinatorKeepAliveMs]]) with the tick thread's
 *      active session and `SparkContext` local properties (its job group
 *      too): fetch and read the query stats, then the scaling hint
 *      (S1/S2; driver-side control-plane HTTP, as the reference's
 *      concurrent futures at `TrinoJmxRest.scala:91-104`),
 *   2. the node path, on the tick's thread: scrape the node payloads,
 *      read them on the driver (P1/P2: [[FetchedFrame.strings]] reads each
 *      fetched frame's raw string columns from its internal rows, with no
 *      Dataset action and no `Row` decode; a frame the fetcher built from
 *      driver data is read from its analyzed plan, with no optimizer pass
 *      and no physical plan; every payload is read by
 *      [[JmxJson.attributes]] under its fault rule — node CPU, query
 *      stats, required workers; the node payloads are parsed over every
 *      core, each row into its own slot, so the fetched row order holds)
 *      and push the node CPU into the one-minute ring (A3 retention —
 *      the window the reference's MetricStore keeps, held on the driver
 *      as the reference holds it),
 *   3. join: the tick waits for the coordinator path, whether or not the
 *      node path threw, so no fetch outlives its tick; a path's exception
 *      is rethrown as itself. Then evaluate the ring on the driver, with
 *      no Spark job: the window summary
 *      ([[graft.decide.MetricSummary.ofSamples]], via
 *      [[MetricsPipeline.evaluateSamples]]) feeds the quorum + cascade
 *      ([[ScalingManager]]),
 *   4. resize through [[WorkersView]] (K3: live = EMR wire client),
 *   5. publish gauges (K1/K2: live = CloudWatch Query protocol).
 *
 * Each tick leaves a [[Autoscaler.TickRecord]] (`ControlLoop.lastTick`):
 * its milliseconds per phase, the rows it read and the nodes it kept, the
 * window size, how it read activity and the hint, and its decision.
 *
 * `--dry-run` swaps the cloud boundary for [[SimulatedWorkers]] + a
 * buffering publisher; everything upstream of the boundary is identical.
 */
object Autoscaler {

  /** The per-tick driver loop. The ring holds `windowN` scrape frames
    * (node-count rows each) — control-plane state, same budget as the
    * reference's in-memory MetricStore. */
  final class ControlLoop(
      spark: SparkSession,
      fetcher: MetricsFetcher,
      manager: ScalingManager,
      workers: WorkersView,
      publisher: MetricPublisher,
      namespace: String,
      publish: Boolean,
      windowN: Int = 4,
      clock: () => Long = () => System.currentTimeMillis(),
      idleMarker: Option[graft.sinks.IdleMarkerSink] = None) {

    private val ring = mutable.Queue.empty[Seq[(Timestamp, String, Double)]]

    @volatile private var last: Option[TickRecord] = None

    /** Runs each tick's coordinator path: one thread at most, a daemon,
      * which exits once the loop has been idle for the keep-alive. */
    private val coordinatorPool = {
      val pool = new ThreadPoolExecutor(1, 1, CoordinatorKeepAliveMs, TimeUnit.MILLISECONDS,
        new LinkedBlockingQueue[Runnable], { (r: Runnable) =>
          val t = new Thread(r, "graft-autoscaler-coordinator")
          t.setDaemon(true)
          t
        })
      pool.allowCoreThreadTimeOut(true)
      pool
    }

    /** The record of the last tick that completed; None before the first. */
    def lastTick: Option[TickRecord] = last

    /** A coordinator frame's payloads, read lazily, without the blank ones
      * (a scrape that saw nothing). */
    private def coordinator(frame: DataFrame): Iterator[JmxJson.Attributes] =
      FetchedFrame.strings(frame, "payload").iterator.map(_(0))
        .filter(p => p != null && p.nonEmpty).map(JmxJson.attributes)

    /** The coordinator path: the query stats, then the scaling hint, each
      * fetched and read. */
    private def readCoordinator(): CoordinatorRead = {
      // QueryManager gauges + the five 5-minute decayed counters drive
      // the idle gate (reference: scaling/ScalingManager.scala:103-117 —
      // a DRAINING cluster shows running=queued=0 with counters >= 1 and
      // must not idle-shrink); a BLANK payload (fetcher can't see query
      // stats) must read as "assume active", never as idle. The gate is
      // the RunningQueries gauge being PRESENT, not the payload being
      // non-blank: a malformed or attribute-less payload (degraded
      // scrape) would otherwise zero-fill running/queued and every
      // counter — reading as idle, which shrinks to min. Of the first
      // payload the gate keeps, a faulty field (or a count outside Int)
      // reads as "assume active" too: uncertain data is never idle
      val (statsFrame, statsFetchMs) = timed(fetcher.fetchQueryStats(spark))
      val (gauged, statsReadMs) = timed(coordinator(statsFrame)
        .find(_.isPresent("RunningQueries"))
        .flatMap { a =>
          def count(name: String) =
            a.long(name).zeroFilled(0L).filter(_.isValidInt).map(_.toInt)
          def decayed(name: String) = a.double(name).zeroFilled(0.0)
          for {
            running <- count("RunningQueries")
            queued <- count("QueuedQueries")
            abandoned5m <- decayed("AbandonedQueries.FiveMinute.Count")
            canceled5m <- decayed("CanceledQueries.FiveMinute.Count")
            completed5m <- decayed("CompletedQueries.FiveMinute.Count")
            failed5m <- decayed("FailedQueries.FiveMinute.Count")
            submitted5m <- decayed("SubmittedQueries.FiveMinute.Count")
            failed1m <- decayed("FailedQueries.OneMinute.Count")
          } yield QueryActivity(running, queued, abandoned5m, canceled5m,
            completed5m, failed5m, submitted5m, failed1m)
        })
      // ClusterSizeMonitor scaling hint (reference:
      // metrics/TrinoJmxRest.scala:106-109, docs/scaling-hints.md):
      // required > running expands ahead of the cooldown gate; blank,
      // gauge-less or faulty (a count outside Int too) reads as 0
      val (hintFrame, hintFetchMs) = timed(fetcher.fetchRequiredWorkers(spark))
      val (requiredWorkers, hintReadMs) = timed(coordinator(hintFrame).nextOption()
        .flatMap(_.long("RequiredWorkers").reading).filter(_.isValidInt).fold(0)(_.toInt))
      CoordinatorRead(gauged, requiredWorkers, statsFetchMs, statsReadMs, hintFetchMs, hintReadMs)
    }

    /** One tick: scrape → ring → evaluate → publish. Returns the action
      * the cascade PERFORMED this tick (None while cold/gated/idle). */
    def tick(): Option[MetricsPipeline.Decision] = {
      val start = System.nanoTime()
      val now = new Timestamp(clock())
      val coordinatorPath = SQLExecution.withThreadLocalCaptured(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        coordinatorPool)(readCoordinator())
      var coordinatorWaitMs = 0.0
      val (payloadRows, nodes, nodeFetchMs, nodeReadMs, parseMs) =
        try {
          val (nodeFrame, nodeFetchMs) = timed(fetcher.fetchPayloads(spark))
          val (payloads, nodeReadMs) = timed(FetchedFrame.strings(nodeFrame, "node", "payload"))
          val (nodes, parseMs) = timed(cpuReadings(payloads))
          ring.enqueue(nodes.map { case (n, c, _) => (now, n, c) })
          while (ring.size > windowN) ring.dequeue()
          (payloads.length, nodes, nodeFetchMs, nodeReadMs, parseMs)
        } finally coordinatorWaitMs = timed(settle(coordinatorPath))._2
      val CoordinatorRead(gauged, requiredWorkers, statsFetchMs, statsReadMs,
        hintFetchMs, hintReadMs) = outcome(coordinatorPath)
      val activity = gauged.getOrElse(QueryActivity.AssumeActive)
      idleMarker.foreach(_.touchIfBusy(
        graft.control.ScalingManager.isIdle(activity.stamped(now))))
      val (decision, evaluateMs) = timed(MetricsPipeline.evaluateSamples(
        ring.toSeq.flatten, manager, windowN,
        activity = activity, requiredWorkers = requiredWorkers))
      val publishMs = timed(if (publish && nodes.nonEmpty) {
        // node map fanned out as one multi-datum request (K2), then the
        // reference's full scalar gauge block
        // (metrics/TrinoMetricStore.scala:54-68) in a second one —
        // 7 metric families per tick in 2 requests, not N round trips
        publisher.putMetricMap(namespace, "trino.cpu",
          nodes.map { case (n, c, _) => n -> c }.toMap)
        publisher.putMetrics(namespace, Seq(
          "trino.requiredWorkers" -> requiredWorkers.toDouble,
          "trino.totalWorkers" -> nodes.size.toDouble,
          "trino.totalAvailableCores" -> nodes.map(_._3).sum.toDouble,
          "trino.totalOneMinFailedQueries" -> activity.failed1m,
          "trino.totalQueuedQueries" -> activity.queued.toDouble,
          "trino.totalRunningQueries" -> activity.running.toDouble,
          "trino.runningWorkers" -> workers.running.toDouble,
          "trino.requestedWorkers" -> workers.requested.toDouble) ++
          decision.map(d => "trino.targetCapacity" -> d.capacity.toDouble))
      })._2
      last = Some(TickRecord(
        TickPhases(nodeFetchMs, nodeReadMs, parseMs, statsFetchMs, statsReadMs,
          hintFetchMs, hintReadMs, coordinatorWaitMs, evaluateMs, publishMs,
          (System.nanoTime() - start) / 1e6),
        payloadRows = payloadRows, nodesKept = nodes.size, ringFrames = ring.size,
        assumeActive = gauged.isEmpty, requiredWorkers = requiredWorkers, decision = decision))
      decision
    }
  }

  /** How long an idle loop keeps its coordinator thread. */
  private[graft] val CoordinatorKeepAliveMs = 2000L

  /** What the coordinator path read, with its phases' milliseconds. */
  private final case class CoordinatorRead(
      gauged: Option[QueryActivity], requiredWorkers: Int,
      statsFetchMs: Double, statsReadMs: Double, hintFetchMs: Double, hintReadMs: Double)

  /** Each node's CPU reading and core count, in the payloads' row order.
    * Presence gate on the CPU gauge: a failed scrape's blank payload, or
    * a CPU gauge that does not read as a finite number, must DROP OUT of
    * the window, not read as 0% CPU and bias the quorum toward SHRINK
    * (reference drops empty attribute maps — TrinoJmxEmr.scala:91
    * `if (m.isEmpty) None`). The payloads are parsed over every core,
    * each into the slot of its row, so the order is the fetched one. */
  private def cpuReadings(payloads: Array[Array[String]]): Seq[(String, Double, Long)] = {
    val reading: java.util.function.IntFunction[(String, Double, Long)] = { i =>
      val a = JmxJson.attributes(payloads(i)(1))
      a.double("ProcessCpuLoad").reading
        .map(cpu => (payloads(i)(0), cpu, a.long("AvailableProcessors").orZero(0L))).orNull
    }
    val read = new Array[(String, Double, Long)](payloads.length)
    java.util.Arrays.parallelSetAll(read, reading)
    read.toSeq.filter(_ != null)
  }

  /** Waits for `path` to finish, however it ends. */
  private def settle(path: CompletableFuture[_]): Unit =
    try path.join()
    catch { case _: CompletionException | _: CancellationException => () }

  /** The value of a finished `path`; its failure rethrown as itself. */
  private def outcome[A](path: CompletableFuture[A]): A =
    try path.join()
    catch { case e: CompletionException if e.getCause != null => throw e.getCause }

  /** Milliseconds one tick spent per phase. A fetch builds the fetcher's
    * frame; a read gets its strings ([[FetchedFrame.strings]]) and, for
    * a coordinator frame, parses its payload into the gauges the tick
    * uses; `parse` reads every node payload's CPU gauge (over every core);
    * `evaluate` is the window summary plus the cascade (and any resize it
    * performs); `publish` puts the gauges. `tick` is the whole tick.
    *
    * The two paths overlap. The tick's thread runs the node fetch, node
    * read and parse, then waits `coordinatorWait` for the coordinator
    * path, then evaluates and publishes; those phases add up to at most
    * `tick`, and what they leave (the ring update, the idle marker) is the
    * rest. The coordinator thread meanwhile runs the stats fetch and read
    * and the hint fetch and read, which add up to at most `tick` too. */
  final case class TickPhases(
      nodeFetch: Double, nodeRead: Double, parse: Double,
      statsFetch: Double, statsRead: Double,
      hintFetch: Double, hintRead: Double, coordinatorWait: Double,
      evaluate: Double, publish: Double, tick: Double)

  /** What one tick saw, read and decided.
    * @param phasesMs        milliseconds per phase, node path on the tick's
    *                        thread and coordinator path on the coordinator
    *                        thread, overlapping ([[TickPhases]])
    * @param payloadRows     rows of the node frame
    * @param nodesKept       nodes whose CPU gauge read as a number: the
    *                        tick's ring frame and its published gauges
    * @param ringFrames      scrape frames in the window after this tick
    * @param assumeActive    the query stats gave no usable activity
    *                        (blank, gauge-less or faulty), so the tick read
    *                        the cluster as active
    * @param requiredWorkers the scaling hint (0 when absent or faulty)
    * @param decision        the action the cascade performed, if any */
  final case class TickRecord(
      phasesMs: TickPhases,
      payloadRows: Int,
      nodesKept: Int,
      ringFrames: Int,
      assumeActive: Boolean,
      requiredWorkers: Int,
      decision: Option[MetricsPipeline.Decision]) {
    /** Node rows left out of the window: a blank scrape or a CPU gauge
      * that faulted. */
    def nodesDropped: Int = payloadRows - nodesKept
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def main(args: Array[String]): Unit = {
    var confPath: Option[String] = None
    var dryRun = false
    var coordinator: Option[String] = None
    var region = "us-east-1"
    var emrEndpoint: Option[String] = None
    var cwEndpoint: Option[String] = None
    var maxTicks: Option[Int] = None
    var idleMarkerPath: Option[String] = None
    var jmxUrl: Option[String] = None
    var stateDir: Option[String] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--conf"         => confPath = Some(args(i + 1)); i += 2
        case "--dry-run"      => dryRun = true; i += 1
        case "--coordinator"  => coordinator = Some(args(i + 1)); i += 2
        case "--region"       => region = args(i + 1); i += 2
        case "--emr-endpoint" => emrEndpoint = Some(args(i + 1)); i += 2
        case "--cw-endpoint"  => cwEndpoint = Some(args(i + 1)); i += 2
        case "--ticks"        => maxTicks = Some(args(i + 1).toInt); i += 2
        case "--idle-marker"  => idleMarkerPath = Some(args(i + 1)); i += 2
        case "--jmx-url"      => jmxUrl = Some(args(i + 1)); i += 2
        case "--state-dir"    => stateDir = Some(args(i + 1)); i += 2
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
    }
    val cfg = confPath.map(GraftConfig.load).getOrElse(GraftConfig.default)
    val spark = Sessions("graft-autoscaler", defaultCpus = 4,
      master = sys.env.get("SPARK_MASTER"))

    // strategy selection: a coordinator URL → REST scrape; a JMX service
    // URL → coordinator-local JMX-RMI (the reference's TrinoJmxEmr
    // transport); neither → fixture replay. BOTH is a misconfiguration —
    // failing loud beats silently scraping over the transport the
    // operator didn't think was active.
    if (coordinator.isDefined && jmxUrl.isDefined)
      throw new IllegalArgumentException(
        "--coordinator and --jmx-url select different transports; pass one")
    val fetcher = MetricsFetcher(
      if (coordinator.isDefined) "rest" else "emr",
      coordinatorUrl = coordinator,
      user = cfg.trinoUser, password = cfg.trinoPassword,
      jmxUrl = jmxUrl)
    // standard AWS credential env names; SigV4 needs them only live
    val settings = AwsSettings(region,
      sys.env.getOrElse("AWS_ACCESS_KEY_ID", ""),
      sys.env.getOrElse("AWS_SECRET_ACCESS_KEY", ""))
    val workers: WorkersView =
      if (dryRun) new SimulatedWorkers(cfg.igMinNumNodes, cfg.igMaxNumNodes)
      else EmrWorkers.forCluster(new EmrApiClient(
        emrEndpoint.getOrElse(s"https://elasticmapreduce.$region.amazonaws.com"),
        settings), cfg)
    val publisher: MetricPublisher =
      if (dryRun) new BufferingPublisher
      else new CloudWatchHttpPublisher(
        cwEndpoint.getOrElse(s"https://monitoring.$region.amazonaws.com"),
        cfg.cloudWatchDimension, cfg.clusterId, settings)
    // --state-dir: persist the cooldown clock so a restarted loop honors
    // the in-flight cooldown instead of re-resizing immediately
    val store = stateDir.map { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      new graft.control.ControlStateStore(s"$d/last_op_ms")
    }
    val manager = new ScalingManager(workers, new StepScalingAlgorithm(
      new CpuLoadEvaluator, workers.minCapacity, workers.maxCapacity),
      store = store)
    val loop = new ControlLoop(spark, fetcher, manager, workers, publisher,
      cfg.cloudWatchNamespace, publish = dryRun || cfg.publishMetrics,
      idleMarker = idleMarkerPath.map(new graft.sinks.IdleMarkerSink(_)))

    val ticks = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream.outputMode("append")
      .trigger(Trigger.ProcessingTime(
        s"${GraftConfig.MetricsEvaluationIntervalSec} seconds"))
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val t = ticks.incrementAndGet()
        loop.tick().foreach(d =>
          println(s"[autoscaler] tick=$t ${d.action} -> ${d.capacity} ${workers.units}"))
        // 30 s topology refresh = every other 15 s tick (ST8 modulo-tick)
        if (batchId % 2 == 1) workers match {
          case lw: LiveWorkers => lw.refresh()
          case _               => ()
        }
      }.start()
    maxTicks match {
      case Some(n) =>
        while (ticks.get() < n && q.isActive) Thread.sleep(200)
        q.stop()
      case None => q.awaitTermination()
    }
    spark.stop()
  }
}
