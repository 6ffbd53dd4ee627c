package graft.streaming

import graft.SparkSpec
import graft.control.{ScalingManager, SimulatedWorkers}
import graft.decide.{CpuLoadEvaluator, StepScalingAlgorithm}
import graft.streaming.KeyedControl.GroupObs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp
import scala.collection.mutable

/** ST8 latency budget (SURVEY.md §3.2): the production trigger is
  * `ProcessingTime(15 s)` — one tick per 15 s — so the whole
  * poll→window→quorum→cascade pass for a large cluster must finish well
  * inside one tick, and keyed state must stay bounded by the node count
  * over a long run (a per-tick leak would OOM the state store in hours).
  * Numbers recorded in PERF.md §round-6. */
class StreamingLatencySpec extends SparkSpec {
  import spark.implicits._

  test("120-node poll-to-decision stays far inside the 15 s tick over 40 ticks") {
    implicit val sqlCtx = spark.sqlContext
    val nodes = (1 to 120).map(i => f"ip-10-0-${i / 256}%d-${i % 256}%d")
    val input = MemoryStream[(Timestamp, String, Double)]
    var now = 1000000000L
    val workers = new SimulatedWorkers(0, 200, concurrent = true,
      groupIds = Seq("g-1"), clock = () => now)
    workers.resize(50); workers.settle()
    val mgr = new ScalingManager(workers,
      new StepScalingAlgorithm(new CpuLoadEvaluator, 0, 200), () => now)
    val decisions = mutable.Buffer.empty[MetricsPipeline.Decision]
    val writer = MetricsPipeline.attachControlLoop(
      input.toDF().toDF("ts", "node", "value"), mgr, decisions)
    // one LONG-LIVED query (no per-tick restart): the spec trigger fires
    // near-continuously and the budget assertion reads the per-batch
    // triggerExecution duration, which is what the 15 s production
    // trigger must cover
    val q = writer.trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    // q.recentProgress is a RING of the last ~100 updates, and the 100 ms
    // trigger records a progress entry for every EMPTY batch too — on a
    // loaded machine the empty-tick churn evicts early data batches, so
    // the ring is harvested after every tick and merged by batchId
    val progress = mutable.Map.empty[Long, Long]
    def harvest(): Unit = q.recentProgress.foreach { p =>
      if (p.numInputRows > 0)
        progress(p.batchId) = p.durationMs.get("triggerExecution").toLong
    }
    try {
      (1 to 40).foreach { tick =>
        // hot cluster: each micro-batch carries the one-minute ring
        // window (4 ticks × 120 nodes = 480 samples), the loop's input
        // contract — the batch IS the window (MetricsPipeline.scala:116)
        input.addData((tick * 4 until (tick + 1) * 4).flatMap(t => nodes.map(n =>
          (new Timestamp(1700000000000L + t * 15000L), n, 0.9))))
        q.processAllAvailable()
        harvest()
        workers.settle()
        now += 15000L
      }
      val exec = progress.values.toSeq
      assert(exec.size >= 40, s"expected 40 data batches, saw ${exec.size}")
      val maxMs = exec.max
      val sorted = exec.sorted
      val medMs = sorted(exec.size / 2)
      // nearest-rank p90: the 36th of 40 ticks
      val p90Ms = sorted(math.ceil(exec.size * 0.9).toInt - 1)
      info(s"tick-to-decision over ${exec.size} ticks: median ${medMs} ms, " +
        s"p90 ${p90Ms} ms, max ${maxMs} ms")
      // the budget bound is the p90 tick: the suite runs inside a
      // parallel forked-group harness (6 suites share the box), where a
      // single tick can be starved by a neighbor JVM's GC/compile burst —
      // a wall-clock max over 40 ticks asserts the BOX, not the pipeline.
      // The p90 tolerates four starved ticks while still failing when
      // more than one tick in ten blows the trigger (the per-tick
      // guarantee a 15 s trigger needs); the max keeps a generous
      // starvation allowance so a genuine every-tick blowup fails loud.
      assert(p90Ms < 15000L,
        s"p90 tick took ${p90Ms} ms — the 15 s trigger budget is blown")
      assert(maxMs < 60000L,
        s"a tick took ${maxMs} ms — even the 4x starvation allowance is blown")
      // the hot stream must actually drive the cascade: first EXPAND at
      // tick 1, then one per elapsed 120 s cooldown until maxCapacity
      assert(decisions.nonEmpty && decisions.forall(_.action == "EXPAND"))
      assert(workers.requested > 50)
    } finally q.stop()
  }

  test("keyed suspension state stays bounded at one row per group over 40 ticks") {
    implicit val sqlCtx = spark.sqlContext
    implicit val sparkSession: org.apache.spark.sql.SparkSession = spark
    val groups = (1 to 120).map(i => s"ig-$i")
    val input = MemoryStream[GroupObs]
    val q = KeyedControl.trackSuspensions(input.toDS())
      .writeStream.format("memory").queryName("latency_tracks")
      .outputMode("append").start()
    try {
      (1 to 40).foreach { tick =>
        input.addData(groups.map(g =>
          GroupObs(g, 2000000L + tick * 30000L, "RUNNING",
            isSuspended = tick % 7 == 0 && g.hashCode % 5 == 0,
            running = 5, requested = 5)))
        q.processAllAvailable()
      }
      // every observation produced an output row...
      assert(spark.table("latency_tracks").count() === 40L * 120)
      // ...but state holds exactly ONE row per group — 40 ticks do not
      // grow it (the leak shape this guards: keying state on (group,
      // tick) instead of group)
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows === 120L,
        s"state store holds $stateRows rows for 120 groups — per-tick leak")
    } finally q.stop()
  }
}
