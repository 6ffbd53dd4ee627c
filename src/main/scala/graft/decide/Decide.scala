package graft.decide

import graft.model.{ResizeAction, ResizeType}

import java.sql.Timestamp
import scala.collection.mutable

/**
 * The decision layer: window summary → evaluator → step-scaling → guarded
 * cascade.
 *
 * These are pure functions. Both control-loop entry points (the polling
 * [[graft.Autoscaler.ControlLoop]] and the streaming
 * [[graft.streaming.MetricsPipeline.attachControlLoop]]) summarize their
 * driver-resident window with [[MetricSummary.ofSamples]] and hand the
 * summary to the cascade. `Replay` builds the same summary, and
 * `Replay.flagship` the same quorum, with the Spark operators of
 * [[graft.analytics.MetricAnalytics]] over fixture tables. Keeping this
 * layer Spark-free makes the golden-trace tests (SURVEY.md §5.4) exact and
 * fast, and mirrors the reference's split between pure analytics
 * (metrics/MetricStore.scala) and stateful control
 * (scaling/ScalingManager.scala).
 */

/** A summary of the metric window: [[MetricSummary.ofSamples]] on the
  * control loop's driver-held window, or the `MetricAnalytics` operators
  * over a table. `oneMinuteAvg` is the zero-filled last-4-tick per-node
  * mean; `totalNodes` the last tick's node-list size (the pinned quorum
  * denominator, reference: metrics/MetricStore.scala:29-33,51). */
final case class MetricSummary(
    isCold: Boolean,
    oneMinuteAvg: Map[String, Double],
    totalNodes: Int)

object MetricSummary {
  val Cold: MetricSummary = MetricSummary(isCold = true, Map.empty, 0)

  private val NewestFirst: Ordering[Timestamp] = Ordering.fromLessThan(_ after _)

  /** The summary of a window of `(ts, node, value)` samples held on the
    * driver — the reference's in-heap MetricStore ring
    * (metrics/MetricStore.scala:8,19-39) — with no Spark job. Exactly the
    * semantics of `MetricAnalytics.isCold` / `oneMinuteAvgExact` /
    * `latestTickNodeCount` over the same rows:
    *  - cold while fewer than `n` distinct timestamps exist, so an
    *    all-blank scrape, which adds no sample, never reads as 0% CPU;
    *  - the node universe is the nodes sampled at the newest timestamp;
    *  - each node's mean runs over the newest `n` distinct timestamps: a
    *    timestamp without its sample counts as one 0.0, and every sample
    *    of a duplicated (node, ts) cell counts, as under the left join;
    *  - `totalNodes` counts the universe's distinct non-null nodes.
    * Returns None for a window with no samples (nothing to evaluate),
    * else the summary and the window's newest timestamp. */
  def ofSamples(samples: Seq[(Timestamp, String, Double)], n: Int): Option[(MetricSummary, Timestamp)] = {
    require(n > 0, s"window of $n ticks")
    if (samples.isEmpty) None
    else {
      val stamps = mutable.HashSet.empty[Timestamp]
      var nullStamp = false
      var maxTs: Timestamp = null
      samples.foreach { s =>
        val ts = s._1
        if (ts == null) nullStamp = true
        else if (stamps.add(ts) && (maxTs == null || ts.after(maxTs))) maxTs = ts
      }
      val summary =
        if (stamps.size + (if (nullStamp) 1 else 0) < n) Cold
        else {
          // the newest n ticks by position; a null ts sorts last (as
          // `ORDER BY ts DESC` puts it) and matches no cell, as does a
          // null node, so either reads as a 0.0 sample
          val tick = stamps.toSeq.sorted(NewestFirst).take(n).zipWithIndex.toMap
          val universe = mutable.LinkedHashMap.empty[String, Cells]
          if (maxTs != null) samples.foreach { s =>
            if (s._1 == maxTs) universe.getOrElseUpdate(s._2, new Cells(n))
          }
          samples.foreach { s =>
            if (s._1 != null && s._2 != null)
              for (i <- tick.get(s._1); cells <- universe.get(s._2)) cells.add(i, s._3)
          }
          MetricSummary(isCold = false,
            universe.iterator.map { case (node, cells) => node -> cells.mean }.toMap,
            universe.keysIterator.count(_ != null))
        }
      Some((summary, maxTs))
    }
  }

  /** One node's samples at each of the window's `n` ticks, newest tick
    * first; a tick's samples are held newest first. */
  private final class Cells(n: Int) {
    private val ticks = Array.fill(n)(List.empty[Double])

    def add(tick: Int, value: Double): Unit = ticks(tick) = value :: ticks(tick)

    /** The mean over every sample, a tick without one counting as one
      * 0.0, summed from 0.0 newest tick first, each tick's samples in
      * arrival order. */
    def mean: Double = {
      var sum = 0.0
      var size = 0
      ticks.foreach { values =>
        if (values.isEmpty) { sum += 0.0; size += 1 }
        else { values.reverse.foreach(v => sum += v); size += values.size }
      }
      sum / size
    }
  }

  /** Quorum: nodes whose 1-min avg >= threshold reach `fraction` of the
    * last tick's node list (reference: metrics/MetricStore.scala:62-71;
    * note `>=` on both the value and the quorum comparison). */
  def isAvgOneMinGreater(m: MetricSummary, fraction: Double, threshold: Double): Boolean = {
    val numBreached = m.oneMinuteAvg.count(_._2 >= threshold)
    numBreached >= m.totalNodes * fraction
  }

  /** Quorum on the open interval (min, max) — strict on both ends
    * (reference: metrics/MetricStore.scala:49-57). */
  def isAvgOneMinBetween(m: MetricSummary, fraction: Double, min: Double, max: Double): Boolean = {
    val numBreached = m.oneMinuteAvg.count(p => p._2 > min && p._2 < max)
    numBreached >= m.totalNodes * fraction
  }

  /** "Lower" is the literal negation of `isAvgOneMinGreater`, NOT a third
    * quorum (reference: metrics/MetricStore.scala:75; SURVEY.md §7.5.3). */
  def isAvgOneMinLower(m: MetricSummary, fraction: Double, threshold: Double): Boolean =
    !isAvgOneMinGreater(m, fraction, threshold)
}

/** Extension point: window summary → resize verdict
  * (reference: scaling/algo/Evaluator.scala:6-12). */
trait Evaluator {
  def label: String
  def evaluate(metrics: MetricSummary): ResizeType
}

/** ST1 — the 3-way CPU classifier (reference:
  * scaling/algo/CpuLoadEvaluator.scala:12-32). Constants are the CODE
  * values 0.8/0.7/0.5; docs/scaling-logic.md:16-18 claims 0.8/0.4 but code
  * wins (BASELINE.md). */
class CpuLoadEvaluator(
    val nodesFraction: Double = 0.8,
    val expandThreshold: Double = 0.7,
    val shrinkThreshold: Double = 0.5)
  extends Evaluator {

  override val label: String = "CPU Evaluation"

  override def evaluate(m: MetricSummary): ResizeType =
    if (m.isCold) ResizeType.None
    else if (MetricSummary.isAvgOneMinGreater(m, nodesFraction, expandThreshold)) ResizeType.Expand
    else if (MetricSummary.isAvgOneMinBetween(m, nodesFraction, shrinkThreshold, expandThreshold)) ResizeType.None
    else ResizeType.Shrink
}

/** Sizing strategy (reference: scaling/algo/ScalingAlgorithm.scala:7-28). */
trait ScalingAlgorithm {
  def evaluator: Evaluator

  /** ST3 — note the NONE branch: when the evaluator says NONE but
    * `0 < required < capacity`, the reference STILL issues an EXPAND with
    * the regular expand sizing (scaling/algo/ScalingAlgorithm.scala:17-19).
    * Surprising (required is below capacity) but preserved verbatim. */
  def evaluate(capacity: Int, required: Int, metrics: MetricSummary): ResizeAction =
    evaluator.evaluate(metrics) match {
      case ResizeType.Expand => ResizeAction(ResizeType.Expand.name, expand(capacity, required))
      case ResizeType.Shrink => ResizeAction(ResizeType.Shrink.name, shrink(capacity))
      case ResizeType.None =>
        if (required > 0 && required < capacity)
          ResizeAction(ResizeType.Expand.name, expand(capacity, required))
        else ResizeAction(ResizeType.None.name, capacity)
    }

  def expand(running: Int, required: Int): Int
  def shrink(running: Int): Int
}

/** Example custom evaluator for the extension surface (SURVEY.md §2.9):
  * classify on a PERCENTILE of the per-node averages instead of a quorum —
  * robust to a few straggler nodes. Demonstrates that an `Evaluator` is
  * just a function over the window summary; an aggregating variant over
  * raw samples would be `percentile_approx` in the analytics layer or an
  * `Aggregator[IN,BUF,OUT]` registered via `udaf(...)`. */
class PercentileCpuEvaluator(
    val percentile: Double = 0.5,
    val expandThreshold: Double = 0.7,
    val shrinkThreshold: Double = 0.5)
  extends Evaluator {

  override val label: String = "CPU Percentile Evaluation"

  /** Inverted-CDF percentile over the node averages (deterministic:
    * sorted values, floor index). */
  private def pct(values: Seq[Double]): Double = {
    val sorted = values.sorted
    sorted(math.min((sorted.size * percentile).toInt, sorted.size - 1))
  }

  override def evaluate(m: MetricSummary): ResizeType =
    if (m.isCold || m.oneMinuteAvg.isEmpty) ResizeType.None
    else {
      val p = pct(m.oneMinuteAvg.values.toSeq)
      if (p >= expandThreshold) ResizeType.Expand
      else if (p > shrinkThreshold) ResizeType.None
      else ResizeType.Shrink
    }
}

/** ST3 sizing — step with clamp (reference:
  * scaling/algo/StepScalingAlgorithm.scala:16-26). Defaults are the IG
  * profile (application.conf:22-25); the IF profile is 8/160/40/24. */
class StepScalingAlgorithm(
    override val evaluator: Evaluator,
    val minCapacity: Int = 0,
    val maxCapacity: Int = 20,
    val stepExpand: Int = 5,
    val stepShrink: Int = 3)
  extends ScalingAlgorithm {

  override def expand(running: Int, required: Int): Int =
    (running + stepExpand).max(required).min(maxCapacity)

  override def shrink(running: Int): Int = (running - stepShrink).max(minCapacity)
}
