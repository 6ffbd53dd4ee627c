package graft.streaming

import graft.control.ScalingManager
import graft.decide.MetricSummary
import graft.model.{QueryActivity, ResizeAction}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.{DataFrame, Row}

import java.sql.Timestamp
import scala.collection.mutable

/**
 * The streaming face of the engine (SURVEY.md §2.8, §3): the same pure
 * operators as [[graft.analytics.MetricAnalytics]], expressed over an
 * unbounded metric stream with event-time windows and watermark-bounded
 * state, plus the `foreachBatch` control loop that hosts the stateful
 * decision cascade.
 *
 * Structure mirrors the reference split: windowed analytics are
 * declarative (Spark manages the state store, keyed by window × node —
 * the distributed replacement for the in-heap ring buffer,
 * utils/FixedList.scala:6-15), while cooldown/guard state lives in the
 * driver-side [[graft.control.ScalingManager]] exactly like the
 * reference's ScalingManager (scaling/ScalingManager.scala:21-24).
 *
 * Scale notes: state is bounded by the 5-minute watermark (A3); the
 * shuffle is keyed on (window, node) so 1000 executors partition the node
 * space; `Trigger.ProcessingTime(15 seconds)` reproduces the reference
 * cadence (TrinoAutoscaler.scala:24-27).
 */
object MetricsPipeline {

  import graft.GraftConfig.{MetricsCollectIntervalSec, MetricsDataPointsOneMin, MetricsEvaluationIntervalSec, MetricsMaxDataPoints}

  // The reference's fixed cadence constants (Config.scala:96-103) drive
  // every window width here: 20 points × 15 s retention, 4-point (1 min)
  // averaging windows sliding at the collect interval.
  private val RetentionDuration = s"${MetricsMaxDataPoints * MetricsCollectIntervalSec} seconds"
  private val AvgWindowDuration = s"${MetricsDataPointsOneMin * MetricsCollectIntervalSec} seconds"
  private val SlideDuration = s"$MetricsCollectIntervalSec seconds"

  /** Sliding per-node averages: 1-minute windows every 15 s, state GC'd
    * past the 5-minute retention (reference window shape:
    * Config.scala:96-103). Input schema: (ts, node, value). */
  def windowedNodeAvg(samples: DataFrame): DataFrame =
    samples
      .withWatermark("ts", RetentionDuration)
      .groupBy(window(col("ts"), AvgWindowDuration, SlideDuration), col("node"))
      .agg(avg(col("value")).as("avg_value"), count(lit(1)).as("n_samples"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("node"), col("avg_value"), col("n_samples"))

  /** Exact sliding event-rate counters — the self-contained replacement
    * for Trino's exponentially-decayed 1m/5m counters the reference merely
    * consumes (SURVEY.md §2.6): per event type, count in each 5-minute
    * window sliding by 15 s; `< 1` idle checks become `== 0`. */
  def eventRates(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes", "15 seconds"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.end").as("win_end"), col("event_type"), col("n"))

  /** Fully-declarative streaming quorum — the reference's core predicate
    * ("do ≥ frac of nodes average ≥ threshold CPU over the window?",
    * metrics/MetricStore.scala:49-75) as a CHAINED pair of event-time
    * window aggregations, no foreachBatch: per-(window, node) averages,
    * re-aggregated per window into hot/mid node counts and the quorum
    * verdicts. Spark ≥ 3.5 executes multiple stateful aggregations in
    * append mode when both group on the same time window; state for both
    * stages is watermark-bounded. Denominator = nodes PRESENT in the
    * window (the streaming analog of the batch operator's last-tick node
    * list — in a stream the window's node set IS the live set). */
  def streamingQuorum(
      samples: DataFrame,
      expandThreshold: Double,
      shrinkThreshold: Double,
      nodesFraction: Double): DataFrame =
    samples
      .withWatermark("ts", RetentionDuration)
      .groupBy(window(col("ts"), AvgWindowDuration, SlideDuration), col("node"))
      .agg(avg(col("value")).as("avg_value"))
      .groupBy(col("window"))
      .agg(count(lit(1)).as("total_nodes"),
        sum(when(col("avg_value") >= expandThreshold, 1).otherwise(0)).as("breached_high"),
        sum(when(col("avg_value") > shrinkThreshold &&
          col("avg_value") < expandThreshold, 1).otherwise(0)).as("breached_mid"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("total_nodes"), col("breached_high"), col("breached_mid"),
        (col("breached_high") >= col("total_nodes") * lit(nodesFraction)).as("is_greater"),
        (col("breached_mid") >= col("total_nodes") * lit(nodesFraction)).as("is_between"))
      // A7: "lower" is literally NOT-greater (MetricStore.scala:75)
      .withColumn("is_lower", !col("is_greater"))

  /** Decision record emitted by the control loop. */
  final case class Decision(batchId: Long, ts: Timestamp, action: String, capacity: Int)

  /** One window evaluation over a bounded frame of `(ts, node, value)`
    * samples — the micro-batch body of [[attachControlLoop]]: one collect
    * of the batch, then [[evaluateSamples]]. A null value reads as 0.0,
    * as the zero-fill's `coalesce` reads it. */
  def evaluateWindow(
      batch: DataFrame,
      manager: ScalingManager,
      windowN: Int = MetricsDataPointsOneMin,
      batchId: Long = -1L,
      activity: QueryActivity = QueryActivity.AssumeActive,
      requiredWorkers: Int = 0): Option[Decision] = {
    val spark = batch.sparkSession
    import spark.implicits._
    val samples = batch
      .select(col("ts"), col("node"), coalesce(col("value").cast("double"), lit(0.0)))
      .as[(Timestamp, String, Double)].collect().toSeq
    evaluateSamples(samples, manager, windowN, batchId, activity, requiredWorkers)
  }

  /** The window step both control-loop entry points share: summarize the
    * driver-held window with [[MetricSummary.ofSamples]] and feed the
    * cascade. The polling [[graft.Autoscaler.ControlLoop]] passes its ring
    * as is; [[evaluateWindow]] passes the collected micro-batch. A window
    * with no samples is not evaluated. */
  def evaluateSamples(
      samples: Seq[(Timestamp, String, Double)],
      manager: ScalingManager,
      windowN: Int = MetricsDataPointsOneMin,
      batchId: Long = -1L,
      activity: QueryActivity = QueryActivity.AssumeActive,
      requiredWorkers: Int = 0): Option[Decision] =
    MetricSummary.ofSamples(samples, windowN).flatMap { case (summary, maxTs) =>
      // Activity gauges default to "assume active"; [[graft.Autoscaler]]
      // passes the real QueryManager gauges AND the five 5-minute decayed
      // counters, so a draining cluster (counters >= 1 with zero
      // running/queued) is NOT idle, and the ClusterSizeMonitor scaling
      // hint so required > running expands ahead of the cooldown gate
      // (reference: scaling/ScalingManager.scala:34-36,103-117).
      manager.evaluate(activity.stamped(maxTs), requiredWorkers, summary).map {
        case ResizeAction(action, capacity) => Decision(batchId, maxTs, action, capacity)
      }
    }

  /** Attach the stateful control loop to a metric-sample stream: per
    * micro-batch (= one reference "tick"), collect the bounded batch,
    * summarize it on the driver ([[evaluateWindow]]), feed the cascade,
    * log the performed action. Returns the writer (caller starts it with
    * its own checkpoint/output options). */
  def attachControlLoop(
      samples: DataFrame,
      manager: ScalingManager,
      decisions: mutable.Buffer[Decision],
      windowN: Int = MetricsDataPointsOneMin,
      activity: () => QueryActivity = () => QueryActivity.AssumeActive,
      requiredWorkers: () => Int = () => 0): DataStreamWriter[Row] =
    samples.writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(s"$MetricsEvaluationIntervalSec seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // providers are re-read per micro-batch — the streaming analog of
        // the polling loop's per-tick QueryManager/ClusterSizeMonitor
        // scrape (same gauges, same cascade)
        evaluateWindow(batch, manager, windowN, batchId,
          activity(), requiredWorkers()).foreach(decisions += _)
      }
}
