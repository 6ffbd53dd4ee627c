package graft.analytics

import graft.SparkSpec
import graft.decide.MetricSummary
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max}

import java.sql.Timestamp

/** Port of the reference unit suite
  * (reference: src/test/scala/com/amazonaws/emr/metrics/MetricStoreTest.scala:1-73)
  * against the Spark operators, same inputs and expected values, plus the
  * zero-fill / retention / distribution operators the reference exercises
  * implicitly. */
class MetricAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  /** Build a samples frame from a list of ticks, each a Map(node -> value) —
    * the reference's ring-buffer shape (metrics/MetricStore.scala:8). */
  private def samples(ticks: Seq[Map[String, Double]]): DataFrame =
    ticks.zipWithIndex.flatMap { case (m, i) =>
      m.map { case (n, v) => (new Timestamp(1700000000000L + i * 15000L), n, v) }
    }.toDF("ts", "node", "value")

  private val singleTick = Map("d1" -> 1.2)

  test("oneMinuteAvgExact: under-sampled buffer (2 ticks) is empty") {
    // MetricStoreTest.scala:45-48 — 2 appends → oneMinute == empty
    val df = samples(Seq(singleTick, singleTick))
    assert(MetricAnalytics.oneMinuteAvgExact(df).count() === 0)
  }

  test("oneMinuteAvgExact: 4 ticks → per-node average") {
    // MetricStoreTest.scala:49-52
    val df = samples(Seq.fill(4)(singleTick))
    val out = MetricAnalytics.oneMinuteAvgExact(df).as[(String, Double)].collect().toMap
    assert(out === Map("d1" -> 1.2))
  }

  test("oneMinuteAvgExact: average of 2,4,6,8 is 5") {
    // MetricStoreTest.scala:39-43
    val df = samples(Seq(Map("d1" -> 2.0), Map("d1" -> 4.0), Map("d1" -> 6.0), Map("d1" -> 8.0)))
    val out = MetricAnalytics.oneMinuteAvgExact(df).as[(String, Double)].collect().toMap
    assert(out("d1") === 5.0)
  }

  test("oneMinuteAvgExact: node missing from early ticks averages with zero-fill") {
    // reference zero-fill semantics: MetricStore.scala:20-22 getOrElse(node, 0)
    val df = samples(Seq(
      Map("d1" -> 1.0),
      Map("d1" -> 1.0),
      Map("d1" -> 1.0),
      Map("d1" -> 1.0, "d2" -> 4.0)))
    val out = MetricAnalytics.oneMinuteAvgExact(df).as[(String, Double)].collect().toMap
    assert(out === Map("d1" -> 1.0, "d2" -> 1.0)) // (0+0+0+4)/4
  }

  test("oneMinuteAvgExact: node universe pinned to LAST tick") {
    // a node absent from the last tick is dropped even if it has history
    val df = samples(Seq(
      Map("d1" -> 1.0, "d2" -> 2.0),
      Map("d1" -> 1.0, "d2" -> 2.0),
      Map("d1" -> 1.0, "d2" -> 2.0),
      Map("d1" -> 1.0)))
    val out = MetricAnalytics.oneMinuteAvgExact(df).as[(String, Double)].collect().toMap
    assert(out.keySet === Set("d1"))
  }

  test("oneMinuteAvgExact: only the newest 4 ticks enter the average") {
    // takeRight(4): MetricStore.scala:39 — 5th-oldest tick (100.0) must not count
    val df = samples(Seq(Map("d1" -> 100.0)) ++ Seq.fill(4)(Map("d1" -> 2.0)))
    val out = MetricAnalytics.oneMinuteAvgExact(df).as[(String, Double)].collect().toMap
    assert(out("d1") === 2.0)
  }

  test("isCold boundary at 4 ticks") {
    // MetricStoreTest.scala:30-37
    assert(MetricAnalytics.isCold(samples(Seq.fill(3)(singleTick))))
    assert(!MetricAnalytics.isCold(samples(Seq.fill(4)(singleTick))))
  }

  test("MetricSummary.ofSamples equals the window operators on seeded random rings") {
    val n = 4
    val rnd = new scala.util.Random(20261017L)
    val pool = (0 until 6).map(i => s"d$i")
    // values on a 1/1024 grid: every sum is exact in any summation order
    def reading(): Double = rnd.nextInt(1025) / 1024.0
    /** A ring of `frames` scrape frames, newest last, as its rows. */
    def ring(frames: Int, churn: Boolean = false, blankNewest: Boolean = false,
        dups: Boolean = false, sharedTs: Boolean = false): Seq[(Timestamp, String, Double)] = {
      val stamps = (0 until frames).map(i => new Timestamp(1700000000000L + i * 15000L))
      val shared = rnd.nextInt(frames - 1) + 1 // this frame reuses its predecessor's ts
      val rows = (0 until frames).flatMap { i =>
        val ts = if (sharedTs && i == shared) stamps(i - 1) else stamps(i)
        val nodes =
          if (blankNewest && i == frames - 1) Nil
          else if (churn) pool.filter(_ => rnd.nextDouble() < 0.6)
          else pool.take(3)
        nodes.map(node => (ts, node, reading()))
      }
      if (dups) rows ++ Seq.fill(3)(rows(rnd.nextInt(rows.size))).map(r => (r._1, r._2, reading()))
      else rows
    }
    /** The DataFrame path the control loop evaluated before. */
    def viaOperators(rows: Seq[(Timestamp, String, Double)]): Option[(MetricSummary, Timestamp)] = {
      val df = rows.toDF("ts", "node", "value")
      if (df.isEmpty) None
      else {
        val summary =
          if (MetricAnalytics.isCold(df, n)) MetricSummary.Cold
          else MetricSummary(isCold = false,
            MetricAnalytics.oneMinuteAvgExact(df, n).as[(String, Double)].collect().toMap,
            MetricAnalytics.latestTickNodeCount(df).as[Long].head().toInt)
        Some((summary, df.agg(max(col("ts"))).head().getTimestamp(0)))
      }
    }
    val cases = (1 to 3).flatMap { _ =>
      Seq(
        "shorter than n" -> ring(rnd.nextInt(n - 1) + 1, churn = true),
        "node churn" -> ring(n, churn = true),
        "all-blank newest frame in a ring" -> ring(n, blankNewest = true),
        "all-blank newest frame past n" -> ring(n + 2, churn = true, blankNewest = true),
        "duplicate (node, ts) rows" -> ring(n, dups = true),
        "two frames sharing a ts, n distinct" -> ring(n + 1, churn = true, sharedTs = true),
        "two frames sharing a ts, cold" -> ring(n, sharedTs = true),
        "more than n frames" -> ring(n + 3, churn = true, dups = true))
    } :+ ("all-blank ring" -> Seq.empty[(Timestamp, String, Double)])
    val outcomes = cases.map { case (name, rows) =>
      val got = MetricSummary.ofSamples(rows, n)
      assert(got === viaOperators(rows), s"$name: $rows")
      got.map(_._1.isCold)
    }
    // the seeded cases reach every outcome: cold, warm and no window
    assert(outcomes.toSet === Set(Some(true), Some(false), None))
  }

  test("quorum: isAvgOneMinGreater cases") {
    // MetricStoreTest.scala:55-61 — {d1: 0.2, d2: 0.8} × 4 ticks
    val df = samples(Seq.fill(4)(Map("d1" -> 0.2, "d2" -> 0.8)))
    val r1 = MetricAnalytics.quorum(df, expandThreshold = 0.2, shrinkThreshold = 0.0, nodesFraction = 1.0)
      .select("is_greater").as[Boolean].head()
    assert(r1 === true)
    val r2 = MetricAnalytics.quorum(df, expandThreshold = 0.8, shrinkThreshold = 0.0, nodesFraction = 0.5)
      .select("is_greater").as[Boolean].head()
    assert(r2 === true)
  }

  test("quorum: isAvgOneMinBetween cases incl. false case") {
    // MetricStoreTest.scala:63-71 — {d1: 0.5, d2: 0.6} × 4 ticks
    val df = samples(Seq.fill(4)(Map("d1" -> 0.5, "d2" -> 0.6)))
    def between(fraction: Double, min: Double, max: Double): Boolean =
      MetricAnalytics.quorum(df, expandThreshold = max, shrinkThreshold = min, nodesFraction = fraction)
        .select("is_between").as[Boolean].head()
    assert(between(1.0, 0.45, 0.65) === true)
    assert(between(0.5, 0.45, 0.65) === true)
    assert(between(0.5, 0.45, 0.55) === true)
    assert(between(0.5, 0.25, 0.35) === false)
  }

  test("quorum: is_lower is the negation of is_greater") {
    // MetricStore.scala:75 — SURVEY.md §7.5.3
    val df = samples(Seq.fill(4)(Map("d1" -> 0.9, "d2" -> 0.9)))
    val row = MetricAnalytics.quorum(df, 0.7, 0.5, 0.8)
      .select("is_greater", "is_lower").as[(Boolean, Boolean)].head()
    assert(row._1 === !row._2)
  }

  test("retainLastN keeps the newest N per node") {
    val df = samples((1 to 25).map(i => Map("d1" -> i.toDouble)))
    val kept = MetricAnalytics.retainLastN(df, 20).as[(Timestamp, String, Double)]
      .collect().map(_._3).sorted
    assert(kept.length === 20)
    assert(kept.head === 6.0 && kept.last === 25.0)
  }

  test("zeroFillBuckets: every node × bucket has a value") {
    val df = Seq(
      (Timestamp.valueOf("2024-01-01 00:10:00"), "a", 2.0),
      (Timestamp.valueOf("2024-01-01 02:10:00"), "a", 4.0),
      (Timestamp.valueOf("2024-01-01 01:30:00"), "b", 6.0)
    ).toDF("ts", "node", "value")
    val out = MetricAnalytics.zeroFillBuckets(df, "hour")
      .as[(String, Timestamp, Double)].collect()
    assert(out.length === 6) // 2 nodes × 3 hourly buckets
    val byKey = out.map(r => (r._1, r._2.toString) -> r._3).toMap
    assert(byKey(("a", "2024-01-01 00:00:00.0")) === 2.0)
    assert(byKey(("a", "2024-01-01 01:00:00.0")) === 0.0)
    assert(byKey(("b", "2024-01-01 01:00:00.0")) === 6.0)
  }

  test("ewmaGauge: recurrence in time order, ring truncation, exact halves") {
    // values 4, 2, 8 in time order: y = 4 → 0.5·2+0.5·4 = 3 → 0.5·8+0.5·3 = 5.5
    val df = Seq(
      (new Timestamp(1000L), 1L, "a", 4.0),
      (new Timestamp(2000L), 2L, "a", 2.0),
      (new Timestamp(3000L), 3L, "a", 8.0)
    ).toDF("ts", "event_id", "node", "value")
    val full = MetricAnalytics.ewmaGauge(df, "node", "value", "ts", "event_id")
      .as[(String, Long, Double)].head()
    assert(full === (("a", 3L, 5.5)))
    // lastN = 2 keeps only the newest two samples: y = 2 → 0.5·8+0.5·2 = 5
    val trunc = MetricAnalytics.ewmaGauge(df, "node", "value", "ts", "event_id", lastN = 2)
      .as[(String, Long, Double)].head()
    assert(trunc === (("a", 2L, 5.0)))
  }

  test("ewmaGauge: a NaN sample poisons the recurrence onward (no silent restart)") {
    // the uninitialized-accumulator sentinel is NULL, not NaN: a genuine
    // NaN mid-window must propagate through every later step (the
    // oracle's init-less list_reduce behavior), never restart the fold
    val df = Seq(
      (new Timestamp(1000L), 1L, "a", 4.0),
      (new Timestamp(2000L), 2L, "a", Double.NaN),
      (new Timestamp(3000L), 3L, "a", 8.0),
      (new Timestamp(1000L), 1L, "b", 2.0) // control key: unaffected
    ).toDF("ts", "event_id", "node", "value")
    val got = MetricAnalytics.ewmaGauge(df, "node", "value", "ts", "event_id")
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(got("a").isNaN, "NaN must poison the recurrence, not restart it")
    assert(got("b") === 2.0)
  }

  test("ewmaGauge: a NULL sample also poisons the recurrence (flag, not sentinel)") {
    // the started-flag accumulator distinguishes "fold not started" from
    // a genuine NULL mid-window — an in-band NULL sentinel would restart
    // the recurrence at the 8.0 instead of propagating the NULL
    val df = Seq(
      (new Timestamp(1000L), 1L, "a", Some(4.0)),
      (new Timestamp(2000L), 2L, "a", None),
      (new Timestamp(3000L), 3L, "a", Some(8.0))
    ).toDF("ts", "event_id", "node", "value")
    val row = MetricAnalytics.ewmaGauge(df, "node", "value", "ts", "event_id")
      .select("ewma").head()
    assert(row.isNullAt(0), "NULL must propagate to the gauge, not restart it")
  }

  test("cusumDrift: hand-folded recurrence; level shift trips the alarm, stationary noise does not") {
    // key "a": stationary around 10 (mean 10, slack 5 absorbs the ±2
    // wiggle → cusum stays 0); key "b": jumps from 0 to 40 mid-window —
    // the post-jump surplus accumulates past h
    val rows =
      Seq(8.0, 12.0, 9.0, 11.0, 10.0).zipWithIndex.map { case (v, i) =>
        (new Timestamp(1000L * (i + 1)), i.toLong, "a", v)
      } ++
      (Seq(0.0, 0.0, 0.0, 40.0, 40.0, 40.0, 40.0).zipWithIndex.map { case (v, i) =>
        (new Timestamp(1000L * (i + 1)), i.toLong, "b", v)
      })
    val df = rows.toDF("ts", "event_id", "node", "value")
    val out = MetricAnalytics.cusumDrift(df, "node", "value", "ts", "event_id",
        slack = 5.0, h = 50.0)
      .select("node", "n", "mean_r", "cusum_max_r", "drift")
      .as[(String, Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("a")._4 === 0.0 && !out("a")._5)
    // b: mean = 160/7 ≈ 22.857143; fold: the three 0s keep s at 0, each
    // 40 adds 40 − mean − 5 ≈ 12.1428…; after four: ≈ 48.571 → no trip
    // at h=50, so drop h to 40 for the drift case and hand-check
    val mB = 160.0 / 7
    val inc = 40.0 - mB - 5.0
    val expect = math.rint(4 * inc * 1e6) / 1e6
    assert(math.abs(out("b")._4 - expect) < 1e-6)
    val drifted = MetricAnalytics.cusumDrift(df, "node", "value", "ts", "event_id",
        slack = 5.0, h = 40.0)
      .filter($"node" === "b").select("drift").as[Boolean].head()
    assert(drifted, "level shift must trip the alarm at h=40")
  }

  test("robustOutliers: MAD flags the spike a mean/stddev z-score masks") {
    // node A: stable 10.0 with TWO spikes — the second spike inflates a
    // mean/stddev enough to mask the first; median/MAD flags both.
    // node B: all-identical values → MAD 0, zero outliers.
    // 10x10.0, 5x9.8, 5x10.2 → med 10.0, MAD 0.2; spikes 100 and 80
    val vals = Seq.fill(10)(10.0) ++ Seq.fill(5)(9.8) ++ Seq.fill(5)(10.2) ++
      Seq(100.0, 80.0)
    val df = (vals.map(("a", _)) ++ Seq.fill(10)(("b", 5.0)))
      .toDF("node", "value")
    val got = MetricAnalytics.robustOutliers(df, "node", "value", k = 3.0)
      .select("node", "med", "mad", "n_outliers")
      .as[(String, Double, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("a")._2 === 10.0)
    assert(got("a")._4 === 2L) // both spikes flagged
    assert(got("b")._3 === 0.0 && got("b")._4 === 0L)
    // the classical z-score on node a: stddev ~ dragged to ~20, so the
    // 80.0 spike sits under 3 sigma — exactly the masking MAD avoids
    val (mean, sd) = {
      val a = vals; val m = a.sum / a.size
      (m, math.sqrt(a.map(v => (v - m) * (v - m)).sum / a.size))
    }
    assert((80.0 - mean) / sd < 3.0)
  }

  test("distribute matches reference example 5 over 3 = (2,2,1)") {
    // cluster/Workers.scala:225-238
    assert(MetricAnalytics.distribute(5, 3) === Seq(2, 2, 1))
    assert(MetricAnalytics.distribute(0, 3) === Seq(0, 0, 0))
    assert(MetricAnalytics.distribute(7, 7) === Seq.fill(7)(1))
  }
}
