package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Pure `DataFrame => DataFrame` analytics operators — the relational core of
 * the reference's `MetricStore` (reference: metrics/MetricStore.scala), each
 * usable identically under batch and Structured Streaming (SURVEY.md §1.4).
 *
 * Callers of the window operators (`isCold`, `oneMinuteAvgExact`,
 * `latestTickNodeCount`, `quorum`): `Replay` and `Replay.flagship`, over
 * fixture tables whose samples are not driver-resident. The control loop
 * does not call them: its window is a driver-held ring (or a collected
 * micro-batch) of at most a few thousand rows, which
 * [[graft.decide.MetricSummary.ofSamples]] summarizes without a Spark job.
 * MetricAnalyticsSpec holds the two equal on seeded random rings.
 *
 * Input convention: a "samples" frame with columns
 * `(ts: timestamp, node: string, value: double)` — the normalized long-form
 * of the reference's per-tick `Map[node -> cpuLoad]` ring buffer
 * (metrics/MetricStore.scala:8,11).
 *
 * Scale notes (100 TB honesty):
 *  - every operator keys its shuffle on `node` (or is shuffle-free via a
 *    window over an existing partitioning), so a 1000-executor cluster
 *    partitions cleanly by node/time;
 *  - the zero-fill scaffold is built from per-node `sequence()`, never a
 *    `crossJoin` (SURVEY.md §7.5.6);
 *  - windowed slices use window functions over (node × ts) rather than
 *    per-node collects — no driver materialization anywhere.
 */
object MetricAnalytics {

  // ---------------------------------------------------------------------
  // A3 — ring-buffer retention (reference: utils/FixedList.scala:12-15,
  // capacity 20 = Config.scala:98). Count-based form: keep the newest
  // `capacity` samples per node.
  // ---------------------------------------------------------------------
  def retainLastN(samples: DataFrame, capacity: Int = 20): DataFrame = {
    val w = Window.partitionBy("node").orderBy(col("ts").desc)
    samples
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= capacity)
      .drop("__rn")
  }

  /** A3 time-based form: keep samples within `minutes` of the global max ts
    * (batch analog of `withWatermark(ts, "5 minutes")`). The global max is a
    * 1-row aggregate broadcast back into a filter — NOT a partition-less
    * window, which would shuffle the whole frame into one task to find a
    * scalar (the zeroFill pattern below; plan shape asserted by
    * PlanAuditSpec's no-partition-less-window guard). */
  def retainLastMinutes(samples: DataFrame, minutes: Int = 5): DataFrame = {
    val maxTs = samples.agg(max(col("ts")).as("__maxTs"))
    samples
      .join(broadcast(maxTs))
      .filter(col("ts") > col("__maxTs") - expr(s"INTERVAL $minutes MINUTES"))
      .drop("__maxTs")
  }

  // ---------------------------------------------------------------------
  // A2 — tail-window slice: last `n` samples per node = the evaluation
  // window (reference: metrics/MetricStore.scala:39 `takeRight(4)`).
  // ---------------------------------------------------------------------
  def lastNPerNode(samples: DataFrame, n: Int = 4): DataFrame = retainLastN(samples, n)

  // ---------------------------------------------------------------------
  // A1 + F5 — per-node mean over the evaluation slice, dropping nodes with
  // fewer than `minSamples` points (reference: metrics/MetricStore.scala:19-26
  // — new/under-sampled nodes are excluded from the quorum until warm).
  // Map-side partial aggregation is automatic (hash agg on `node`).
  // ---------------------------------------------------------------------
  def perNodeAvg(samples: DataFrame, minSamples: Int = 4): DataFrame =
    samples
      .groupBy("node")
      .agg(count(col("value")).as("n_samples"), avg(col("value")).as("avg_value"))
      .filter(col("n_samples") >= minSamples)

  /** A1/A2/F5 fused: mean of each node's newest `n` samples, keeping only
    * nodes that actually have `n` (the reference's exact semantics:
    * `takeRight(4)` then drop if `size < 4`, MetricStore.scala:19-23,39). */
  def oneMinuteAvg(samples: DataFrame, n: Int = 4): DataFrame =
    perNodeAvg(lastNPerNode(samples, n), n)

  // ---------------------------------------------------------------------
  // A4 — zero-fill gather: the reference substitutes 0.0 for nodes missing
  // from a tick (metrics/MetricStore.scala:20-22). Batch formulation: build
  // a node × tick scaffold and left-join. The tick axis is generated with
  // `sequence()` per node — NOT a crossJoin — so at scale the explode is
  // distributed with the node keys (SURVEY.md §7.5.6).
  // ---------------------------------------------------------------------
  def zeroFill(samples: DataFrame, slideSeconds: Int): DataFrame = {
    val bounds = samples.select(
      min(unix_timestamp(col("ts"))).as("lo"),
      max(unix_timestamp(col("ts"))).as("hi"))
    val nodes = samples.select("node").distinct()
    val scaffold = nodes
      .join(bounds) // 1-row broadcast, not a data×data crossJoin
      .select(
        col("node"),
        explode(sequence(col("lo"), col("hi"), lit(slideSeconds))).as("tick"))
      .select(col("node"), col("tick").cast("timestamp").as("ts"))
    scaffold
      .join(samples, Seq("node", "ts"), "left")
      .withColumn("value", coalesce(col("value"), lit(0.0)))
  }

  /** A4 on a pre-bucketed grain: fill every (node × bucket) with the mean of
    * that node's samples in the bucket, 0.0 where absent. `bucket` is a
    * truncation unit understood by `date_trunc` (e.g. "hour"). */
  def zeroFillBuckets(samples: DataFrame, bucket: String): DataFrame = {
    val bucketed = samples
      .withColumn("bucket_ts", date_trunc(bucket, col("ts")))
      .groupBy("node", "bucket_ts")
      .agg(avg(col("value")).as("value"))
    val step = bucket.toLowerCase match {
      case "minute" => 60L
      case "hour"   => 3600L
      case "day"    => 86400L
      case other    => throw new IllegalArgumentException(s"unsupported bucket: $other")
    }
    val bounds = bucketed.select(
      min(unix_timestamp(col("bucket_ts"))).as("lo"),
      max(unix_timestamp(col("bucket_ts"))).as("hi"))
    val scaffold = bucketed
      .select("node").distinct()
      .join(bounds)
      .select(col("node"),
        explode(sequence(col("lo"), col("hi"), lit(step))).as("tick"))
      .select(col("node"), col("tick").cast("timestamp").as("bucket_ts"))
    scaffold
      .join(bucketed, Seq("node", "bucket_ts"), "left")
      .withColumn("value", coalesce(col("value"), lit(0.0)))
  }

  // ---------------------------------------------------------------------
  // A5/A6/A7 — quorum predicates (reference: metrics/MetricStore.scala:49-75).
  // `totalNodes` is the DENOMINATOR PINNED TO THE LAST TICK's node list, not
  // the under-sample-filtered average set (MetricStore.scala:29-33,51 —
  // SURVEY.md §7.5.2: preserve, do not "fix").
  // Returns one row: (breached_high, breached_mid, total_nodes,
  //                   is_greater, is_between, is_lower).
  // ---------------------------------------------------------------------
  def quorum(
      samples: DataFrame,
      expandThreshold: Double,
      shrinkThreshold: Double,
      nodesFraction: Double,
      windowN: Int = 4): DataFrame = {
    val avgs = oneMinuteAvgExact(samples, windowN)
    val lastTickNodes = latestTickNodeCount(samples)
    val counts = avgs.agg(
      sum(when(col("avg_value") >= expandThreshold, 1).otherwise(0)).as("breached_high"),
      sum(when(col("avg_value") > shrinkThreshold && col("avg_value") < expandThreshold, 1)
        .otherwise(0)).as("breached_mid"))
    counts
      .join(lastTickNodes) // both single-row
      .withColumn("is_greater",
        col("breached_high") >= col("total_nodes") * lit(nodesFraction))
      .withColumn("is_between",
        col("breached_mid") >= col("total_nodes") * lit(nodesFraction))
      // A7: "lower" is literally NOT-greater (MetricStore.scala:75), not a
      // third quorum — preserve the negation exactly.
      .withColumn("is_lower", !col("is_greater"))
  }

  // ---------------------------------------------------------------------
  // Reference-exact one-minute average (metrics/MetricStore.scala:19-39).
  // Subtleties preserved verbatim (SURVEY.md §7.5.1-2):
  //  * the node universe is the LAST tick's node list (getNodesList);
  //  * each node's series is zero-filled over EVERY tick in the buffer
  //    (`d.getOrElse(node, 0)`), so a node that joined recently averages
  //    with zeros for ticks it missed;
  //  * the ">= 4 points" filter is therefore a buffer-depth gate: with
  //    fewer than `n` ticks collected the result is EMPTY (isCold).
  // Plan shape: last-n tick dimension (tiny) crossJoin last-tick nodes
  // (broadcast of <=4 rows), left-join samples — distributed, no collect.
  // ---------------------------------------------------------------------
  def oneMinuteAvgExact(samples: DataFrame, n: Int = 4): DataFrame = {
    // Global scalars (newest n ticks, tick total, max ts) come from
    // TakeOrderedAndProject / 1-row aggregates broadcast back — never a
    // partition-less window, which would funnel the whole samples frame
    // through one task (the #1 scale-killer flagged in round 2).
    val distinctTs = samples.select("ts").distinct()
    val tickTotal = distinctTs.agg(count(lit(1)).as("__ticks_total"))
    val lastNTicks = distinctTs.orderBy(col("ts").desc).limit(n)
      .join(broadcast(tickTotal))
      .filter(col("__ticks_total") >= n)
      .select("ts")
    val maxTs = samples.agg(max(col("ts")).as("__maxTs"))
    val lastTickNodes = samples
      .join(broadcast(maxTs), col("ts") === col("__maxTs"))
      .select("node").distinct()
    lastTickNodes
      .crossJoin(broadcast(lastNTicks)) // <= n rows on the right
      .join(samples, Seq("node", "ts"), "left")
      .withColumn("value", coalesce(col("value"), lit(0.0)))
      .groupBy("node")
      .agg(avg(col("value")).as("avg_value"))
  }

  /** F8/ST7 cold-start gate (reference: MetricStore.scala:17 `isCold` =
    * `all.isEmpty`): true iff fewer than `n` ticks collected. */
  def isCold(samples: DataFrame, n: Int = 4): Boolean =
    samples.select("ts").distinct().limit(n).count() < n

  /** Quorum denominator: number of distinct nodes present in the latest tick
    * (reference `getNodesList`, MetricStore.scala:29-33). Scalar max via a
    * 1-row aggregate broadcast, not a partition-less window. */
  def latestTickNodeCount(samples: DataFrame): DataFrame = {
    val maxTs = samples.agg(max(col("ts")).as("__maxTs"))
    samples
      .join(broadcast(maxTs), col("ts") === col("__maxTs"))
      .agg(countDistinct(col("node")).as("total_nodes"))
  }

  // ---------------------------------------------------------------------
  // A8 — sum gauges (reference: metrics/TrinoMetricStore.scala:81,
  // cluster/Workers.scala:55-57).
  // ---------------------------------------------------------------------
  def sumGauge(df: DataFrame, valueCol: String, as: String): DataFrame =
    df.agg(sum(col(valueCol)).as(as))

  // A9 — existential aggregate (reference: cluster/Workers.scala:59).
  def existsTrue(df: DataFrame, boolCol: String, as: String): DataFrame =
    df.agg((count(when(col(boolCol), 1)) > 0).as(as))

  // ---------------------------------------------------------------------
  // A10 — last-value gauge per key (reference: metrics/MetricStore.scala:14,
  // TrinoMetricStore.scala:40-47 overwrite-latest vars). Deterministic
  // tiebreak on `tieCol` because reference order was arrival order.
  // ---------------------------------------------------------------------
  def lastValuePerKey(df: DataFrame, key: String, ts: String, value: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(ts).desc, col(tieCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(key), col(value).as("last_value"))
  }

  // ---------------------------------------------------------------------
  // F6 — idle predicate (reference: scaling/ScalingManager.scala:103-117):
  // queued==0 && running==0 && every 5-min activity counter < 1. With exact
  // windowed counts (not Trino's decayed rates) `< 1` means `== 0`
  // (SURVEY.md §7.5.4). Input: the query-event stream
  // (ts, event_type); counts are taken over the trailing `minutes` window.
  // ---------------------------------------------------------------------
  def idlePredicate(events: DataFrame, minutes: Int = 5): DataFrame = {
    val recent = retainLastMinutes(events, minutes)
    recent.agg(
      sum(when(col("event_type") === "running", 1).otherwise(0)).as("running"),
      sum(when(col("event_type") === "queued", 1).otherwise(0)).as("queued"),
      count(lit(1)).as("total_recent"))
      .withColumn("is_idle", col("running") === 0 && col("queued") === 0)
  }

  // ---------------------------------------------------------------------
  // A13 — min/max clamp (reference: scaling/algo/StepScalingAlgorithm.scala:21-26):
  // expand → least(greatest(running + step, required), maxCapacity)
  // shrink → greatest(running - step, minCapacity)
  // ---------------------------------------------------------------------
  def clampExpand(running: Column, step: Column, required: Column, maxCap: Column): Column =
    least(greatest(running + step, required), maxCap)

  def clampShrink(running: Column, step: Column, minCap: Column): Column =
    greatest(running - step, minCap)

  // ---------------------------------------------------------------------
  // A14 — uniform integer distribution (reference: cluster/Workers.scala:231-238):
  // spread n over k slots, first (n mod k) slots get one extra.
  // Column form over a `pos` column in [0, k).
  // ---------------------------------------------------------------------
  def distributeShare(n: Column, k: Column, pos: Column): Column =
    floor(n / k) + when(pos < n % k, 1).otherwise(0)

  /** A14 as a plain function (for driver-side control logic, ST6). */
  def distribute(n: Int, k: Int): Seq[Int] = {
    require(k > 0, "k must be positive")
    val base = n / k
    val extra = n % k
    (0 until k).map(i => base + (if (i < extra) 1 else 0))
  }

  // ---------------------------------------------------------------------
  // Robust per-key anomaly detection: median/MAD outliers. A mean/stddev
  // z-score is itself dragged by the outliers it hunts (one stuck-at-100%
  // node shifts the mean, masking a second bad node); median and MAD have
  // a 50% breakdown point, the standard robust-statistics choice for
  // exactly this "is one node behaving unlike its fleet history" check.
  // ---------------------------------------------------------------------

  /** Per-key exponentially-weighted moving average over the trailing
    * `lastN` samples: y₀ = x₀, yᵢ = α·xᵢ + (1−α)·yᵢ₋₁ — the true decayed
    * gauge (recent samples dominate, old spikes fade geometrically),
    * where the tail-window mean (A2) weighs all samples equally.
    *
    * The recurrence is inherently sequential, which no window frame
    * expresses — so each key's trailing samples fold ROW-LOCALLY: one
    * aggregation collects the (bounded, lastN-capped) sample list and a
    * single `aggregate` fold runs the recurrence in timestamp order.
    * The fold order is total (ts, then the unique event id), so with
    * α = 0.5 — every weight an exact binary fraction — the result is
    * deterministic and engine-reproducible (the oracle runs the same
    * fold via list_reduce). The per-key state is the metric ring buffer
    * (A3): tiny by construction, never a shuffle concern. */
  def ewmaGauge(
      metrics: DataFrame,
      keyCol: String,
      valCol: String,
      tsCol: String,
      ordCol: String,
      lastN: Int = 20,
      alpha: Double = 0.5): DataFrame = {
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsCol).desc, col(ordCol).desc)
    metrics
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= lastN)
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col(tsCol), col(ordCol), col(valCol)))),
            x => x.getField(valCol)),
          // "fold started" rides a struct flag, NOT an in-band sentinel:
          // a NaN (or NULL) sentinel is indistinguishable from a genuine
          // NaN/NULL sample and would silently RESTART the recurrence at
          // the next sample; with the flag, the first sample initializes
          // y and any NaN/NULL sample poisons the recurrence onward —
          // exactly the oracle's init-less list_reduce semantics
          struct(lit(false).as("started"), lit(0.0).as("y")),
          (acc, x) => struct(lit(true).as("started"),
            when(!acc.getField("started"), x)
              .otherwise(lit(alpha) * x + lit(1 - alpha) * acc.getField("y"))
              .as("y")),
          acc => when(acc.getField("started"), acc.getField("y"))).as("ewma"))
  }

  /**
   * One-sided CUSUM drift detector (Page 1954) over each key's last-N
   * ring window — the changepoint alarm a metric pipeline runs beside
   * the EWMA gauge (m29): s_i = max(0, s_{i-1} + (x_i − μ − slack)),
   * drift flagged when max_i s_i > h. μ is the window's OWN mean
   * (exact decimal sum / n — order-independent), so the alarm reacts to
   * a trend WITHIN the window, not to the key's absolute level.
   *
   * Same shape as [[ewmaGauge]]: ring truncation (rank ≤ N under
   * WindowGroupLimit), then ONE row-local fold over the sorted sample
   * array — fixed evaluation order, so the fold is deterministic and a
   * `list_reduce` oracle replays it; no second shuffle anywhere.
   */
  def cusumDrift(
      metrics: DataFrame,
      keyCol: String,
      valCol: String,
      tsCol: String,
      ordCol: String,
      lastN: Int = 20,
      slack: Double = 5.0,
      h: Double = 50.0): DataFrame = {
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsCol).desc, col(ordCol).desc)
    val step = (acc: Column, x: Column) => {
      val s2 = greatest(lit(0.0),
        acc.getField("s") + (x - col("mean") - lit(slack)))
      struct(s2.as("s"), greatest(acc.getField("mx"), s2).as("mx"))
    }
    metrics
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= lastN)
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n"),
        sum(col(valCol).cast("decimal(18,2)")).as("s_d"),
        transform(
          array_sort(collect_list(struct(col(tsCol), col(ordCol), col(valCol)))),
          x => x.getField(valCol)).as("vs"))
      .withColumn("mean", col("s_d").cast("double") / col("n"))
      .withColumn("cusum_max",
        aggregate(col("vs"),
          struct(lit(0.0).as("s"), lit(0.0).as("mx")),
          step,
          acc => acc.getField("mx")))
      .select(col(keyCol), col("n"),
        round(col("mean"), 6).as("mean_r"),
        round(col("cusum_max"), 6).as("cusum_max_r"),
        (col("cusum_max") > h).as("drift"))
  }

  /** Per-key robust outlier summary: median, MAD, and how many samples
    * sit beyond `k` MADs (with the max deviation for triage). Exact
    * interpolated percentiles — deterministic, oracle-matchable (the m23
    * contract) — which buffer each key's values in its reducer: right
    * for the control-plane cardinality this serves (nodes × bounded
    * window). For an unbounded-cardinality corpus swap in
    * `percentile_approx` (the m25 tolerance pattern). Two passes by
    * construction (MAD needs the median first); the tiny per-key
    * threshold frames broadcast back, so only the two percentile
    * aggregations shuffle. MAD = 0 (>50% identical samples) flags any
    * nonzero deviation — both engines share that exact-zero semantics. */
  def robustOutliers(
      metrics: DataFrame,
      keyCol: String,
      valCol: String,
      k: Double = 3.0): DataFrame = {
    val med = metrics.groupBy(keyCol)
      .agg(percentile(col(valCol), lit(0.5)).as("med"))
    val dev = metrics.join(broadcast(med), keyCol)
      .withColumn("adev", abs(col(valCol) - col("med")))
    val mad = dev.groupBy(col(keyCol), col("med"))
      .agg(percentile(col("adev"), lit(0.5)).as("mad"))
    dev.drop("med")
      .join(broadcast(mad), keyCol)
      .groupBy(col(keyCol), col("med"), col("mad"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("adev") > lit(k) * col("mad"), 1L).otherwise(0L)).as("n_outliers"),
        max(col("adev")).as("max_dev"))
  }
}
