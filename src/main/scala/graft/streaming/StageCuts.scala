package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Eager stage cuts for a fold's intermediate frames, with
 * cluster-honest failure semantics.
 *
 * A composed fold ([[StreamingCuratedPack]], [[StreamingBudgetAdmission]],
 * [[StreamingPack]]) issues ~15 actions per micro-batch; without a
 * cut, every action's plan re-carries the bloom-probe + quality +
 * fingerprint + MinHash + SRP expression trees through Catalyst analysis
 * (persist caches DATA, not ANALYSIS — measured ~50 s/fold of pure
 * driver-side re-analysis on the full dedup stack, more than its Spark
 * job time; the x177 lineage-cut took the row 83 s → 26 s).
 *
 * The cut itself is master-dependent, resolved by [[StageCuts.modeFor]]:
 *  - '''[[StageCuts.Local]]''' (`local[*]` — a single JVM, no executor
 *    loss possible): `localCheckpoint(eager = false)` — truncates lineage
 *    onto executor-local blocks, so every downstream action analyzes a
 *    flat scan. Safe precisely because the blocks cannot be lost.
 *    LAZY (r20): the eager variant ran one dedicated materialization job
 *    per cut — ~14 per composed fold, each paying the box's full per-job
 *    fixed latency for a count nobody reads. The lazy cut defers
 *    materialization into the FIRST consuming action (the RDD persists
 *    its blocks then; later consumers read them back exactly as before)
 *    while the Catalyst benefit is unchanged — planning happens at the
 *    localCheckpoint() call either way, so every downstream plan is the
 *    same flat LogicalRDD scan. Measured (`FoldProbe curated`, 3
 *    x177-shaped folds): 258 → 231 jobs, 5149 → 4564 tasks, 63 → 60
 *    SQL executions (wall on this box is hypervisor-noise-bound; job
 *    count is the honest metric). Two concurrent jobs must never be
 *    the first to read one lazy cut (each would compute its blocks
 *    while the first to finish truncates the lineage under the other),
 *    so a [[FoldAsync]] body reads a cut only after the fold's main
 *    thread has, or reads the uncut frame.
 *  - '''[[StageCuts.Durable]]''' (cluster masters):
 *    write the frame ONCE as parquet under the fold's scratch dir and
 *    hand downstream actions the read-back — lineage-FREE (every
 *    downstream plan analyzes a flat file scan, killing the per-action
 *    re-analysis exactly like the local cut) AND loss-RECOVERABLE (the
 *    frame lives on the state path's filesystem, so an executor loss or
 *    dynamic-allocation reclaim mid-fold just re-reads files; nothing
 *    depends on single-replica block liveness). Costs one batch-sized
 *    write+read per cut against the state-path FS — the same durability
 *    class as the ledger writes the fold already does. Measured on a
 *    `local-cluster[2,2,2048]` master (real separate-process
 *    executors, where localCheckpoint is genuinely unsafe): the full
 *    composed dedup stack folds at 8.85 s median with the durable cut
 *    vs 38.57 s with a persist() fallback (since deleted: every fold
 *    has a state path to cut into) and 6.37 s with the (unsafe) forced
 *    local cut — within 1.39x of the local-cut wall, output hashes
 *    identical across all modes (PERF.md r19, measured on a 12-fold
 *    synthetic fixture by a since-merged probe). `FoldProbe curated
 *    local-cluster[2,2,2048]` checks that the durable cut is bit-exact
 *    (the same fragments hash as on `local[N]`) and profiles its jobs.
 *
 * [[release]] at fold end restores deterministic cleanup: tracked
 * blocks unpersist (no reliance on ContextCleaner GC of dataset
 * references during a long-lived stream), and the durable scratch dir
 * deletes (all of the fold's actions have run; a replayed fold rewrites
 * it with mode=overwrite, and construction also clears any crash
 * leftover). localCheckpoint blocks cannot be unpersisted without
 * destroying the checkpoint data they ARE; they are freed by the
 * ContextCleaner when the fold's references drop — bounded in local
 * mode where each fold's frames are batch-sized.
 */
private[streaming] object StageCuts {
  /** How a cut truncates analysis cost — see the class doc. */
  sealed trait Mode
  case object Local extends Mode
  case object Durable extends Mode

  /** Local master → [[Local]], else [[Durable]]. */
  def modeFor(spark: SparkSession): Mode =
    if (spark.sparkContext.isLocal) Local else Durable
}

/** Overlap INDEPENDENT per-fold actions from a small driver-side pool
  * (optimization guide §2.6: Spark happily runs several jobs at once;
  * actions are only sequential because the driver calls them
  * sequentially). Used by the fold bodies for state writes whose inputs
  * are already staged (persisted / cut) and whose target dirs are
  * disjoint — each other's ordering is irrelevant, only the fold's
  * RETURN must cover them all (the stream's commit marker).
  *
  * Kept on measurement: with every body run inline on the caller
  * instead, perfbench `curation_stream` (4 cores, 25 s, seeds 1-4, one
  * alternating pair each) read op p50 9,842 → 10,909 ms in the median
  * (+11%; the inline side lost 3 of 4 pairs), over the 10% a deletion
  * needed (ROADMAP direction 5).
  *
  * Crash-safety: sequential writes can only crash into PREFIX states;
  * concurrent writes can also leave any SUBSET of the in-flight writes
  * on disk (a later write landed, an earlier one did not). Replay is
  * exact for every such subset:
  *  - self-excluding reads: every state read of a fold excludes the
  *    fold's own batch (prior generations, ledger rows < batchId), so
  *    whichever of batch N's dirs exist, the replay of N computes the
  *    same frames;
  *  - deterministic per-batch overwrite: every write truncates-and-
  *    rewrites its own `batch=N` dir with rows that are a pure function
  *    of those frames, so replay replaces a missing, partial or complete
  *    dir with the same rows;
  *  - no later fold reads a partial batch: the fold returns only after
  *    every submitted write landed, and the stream commits batch N only
  *    after the fold returns, replaying an uncommitted N first.
  * Readers outside the fold can still meet a partial batch. Where one
  * table is read as the commit marker of others — the quality head's
  * `meta` generation, which indexes its `head` rows — [[barrier]] makes
  * the indexed data durable before the marker is written. No other
  * reader takes one table's generation N as proof that another table's
  * batch N is durable: in particular the curated pack's
  * `funnel/batch=N` can land before that fold's ledger and pack writes,
  * and its only readers (the next fold's prior-funnel read and
  * [[StreamingCuratedPack.funnel]]) read the funnel alone.
  *
  * [[barrier]] awaits everything submitted so far and rethrows the
  * first failure — used before a commit-marker write that must follow
  * the data it marks. [[shutdownAwait]] awaits all, shuts the pool
  * down, and RETURNS failures instead of throwing, for `finally` paths
  * that must not mask the main path's own exception. */
private[streaming] final class FoldAsync(
    spark: SparkSession, label: String, threads: Int = 3) {
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
  private val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
  private val pending =
    scala.collection.mutable.Buffer.empty[scala.concurrent.Future[Unit]]
  def apply(desc: String)(body: => Unit): Unit = synchronized {
    pending += scala.concurrent.Future {
      spark.sparkContext.setJobDescription(s"$label async: $desc")
      body
    }(ec)
    ()
  }
  private def drainAwait(): Seq[Throwable] = synchronized {
    val fs = pending.toSeq
    pending.clear()
    fs.flatMap(f => scala.util.Try(scala.concurrent.Await.result(
      f, scala.concurrent.duration.Duration.Inf)).failed.toOption)
  }
  def barrier(): Unit = drainAwait().headOption.foreach(t => throw t)
  def shutdownAwait(): Seq[Throwable] = {
    val fs = drainAwait()
    pool.shutdown()
    fs
  }
}

private[streaming] final class StageCuts(
    spark: SparkSession,
    scratch: String,
    forceMode: Option[StageCuts.Mode] = None) {
  import StageCuts._
  val mode: Mode = forceMode.getOrElse(modeFor(spark))
  private val persisted = scala.collection.mutable.Buffer.empty[DataFrame]
  private var n = 0
  // a crashed fold's scratch leftovers must not survive into this one:
  // stage numbering is positional, and a config change between runs
  // could leave a stale higher-numbered stage a bug would then read
  if (mode == Durable) deleteScratch()

  private def deleteScratch(): Unit = {
    val p = new org.apache.hadoop.fs.Path(scratch)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    ()
  }

  /** Cut `df`'s lineage, so downstream actions neither recompute nor
    * re-analyze it. A [[StageCuts.Local]] cut is lazy: the first action
    * that reads it materializes it. */
  def apply(df: DataFrame): DataFrame = mode match {
    case Local => df.localCheckpoint(false)
    case Durable =>
      val dir = s"$scratch/stage-$n"
      n += 1
      df.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
  }

  /** Register an already-shaped frame for fold-end cleanup WITHOUT
    * cutting its lineage (plain persist): batch-sized frames the fold
    * reads several times but whose plans are shallow. Guarantees the
    * blocks drop in [[release]] even when the fold throws (the fold
    * bodies run release in a `finally`). */
  def track(df: DataFrame): DataFrame = {
    df.persist()
    persisted += df
    df
  }

  /** Deterministically drop the tracked blocks and the durable
    * scratch at fold end. Idempotent; called from the folds' `finally`
    * so a throwing fold leaves no blocks (or scratch files) behind. */
  def release(): Unit = {
    persisted.foreach(_.unpersist(blocking = false))
    persisted.clear()
    if (mode == Durable) deleteScratch()
  }
}
