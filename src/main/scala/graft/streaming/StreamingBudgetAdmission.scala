package graft.streaming

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/**
 * Streaming per-source token-quota admission — the quota gate a
 * continuously-ingesting curation pipeline puts in front of everything
 * else: every arriving document is admitted iff its source's INCLUSIVE
 * running token total (in arrival order) is still within the source's
 * quota, the per-source head semantics of the batch token-budget cut
 * (ext.Sharding.tokenBudgetCut / x58). Because admission is a pure
 * function of the per-source running sum, the streamed verdicts over
 * ordered batches equal one batch window pass over everything ingested
 * — that replay IS the x142 oracle.
 *
 * State layout under `path/` — per-`batch=<id>` OVERWRITE directories
 * (the [[StreamingWinnowIngest]] discipline, exactly-once without a
 * replay sentinel):
 *  - `verdicts/batch=<id>` — (id, group, tokens, src_cum, admitted)
 *    per arriving doc, append-only by batch — a [[LedgerState]] ledger:
 *    compacted into a bucketed `ckpt=<id>` generation every
 *    `compactEvery` folds so listing stays bounded for the stream's
 *    life, with the re-arrival guard pruning the checkpoint to the
 *    batch's own id buckets;
 *  - `totals/batch=<id>`   — the per-source cumulative totals AFTER
 *    that batch (dimension-sized: one row per source ever seen).
 *
 * A fold reads ONLY (a) the latest prior `totals` partition
 * (dimension-sized) and (b) the accumulated verdict ids for the
 * re-arrival guard (column-pruned, bucket-pruned id scan, batch side
 * broadcast) — never the accumulated corpus. Replay of (batch, batchId)
 * after any crash window recomputes identical frames from a state view
 * that excludes its own partitions and truncates-and-rewrites the same
 * two directories.
 *
 * The within-batch prefix sum is a per-source window over ONE
 * micro-batch (bounded by construction); a deployment with huge
 * batches and a hot source would swap in the two-phase partial-sum
 * layout of ext.Positional.withGlobalRunningSum keyed by source, but
 * at micro-batch sizes the plain window is the right plan.
 */
object StreamingBudgetAdmission {

  /** Attach the admission sink over a stream carrying (idCol, groupCol,
    * tokCol). Caller starts the writer with its own checkpoint/trigger
    * options; read the accumulated verdicts with [[verdicts]]. */
  def attach(
      docs: DataFrame,
      path: String,
      quota: Long,
      idCol: String = "doc_id",
      groupCol: String = "source",
      tokCol: String = "n_tokens",
      retainGenerations: Int = 3,
      bucketK: Int = 64,
      compactEvery: Int = 16): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, path, quota, idCol, groupCol, tokCol,
          retainGenerations, bucketK, compactEvery)
      }

  /** One micro-batch's fold — public so the replay case (foreachBatch
    * delivering the same (batch, batchId) twice, after any prefix of
    * the two writes committed) is directly spec-testable: re-folding
    * must leave both state tables bit-identical. */
  def foldBatch(
      batch: DataFrame,
      batchId: Long,
      path: String,
      quota: Long,
      idCol: String = "doc_id",
      groupCol: String = "source",
      tokCol: String = "n_tokens",
      retainGenerations: Int = 3,
      bucketK: Int = 64,
      compactEvery: Int = 16): Unit =
    foldBatchBudgets(batch, batchId, path, Map.empty, quota, idCol,
      groupCol, tokCol, retainGenerations, bucketK, compactEvery)

  /** [[foldBatch]] with PER-SOURCE budgets — the group-head budget
    * semantics (x160) on the admission gate: a source named in
    * `budgets` is admitted against its OWN quota, every other source
    * against `defaultQuota`. A real data owner sets different token
    * budgets per source; one scalar for the whole stream is the
    * fixture shape, not the deployment shape. The budget lookup is a
    * map LITERAL over the dimension-sized source set (plan metadata —
    * no join, no state), so admission stays a pure function of the
    * per-source running sum and the streamed verdicts still equal one
    * batch window pass with a per-source threshold. */
  def foldBatchBudgets(
      batch: DataFrame,
      batchId: Long,
      path: String,
      budgets: Map[String, Long],
      defaultQuota: Long,
      idCol: String = "doc_id",
      groupCol: String = "source",
      tokCol: String = "n_tokens",
      retainGenerations: Int = 3,
      bucketK: Int = 64,
      compactEvery: Int = 16): Unit = {
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      val hasState = StreamState.exists(spark, s"$path/verdicts")
      // in-batch id dedup (pure function of batch contents), then the
      // cross-batch re-arrival guard: a doc id that already holds a
      // verdict no-ops — a quota gate must never double-charge a replay.
      // The guard ([[LedgerState.antiJoinSeen]]) proves most batch ids
      // fresh against the runs' Bloom sidecars and anti-joins only the
      // bounded increments; sidecar hits fall through to the exact
      // bucket-pruned ledger read — never the whole history tree.
      val batchDocs = batch.groupBy(col(idCol))
        .agg(min(col(groupCol)).as(groupCol), min(col(tokCol)).as(tokCol))
      val cuts = new StageCuts(spark, s"$path/_stage")
      try {
      val dedup = cuts.track(
        if (hasState)
          LedgerState.antiJoinSeen(spark, s"$path/verdicts", batchId,
            batchDocs, idCol)
        else batchDocs)
      if (!dedup.isEmpty) {
        // latest PRIOR totals partition: dimension-sized (one row per
        // source). The generation id is the directory name, so the
        // max-batch probe is ONE filesystem listing and the read
        // targets that single partition dir — no Spark job, no
        // partition discovery over every retained generation (every
        // generation < batchId is complete: the checkpoint only
        // advances after its fold returns, so a torn dir can only be
        // batchId's own, which the probe excludes)
        val priors: DataFrame =
          if (hasState)
            StreamState.latestGeneration(spark, s"$path/totals", batchId)
              .map(mx => spark.read.parquet(s"$path/totals/batch=$mx")
                .select(col("group"), col("total")))
              .orNull
          else null
        val w = Window.partitionBy(groupCol).orderBy(idCol)
        val withPrior =
          if (priors == null) dedup.withColumn("_prior", lit(0L))
          else dedup.join(broadcast(priors.withColumnRenamed("group", groupCol)),
              Seq(groupCol), "left")
            .withColumn("_prior", coalesce(col("total"), lit(0L)))
            .drop("total")
        val budgetE =
          if (budgets.isEmpty) lit(defaultQuota)
          else coalesce(
            element_at(typedlit(budgets), col(groupCol).cast("string")),
            lit(defaultQuota))
        val verd = withPrior
          .withColumn("src_cum", (col("_prior") + sum(col(tokCol)).over(w)).cast("long"))
          .withColumn("admitted", col("src_cum") <= budgetE)
          .select(col(idCol).as("id"), col(groupCol).as("group"),
            col(tokCol).cast("long").as("tokens"),
            col("src_cum"), col("admitted"))
        val verdCut = cuts(verd)
        // totals AFTER this batch: prior rows merged with this batch's
        // per-source inclusive maxima (sources absent from the batch
        // carry forward)
        val batchTot = verdCut.groupBy(col("group"))
          .agg(max(col("src_cum")).as("total"))
        val totals =
          if (priors == null) batchTot
          else batchTot.unionByName(
            priors.join(batchTot.select("group"), Seq("group"), "left_anti"))
        // the verdicts write materializes verdCut first, on this thread
        // (two concurrent jobs must not read a lazy cut first,
        // [[StageCuts]]); the totals write then overlaps the verdicts
        // ledger maintenance ([[FoldAsync]], guide §2.6) — disjoint dirs.
        // The barrier keeps the fold's contract that both writes are
        // durable when it returns (the composed fold reads
        // verdicts/batch=<id> next). The verdicts ledger keeps its ROWS
        // forever but its DIRECTORIES compact ([[LedgerState.maintain]]).
        verdCut.write.mode("overwrite")
          .parquet(s"$path/verdicts/batch=$batchId")
        val async = new FoldAsync(spark, "budget-admission", threads = 1)
        try {
          async("totals write") {
            totals.write.mode("overwrite")
              .parquet(s"$path/totals/batch=$batchId")
          }
          LedgerState.maintain(spark, s"$path/verdicts", batchId,
            bucketK = bucketK, compactEvery = compactEvery)
          async.barrier()
        } finally async.shutdownAwait()
        // retention: totals generations are superseded snapshots (every
        // read targets the latest)
        StreamState.pruneGenerations(spark, s"$path/totals", retainGenerations)
      }
      // release in `finally`: a throwing fold must not leak its tracked
      // blocks to the ContextCleaner (a retry-wrapped deployment keeps
      // the JVM alive across fold failures)
      } finally cuts.release()
      ()
    }
  }

  /** The accumulated per-doc admission verdicts — must equal one batch
    * per-source running-sum pass over everything ingested in arrival
    * order (the x142 oracle's window replay). Resolved through the
    * compacted ledger view (row content is compaction-invariant). */
  def verdicts(spark: SparkSession, path: String): DataFrame =
    LedgerState.view(spark, s"$path/verdicts", exclude = -1L)
      .select(col("id"), col("group"), col("tokens"),
        col("src_cum"), col("admitted"))
}
