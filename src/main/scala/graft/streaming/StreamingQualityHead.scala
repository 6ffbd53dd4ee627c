package graft.streaming

import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/**
 * Streaming evictive quality-budget head over ONE global budget —
 * maintain ONLINE the corpus [[graft.ext.Mixture.qualityBudgetHead]]
 * selects in batch: "the best `budget` tokens ingested SO FAR". After
 * every fold the accumulated head must be bit-identical to the batch
 * operator over everything ingested.
 *
 * This is the single-group case of [[StreamingGroupQualityHead]] (the
 * one fold implementation; its scaladoc holds the monotonicity facts,
 * the dynamic-budget rationale and the state layout): every doc is
 * filed under one constant group whose budget is the global one, and
 * the readers drop the `grp` column again. With one group each step of
 * the group fold is the global one — the in-batch representative, the
 * raise detection, the changed cells, the cut guard, and the per-key
 * running sum over a single key.
 *
 * Input columns: `doc_id`, `score_k`, `n_tokens` (a `source` column,
 * if present, is ignored).
 */
object StreamingQualityHead {

  /** The one group every doc is filed under. */
  private val Global = "*"

  /** Attach the evictive-head sink. `budgetOf` is the budget SCHEDULE
    * (batchId → budget; a constant budget is `_ => b`): raises re-admit
    * the best previously-dropped docs from the arrivals ledger, shrinks
    * evict down to the new head. Read results with [[ledger]] or
    * [[lifecycle]]. */
  def attach(
      docs: DataFrame,
      path: String,
      budgetOf: Long => Long,
      retainGenerations: Int = 3,
      bucketK: Int = 64,
      compactEvery: Int = 16): DataStreamWriter[Row] =
    StreamingGroupQualityHead.attach(single(docs), path,
      b => Map(Global -> budgetOf(b)), retainGenerations, bucketK, compactEvery)

  /** One micro-batch's fold — public so replay is directly
    * spec-testable: re-folding must leave every state table
    * bit-identical. */
  def foldBatch(
      batch: DataFrame,
      batchId: Long,
      path: String,
      budget: Long,
      retainGenerations: Int = 3,
      bucketK: Int = 64,
      compactEvery: Int = 16): Unit =
    StreamingGroupQualityHead.foldBatch(single(batch), batchId, path,
      Map(Global -> budget), retainGenerations, bucketK, compactEvery)

  private def single(docs: DataFrame): DataFrame = docs.withColumn("source", lit(Global))

  /** The current head (id, score, tokens). */
  def head(spark: SparkSession, path: String): DataFrame =
    StreamingGroupQualityHead.head(spark, path).drop("grp")

  /** Per-doc sheet (id, arrival_batch, score, tokens, admit,
    * evict_batch, admitted) — see [[StreamingGroupQualityHead.ledger]]. */
  def ledger(spark: SparkSession, path: String): DataFrame =
    StreamingGroupQualityHead.ledger(spark, path).drop("grp")

  /** Dynamics-aware per-doc sheet (id, arrival_batch, score, tokens,
    * admit, n_evictions, n_readmissions, admitted) — see
    * [[StreamingGroupQualityHead.lifecycle]]. */
  def lifecycle(spark: SparkSession, path: String): DataFrame =
    StreamingGroupQualityHead.lifecycle(spark, path).drop("grp")
}
