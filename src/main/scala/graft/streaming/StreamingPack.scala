package graft.streaming

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/**
 * Streaming packing — the stream face of the batch packers. Documents
 * arrive in micro-batches, each is appended to its shard's tape in
 * arrival order, and a trainer consumes the packed output behind the
 * ingest frontier while the corpus is still arriving. One fold serves
 * both layouts; the layout is data ([[StreamingPack.Layout]]):
 *  - [[StreamingPack.Chunk]]`(seqLen)` — concat-and-chunk, the stream
 *    face of [[graft.ext.Packing.packChunked]]: the tape is cut at fixed
 *    `seqLen` strides into training sequences; only each shard's LAST
 *    sequence is ever provisional (still filling). The layout is
 *    closed-form in the tape offset, so the cross-batch state is one
 *    number pair per shard (tape length + docs so far).
 *  - [[StreamingPack.Greedy]]`(budget)` — whole-doc greedy bins, the
 *    stream face of [[graft.ext.Packing.packGreedyOrdered]]: docs are
 *    packed whole into per-shard bins of at most `budget` tokens; a doc
 *    that does not fit the open bin closes it (the closed bin is
 *    immutable and trainable immediately) and opens the next. The
 *    greedy recurrence's sufficient statistic IS the open bin, so the
 *    cross-batch state is each shard's (bin id, tokens so far, docs so
 *    far). The recurrence is sequential, so the within-batch scan runs
 *    per shard inside one task ([[graft.ext.Packing.packGreedy]]'s
 *    contract — a micro-batch shard slice fits a task by construction).
 * Either way the state is dimension-sized regardless of corpus volume,
 * and each fold charges only its own batch.
 *
 * The input stream carries (idCol, `shard`, `n_tokens`). State layout
 * under `path/` — per-`batch=<id>` OVERWRITE directories (the
 * [[StreamingWinnowIngest]] discipline, exactly-once without a replay
 * sentinel):
 *  - the placement ledger, append-only by batch (a [[LedgerState]]
 *    ledger: bucket-compacted so listing stays bounded and the
 *    re-arrival guard partition-prunes): `frags/batch=<id>` — (id,
 *    shard, pos, seq, frag_start, frag_len, doc_off) fragment rows
 *    under Chunk; `bins/batch=<id>` — (id, shard, pos, bin, n_tokens)
 *    assignments under Greedy;
 *  - `totals/batch=<id>` — per-shard state AFTER the batch: (shard,
 *    total, n_docs) under Chunk, (shard, bin, acc, n_docs) under Greedy
 *    (dimension-sized; superseded generations pruned).
 *
 * A fold reads ONLY the latest prior `totals` partition and the
 * accumulated ledger ids for the re-arrival guard (column-pruned,
 * bucket-pruned id scan, batch side anti-joined). Replay of (batch,
 * batchId) after any crash recomputes identical frames from a state
 * view that excludes its own partitions and truncates-and-rewrites the
 * same two directories; the two writes run concurrently, so any subset
 * of them can be on disk after a crash, and replay is exact for each
 * ([[FoldAsync]]).
 *
 * Equivalence contract (the x157/x166 oracles): the accumulated ledger
 * equals ONE batch pass of the layout's packer over all arrivals
 * ordered by (arrival_batch, id) per shard, pos = arrival rank per
 * shard — arrival order is the tape order.
 */
object StreamingPack {

  /** How a fold places a batch's docs on the shard tapes: where its
    * ledger lives, what its per-shard totals hold, and the placement. */
  sealed trait Layout {
    private[StreamingPack] def ledger: String
    private[StreamingPack] def totalsCols: Seq[String]
    /** The ledger rows of `docs` (idCol, shard, tokens) continuing
      * `priors`, and the per-shard totals of the shards `docs` touches.
      * The totals must not read a cut of the rows: the skeleton hands
      * the rows and the totals to two concurrent writes. */
    private[StreamingPack] def place(
        docs: DataFrame,
        idCol: String,
        priors: Option[DataFrame]): (DataFrame, DataFrame)
  }

  /** Concat-and-chunk at `seqLen` tokens per sequence; read with
    * [[fragments]] and [[seqSheet]]. */
  final case class Chunk(seqLen: Long) extends Layout {
    require(seqLen > 0, "seqLen must be positive")
    private[StreamingPack] def ledger = "frags"
    private[StreamingPack] def totalsCols = Seq("shard", "total", "n_docs")
    private[StreamingPack] def place(
        docs: DataFrame,
        idCol: String,
        priors: Option[DataFrame]): (DataFrame, DataFrame) = {
      val w = Window.partitionBy("shard").orderBy(idCol)
      val withPrior = priors match {
        case None =>
          docs.withColumn("_ptot", lit(0L)).withColumn("_pdocs", lit(0L))
        case Some(p) => docs.join(broadcast(p), Seq("shard"), "left")
          .withColumn("_ptot", coalesce(col("total"), lit(0L)))
          .withColumn("_pdocs", coalesce(col("n_docs"), lit(0L)))
          .drop("total", "n_docs")
      }
      // tape extension: within-batch prefix sums are a per-shard window
      // over ONE micro-batch (bounded by construction; a huge-batch
      // deployment would key Positional's two-phase layout by shard),
      // continued from the stored tape length
      val placed = withPrior
        .withColumn("pos", (col("_pdocs") + row_number().over(w)).cast("long"))
        .withColumn("_cum", (col("_ptot") + sum(col("tokens")).over(w)).cast("long"))
        .withColumn("_st", col("_cum") - col("tokens"))
      val frags = placed
        .withColumn("seq",
          explode(sequence(expr(s"_st div $seqLen"),
            expr(s"(_cum - 1) div $seqLen"))))
        .withColumn("_fs", greatest(col("_st"), col("seq") * seqLen))
        .withColumn("_fe", least(col("_cum"), (col("seq") + 1L) * seqLen))
        .select(col(idCol).as("id"), col("shard"), col("pos"), col("seq"),
          (col("_fs") - col("seq") * seqLen).as("frag_start"),
          (col("_fe") - col("_fs")).as("frag_len"),
          (col("_fs") - col("_st")).as("doc_off"))
      val totals = placed.groupBy(col("shard"))
        .agg(max(col("_cum")).as("total"), max(col("pos")).as("n_docs"))
      (frags, totals)
    }
  }

  /** Whole-doc greedy bins of at most `budget` tokens; read with
    * [[assignments]]. */
  final case class Greedy(budget: Long) extends Layout {
    require(budget > 0, "budget must be positive")
    private[StreamingPack] def ledger = "bins"
    private[StreamingPack] def totalsCols = Seq("shard", "bin", "acc", "n_docs")
    private[StreamingPack] def place(
        docs: DataFrame,
        idCol: String,
        priors: Option[DataFrame]): (DataFrame, DataFrame) = {
      val spark = docs.sparkSession
      import spark.implicits._
      val open: Map[Long, (Long, Long, Long)] = priors
        .map(_.collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
          .toMap)
        .getOrElse(Map.empty)
      // per-shard sequential greedy over THIS batch, continuing each
      // shard's open bin (dimension-sized priors broadcast via the task
      // closure); sorted by id — the in-batch arrival order. `_acc` is
      // the open bin's fill after each doc, so the shard's last row is
      // its totals row.
      val openB = spark.sparkContext.broadcast(open)
      val cap = budget
      val placed = docs
        .select(col(idCol).cast("long").as("id"), col("shard"), col("tokens"))
        .as[(Long, Long, Long)]
        .groupByKey(_._2)
        .flatMapGroups { (shard: Long, it: Iterator[(Long, Long, Long)]) =>
          val (bin0, acc0, docs0) = openB.value.getOrElse(shard, (0L, 0L, 0L))
          var bin = bin0; var acc = acc0; var nd = docs0
          it.toArray.sortBy(_._1).iterator.map { case (id, _, n) =>
            if (acc + n > cap && acc > 0) { bin += 1; acc = 0L }
            acc += n; nd += 1
            (id, shard, nd, bin, n, acc)
          }
        }
        .toDF("id", "shard", "pos", "bin", "n_tokens", "_acc")
      val totals = placed.groupBy(col("shard"))
        .agg(max(struct(col("pos"), col("bin"), col("_acc"))).as("_last"))
        .select(col("shard"), col("_last.bin").as("bin"),
          col("_last._acc").as("acc"), col("_last.pos").as("n_docs"))
      (placed.drop("_acc"), totals)
    }
  }

  /** Attach the packing sink over a stream carrying (idCol, `shard`,
    * `n_tokens`). Caller starts the writer with its own
    * checkpoint/trigger options. */
  def attach(
      docs: DataFrame,
      path: String,
      layout: Layout,
      idCol: String = "doc_id",
      retainGenerations: Int = 3,
      bucketK: Int = 64,
      compactEvery: Int = 16): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, path, layout, idCol, retainGenerations,
          bucketK, compactEvery)
      }

  /** One micro-batch's fold — public so the crash-replay case
    * (foreachBatch delivering the same (batch, batchId) twice, after any
    * subset of the two writes committed) is directly spec-testable:
    * re-folding must leave both state tables bit-identical. */
  def foldBatch(
      batch: DataFrame,
      batchId: Long,
      path: String,
      layout: Layout,
      idCol: String = "doc_id",
      retainGenerations: Int = 3,
      bucketK: Int = 64,
      compactEvery: Int = 16): Unit =
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      val ledger = s"$path/${layout.ledger}"
      val hasState = StreamState.exists(spark, ledger)
      // in-batch id dedup: ONE representative row per id (the struct
      // minimum — never aggregates mixed across duplicate rows), then
      // the cross-batch re-arrival guard: a doc already on some tape
      // must not be appended twice. Zero-token docs carry no placement
      // and no tape position (the batch packers' rule). The guard
      // ([[LedgerState.antiJoinSeen]]) proves fresh ids against the
      // runs' Bloom sidecars and exact-scans only sidecar hits.
      val batchDocs = batch
        .groupBy(col(idCol))
        .agg(min(struct(col("shard").cast("long").as("shard"),
          col("n_tokens").cast("long").as("tokens"))).as("_rep"))
        .select(col(idCol), col("_rep.shard").as("shard"),
          col("_rep.tokens").as("tokens"))
        .filter(col("tokens") > 0L)
      val cuts = new StageCuts(spark, Some(s"$path/_stage"))
      try {
        val dedup = cuts.track(
          if (hasState)
            LedgerState.antiJoinSeen(spark, ledger, batchId, batchDocs, idCol)
          else batchDocs)
        if (!dedup.isEmpty) {
          // latest PRIOR totals partition (one row per shard ever seen)
          // via ONE filesystem listing + a direct single-dir read — no
          // per-fold max-aggregation job (generation id = dir name;
          // every generation < batchId is complete because the
          // checkpoint advances only after its fold returns)
          val priors =
            if (!hasState) None
            else StreamState.latestGeneration(spark, s"$path/totals", batchId)
              .map(mx => spark.read.parquet(s"$path/totals/batch=$mx")
                .select(layout.totalsCols.map(col): _*))
          val (rows, batchTot) = layout.place(dedup, idCol, priors)
          // the totals read the uncut placement, never `rowsCut`: a lazy
          // cut first materialized by two concurrent jobs races Spark's
          // lineage truncation ([[StageCuts]])
          val rowsCut = cuts(rows)
          // totals AFTER this batch: shards absent from it carry forward
          val totals = priors.fold(batchTot)(p => batchTot.unionByName(
            p.join(batchTot.select("shard"), Seq("shard"), "left_anti")))
          // the two writes target disjoint dirs — overlap them
          // ([[FoldAsync]], guide §2.6); the barrier keeps the fold's
          // contract that both are durable when it returns
          val async = new FoldAsync(spark, s"${layout.ledger}-pack", threads = 2)
          try {
            async(s"${layout.ledger} write") {
              rowsCut.write.mode("overwrite").parquet(s"$ledger/batch=$batchId")
            }
            async("totals write") {
              totals.write.mode("overwrite")
                .parquet(s"$path/totals/batch=$batchId")
            }
            async.barrier()
          } finally async.shutdownAwait()
          // retention: totals generations are superseded snapshots
          // (every read targets the latest); the ledger keeps its ROWS
          // forever but its DIRECTORIES compact ([[LedgerState.maintain]])
          StreamState.pruneGenerations(spark, s"$path/totals", retainGenerations)
          LedgerState.maintain(spark, ledger, batchId,
            bucketK = bucketK, compactEvery = compactEvery)
        }
      // release in `finally`: a throwing fold must not leak its tracked
      // blocks to the ContextCleaner (a retry-wrapped deployment keeps
      // the JVM alive across fold failures)
      } finally cuts.release()
    }

  /** The accumulated fragment ledger of a [[Chunk]] stream — must equal
    * one batch [[graft.ext.Packing.packChunked]] pass over all arrivals
    * in arrival (= batch, then id) order per shard. `arrival_batch` is
    * the batch the fragment was folded in (compaction-invariant: stored
    * as the `abatch` data column). */
  def fragments(spark: SparkSession, path: String): DataFrame =
    LedgerState.view(spark, s"$path/frags", exclude = -1L)
      .select(col("id"), col("shard"), col("pos"), col("seq"),
        col("frag_start"), col("frag_len"), col("doc_off"),
        col("abatch").as("arrival_batch"))

  /** Per-sequence composition sheet over a [[Chunk]] stream's
    * accumulated fragments — what a trainer consuming BEHIND the ingest
    * frontier validates: each (shard, seq)'s fragment/doc-start counts,
    * fill, and a `final` flag — every sequence except each shard's LAST
    * (still filling as the tape grows) is immutable from the moment the
    * fold that completed it commits; only final sequences are safe to
    * train on mid-stream. One group-by over the ledger; the pad of a
    * final sequence is always 0 by construction (the tape is
    * contiguous). */
  def seqSheet(spark: SparkSession, path: String, seqLen: Long): DataFrame = {
    val frags = fragments(spark, path)
    val sheet = frags.groupBy(col("shard"), col("seq"))
      .agg(count(lit(1)).as("n_frags"),
        sum(when(col("doc_off") === 0L, 1L).otherwise(0L)).as("n_doc_starts"),
        sum(col("frag_len")).as("filled"),
        min_by(col("id"), col("frag_start")).as("first_id"),
        max_by(col("id"), col("frag_start")).as("last_id"))
    val lastSeq = frags.groupBy(col("shard"))
      .agg(max(col("seq")).as("_last"))
    sheet.join(broadcast(lastSeq), Seq("shard"))
      .withColumn("is_final",
        col("seq") < col("_last") || col("filled") === seqLen)
      .drop("_last")
  }

  /** The accumulated bin assignments of a [[Greedy]] stream — must equal
    * one [[graft.ext.Packing.packGreedyOrdered]] pass over all arrivals
    * in arrival (= batch, then id) order per shard. */
  def assignments(spark: SparkSession, path: String): DataFrame =
    LedgerState.view(spark, s"$path/bins", exclude = -1L)
      .select(col("id"), col("shard"), col("pos"), col("bin"),
        col("n_tokens"), col("abatch").as("arrival_batch"))
}
