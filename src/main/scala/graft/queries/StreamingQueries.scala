package graft.queries

import graft.ext.{KMeans, Similarity, TextAnalysis}
import graft.sources.Tables
import graft.streaming.{StreamingBm25Ingest, StreamingBudgetAdmission, StreamingClusterIngest, StreamingDecontaminate, StreamingDedup, StreamingIndexIngest, StreamingLangIdScore, StreamingNbScore, StreamingPqIngest, StreamingPrioritySample, StreamingQualityHead, StreamingWinnowIngest}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Oracle-checked STREAMING counterparts (x53-x55): each entry drives the
 * real Structured Streaming operator — keyed state / literal-sketch
 * filter / foreachBatch index append — over the fixture corpus split into
 * two genuine micro-batches, then returns the drained sink as a batch
 * frame for the DuckDB compare. Until these, the streaming operators were
 * covered by batch-agreement specs only; these put them behind the same
 * hard rows+schema+hash gate as everything else.
 *
 * Harness note: MemoryStream is fed driver-side — a documented
 * fixture-sized injection (the production ingest edge is a file/queue
 * source; the operator under test is everything downstream of the
 * source). The two batches split on the id midpoint, so batch 1 holds
 * strictly lower ids than batch 2 — that makes cross-batch first-wins
 * state deterministic AND SQL-expressible (the first batch to see a
 * fingerprint necessarily holds its minimum id).
 */
object StreamingQueries {

  /** Fixture ids are dense from 0; split at the midpoint of the observed
    * range so both batches are non-empty on every scale factor. */
  private def splitPoint(ids: Seq[Long]): Long = {
    val (lo, hi) = (ids.min, ids.max)
    lo + (hi - lo) / 2
  }

  /** Drain a started streaming query over two deterministic micro-batches
    * and return the memory-sink table. */
  private def twoBatchDrain[A](
      s: SparkSession,
      input: MemoryStream[A],
      batch1: Seq[A],
      batch2: Seq[A],
      sink: org.apache.spark.sql.DataFrame => org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
      toStream: MemoryStream[A] => DataFrame): DataFrame = {
    val qn = "sq_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val q = sink(toStream(input)).queryName(qn).format("memory")
      .outputMode("append").start()
    try {
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(batch2)
      q.processAllAvailable()
    } finally q.stop()
    s.table(qn)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // streaming exact dedup (StreamingDedup.firstWins): keyed
    // flatMapGroupsWithState carries a seen-marker per fingerprint across
    // micro-batches; the survivor per fingerprint is the min doc id
    // (in-batch reduce + the ordered batch split — see class doc)
    "x53_stream_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = StreamingDedup.withFingerprint(
          Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("fp"), col("doc_id"), col("text"))
        .as[StreamingDedup.DedupedDoc].collect().toSeq
      val split = splitPoint(rows.map(_.doc_id))
      val input = MemoryStream[StreamingDedup.DedupedDoc]
      twoBatchDrain(s, input,
        rows.filter(_.doc_id <= split), rows.filter(_.doc_id > split),
        (df: DataFrame) => StreamingDedup
          .firstWins(df.as[StreamingDedup.DedupedDoc], ttl = None)
          .toDF().writeStream,
        (ms: MemoryStream[StreamingDedup.DedupedDoc]) => ms.toDF())
        .select(col("fp"), col("doc_id").as("keep_id"))
        .orderBy("keep_id")
    }),

    // streaming snapshot diff (x82's stream counterpart): the NEW
    // snapshot arrives in micro-batches and diffs against the stored OLD
    // fingerprint table (a stream-static broadcast join — the x54
    // side-input shape). `removed` is undetectable in a stream (absence
    // is not an event); the batch x82 owns it.
    "x92_stream_snapshot_diff" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val d = Tables.documents(s, dir)
      val oldFp = d.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp_old"))
      val newRows = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(3)) === 0, concat(col("text"), lit(" rev")))
            .otherwise(col("text")))
        .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
      val split = splitPoint(newRows.map(_._1))
      val input = MemoryStream[(Long, String)]
      twoBatchDrain(s, input,
        newRows.filter(_._1 <= split), newRows.filter(_._1 > split),
        (df: DataFrame) => df.toDF("doc_id", "text")
          .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp_new"))
          .join(broadcast(oldFp), Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("fp_old").isNull, "added")
              .when(col("fp_old") === col("fp_new"), "unchanged")
              .otherwise("changed").as("status"),
            col("fp_old"), col("fp_new"))
          .writeStream,
        (ms: MemoryStream[(Long, String)]) => ms.toDF())
        .orderBy("doc_id")
    }),

    // streaming decontamination (StreamingDecontaminate.withBloomHits):
    // the benchmark's Bloom sketch is built batch-side and rides the
    // streaming plan as a flat LITERAL bitset — the per-batch filter is
    // one stateless codegen'd loop per doc. Output = flagged docs with
    // their candidate gram counts (the screen half of x44; zero false
    // negatives)
    "x54_stream_decontaminate" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val bloom = StreamingDecontaminate.bloomWords(
        docs.filter(col("doc_id") % 97 === 0), n = 13,
        bits = ExtensionQueries.BloomBits, k = ExtensionQueries.BloomK)
      val rows = docs.as[(Long, String)].collect().toSeq
      val split = splitPoint(rows.map(_._1))
      val input = MemoryStream[(Long, String)]
      twoBatchDrain(s, input,
        rows.filter(_._1 <= split), rows.filter(_._1 > split),
        (df: DataFrame) => StreamingDecontaminate
          .withBloomHits(df.toDF("doc_id", "text"), bloom, n = 13,
            bits = ExtensionQueries.BloomBits, k = ExtensionQueries.BloomK)
          .filter(col("n_bloom_hits") >= 1L).writeStream,
        (ms: MemoryStream[(Long, String)]) => ms.toDF())
        .select(col("doc_id"), col("n_bloom_hits"))
        .orderBy("doc_id")
    }),

    // streaming ANN-index ingest (StreamingIndexIngest.attach): two
    // micro-batches of vectors assigned map-side against frozen centroid
    // literals and APPENDED to the partition-pruned parquet layout; the
    // read-back of the grown index is what a probe would see. Centroids
    // here are the deterministic x15 recurrence (as KMeans.Centroid
    // records), so the nearest-centroid assignment is SQL-expressible
    // without replaying k-means training.
    "x55_stream_index_ingest" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val cents = StreamingQueries.recurrenceCentroids
      val rows = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toSeq
      val split = splitPoint(rows.map(_._1))
      val path = java.nio.file.Files.createTempDirectory("graft_x55_").toString
      // ONE checkpoint across both drains — without it the second
      // AvailableNow start would replay batch 1 and double-append
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x55_ck_").toString
      val input = MemoryStream[(Long, Seq[Float])]
      val writer = StreamingIndexIngest.attach(
        input.toDF().toDF("vec_id", "embedding"), path, cents,
        idCol = "vec_id", vecCol = "embedding")
        .option("checkpointLocation", ckpt)
      def drain(batch: Seq[(Long, Seq[Float])]): Unit = {
        input.addData(batch)
        val q = writer.trigger(
          org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination(120000) finally q.stop()
      }
      drain(rows.filter(_._1 <= split))
      drain(rows.filter(_._1 > split))
      s.read.parquet(path)
        .select(col("vec_id"), col("list").cast("long").as("list"))
        .orderBy("vec_id")
    }),

    // streaming IVF-PQ code ingest (StreamingPqIngest.attach): stats,
    // codebooks and the synthetic coarse quantizer are frozen batch-side
    // (trained on the full fixture corpus, exactly x59's artifacts);
    // two micro-batches of raw vectors quantize/encode/assign against
    // the frozen literals and append to the list-partitioned codes
    // layout; the probe of the grown index must equal x59's in-memory
    // IVF-PQ exactly, so the oracle IS x59's
    "x73_stream_ivfpq_ingest" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val raw = Tables.embeddings(s, dir)
      val stats = Similarity.quantizeStats(raw)
      val qvecs = Similarity.quantizeMinMax(raw)
        .groupBy("vec_id")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("q")))),
          x => x.getField("q").cast("double")).as("qvec"))
        .persist() // PqM fits + query side (caller-release)
      val books = Similarity.pqTrain(qvecs,
        m = ExtensionQueries.PqM, k = ExtensionQueries.PqK,
        iters = ExtensionQueries.KmIters, dim = ExtensionQueries.Dim)
      val rows = raw.select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toSeq
      val split = splitPoint(rows.map(_._1))
      val path = java.nio.file.Files.createTempDirectory("graft_x73_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x73_ck_").toString
      val input = MemoryStream[(Long, Seq[Float])]
      val writer = StreamingPqIngest.attach(
        input.toDF().toDF("vec_id", "embedding"), path, stats, books,
        dim = ExtensionQueries.Dim)
        .option("checkpointLocation", ckpt)
      def drain(batch: Seq[(Long, Seq[Float])]): Unit = {
        input.addData(batch)
        val q = writer.trigger(
          org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination(120000) finally q.stop()
      }
      drain(rows.filter(_._1 <= split))
      drain(rows.filter(_._1 > split))
      val lists = raw.select(col("vec_id"),
        Similarity.ivfList(col("embedding"), Similarity.IvfLists,
          ExtensionQueries.Dim).as("list"))
      val queries = qvecs.filter(col("vec_id") < 5).join(lists, "vec_id")
      Similarity.probeIvfPqIndex(s, path, queries, books, k = 3,
          dim = ExtensionQueries.Dim)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"),
          // the partition column reads back as the inferred int type
          col("adc"), col("list").cast("long").as("list"))
        .orderBy("query_id", "rank")
    }),

    // streaming BM25-postings ingest (StreamingBm25Ingest.attach): two
    // micro-batches of documents tokenized batch-locally and APPENDED to
    // the term-bucket postings layout + one stats row each; the probe of
    // the grown index (bm25TopKFromIndex — pruned scan, df from
    // postings, stats merged by summation) must equal x61's full-corpus
    // BM25 exactly, so the oracle IS x61's
    "x68_stream_bm25_ingest" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq
      val split = splitPoint(rows.map(_._1))
      val path = java.nio.file.Files.createTempDirectory("graft_x68_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x68_ck_").toString
      val input = MemoryStream[(Long, String)]
      val writer = StreamingBm25Ingest.attach(
        input.toDF().toDF("doc_id", "text"), path)
        .option("checkpointLocation", ckpt)
      def drain(batch: Seq[(Long, String)]): Unit = {
        input.addData(batch)
        val q = writer.trigger(
          org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination(120000) finally q.stop()
      }
      drain(rows.filter(_._1 <= split))
      drain(rows.filter(_._1 > split))
      val q = s.createDataFrame(ExtensionQueries.RetrievalQueryTerms)
        .toDF("query_id", "term")
      graft.ext.Retrieval.bm25TopKFromIndex(s, path, q, k = ExtensionQueries.Bm25K)
        .orderBy("query_id", "rank")
    }),

    // streaming near-dup CLUSTER maintenance (StreamingClusterIngest):
    // two micro-batches folded into stored labels via the incremental
    // pair delta + quotient-graph merge — the grown label state must
    // equal the FULL x20 rebuild over everything ingested, so the
    // oracle IS x20's recursive walk
    "x100_stream_cluster_ingest" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq
      val split = splitPoint(rows.map(_._1))
      val path = java.nio.file.Files.createTempDirectory("graft_x100_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x100_ck_").toString
      val input = MemoryStream[(Long, String)]
      val writer = StreamingClusterIngest.attach(
        input.toDF().toDF("doc_id", "text"), path,
        threshold = ExtensionQueries.NearDupJaccardThreshold)
        .option("checkpointLocation", ckpt)
      def drain(batch: Seq[(Long, String)]): Unit = {
        input.addData(batch)
        val q = writer.trigger(
          org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination(120000) finally q.stop()
      }
      drain(rows.filter(_._1 <= split))
      drain(rows.filter(_._1 > split))
      s.read.parquet(s"$path/labels")
        .select(col("id").as("doc_id"),
          col("component").cast("long").as("cluster_id"),
          (col("id") === col("component")).as("is_keeper"))
        .orderBy("doc_id")
    }),

    // streaming winnow-fingerprint near-dup ingest
    // (StreamingWinnowIngest): two micro-batches folded into the stored
    // (sh, prints) winnow state via the incremental probe — per-batch
    // overwrite dirs all the way down (no replay sentinel needed; every
    // table is append-only by batch) — and the accumulated verified
    // pair set must equal the FULL x129 winnow rebuild over everything
    // ingested, so the oracle IS x129's chain
    "x135_stream_winnow_ingest" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq
      val split = splitPoint(rows.map(_._1))
      val path = java.nio.file.Files.createTempDirectory("graft_x135_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x135_ck_").toString
      val input = MemoryStream[(Long, String)]
      val writer = StreamingWinnowIngest.attach(
        input.toDF().toDF("doc_id", "text"), path,
        threshold = ExtensionQueries.NearDupJaccardThreshold,
        w = ExtensionQueries.WinnowW)
        .option("checkpointLocation", ckpt)
      def drain(batch: Seq[(Long, String)]): Unit = {
        input.addData(batch)
        val q = writer.trigger(
          org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination(120000) finally q.stop()
      }
      drain(rows.filter(_._1 <= split))
      drain(rows.filter(_._1 > split))
      StreamingWinnowIngest.pairs(s, path)
        .select(col("id_a"), col("id_b"),
          col("inter").cast("long").as("inter"),
          col("uni").cast("long").as("uni"), col("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // streaming priority-sample maintenance (StreamingPrioritySample):
    // per-group top-(k+1) prioritized rows are a SUFFICIENT STATISTIC,
    // so two streamed batches folded into state must reproduce batch
    // x95 over the full corpus exactly — the oracle IS x95's
    // streaming NB model serving (StreamingNbScore.withScores): the
    // seed-trained x117 model frozen into literal columns, every
    // arriving doc scored map-side (no shuffle, no state) — the drained
    // sink must equal batch x118 over the whole corpus bit-for-bit
    "x124_stream_nb_score" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val d = Tables.documents(s, dir)
      val model = StreamingNbScore.collectModel(
        TextAnalysis.nbQualityTrain(
          d.filter(pmod(col("doc_id"), lit(3)) === 0),
          isPositive = col("lang") === "en",
          buckets = ExtensionQueries.NbBuckets),
        ExtensionQueries.NbBuckets)
      val rows = d.select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq
      val split = splitPoint(rows.map(_._1))
      val input = MemoryStream[(Long, String)]
      twoBatchDrain(s, input,
        rows.filter(_._1 <= split), rows.filter(_._1 > split),
        (df: DataFrame) => StreamingNbScore
          .withScores(df.toDF("doc_id", "text"), model).writeStream,
        (ms: MemoryStream[(Long, String)]) => ms.toDF())
        .select(col("doc_id"), col("n_feats"), col("score_r"), col("pred"))
        .orderBy("doc_id")
    }),

    // streaming k-class langid serving (StreamingLangIdScore): the
    // seed-trained x131 model frozen into literal columns, every
    // arriving doc classified map-side (K decimal folds + argmax CASE,
    // no shuffle/state) — the drained sink must equal batch x133 over
    // the whole corpus bit-for-bit
    "x139_stream_langid" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val d = Tables.documents(s, dir)
      val model = StreamingLangIdScore.collectModel(
        TextAnalysis.langIdTrain(
          d.filter(pmod(col("doc_id"), lit(3)) === 0),
          buckets = ExtensionQueries.NbBuckets),
        ExtensionQueries.NbBuckets)
      val rows = d.select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq
      val split = splitPoint(rows.map(_._1))
      val input = MemoryStream[(Long, String)]
      twoBatchDrain(s, input,
        rows.filter(_._1 <= split), rows.filter(_._1 > split),
        (df: DataFrame) => StreamingLangIdScore
          .withVerdicts(df.toDF("doc_id", "text"), model).writeStream,
        (ms: MemoryStream[(Long, String)]) => ms.toDF())
        .select(col("doc_id"), col("lang_pred"), col("n_feats"), col("score_r"))
        .orderBy("doc_id")
    }),

    "x107_stream_priority_sample" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(org.apache.spark.sql.functions.split(
            trim(col("text")), "\\s+")).cast("long").as("w"))
        .as[(Long, String, Long)].collect().toSeq
      val splitId = splitPoint(rows.map(_._1))
      val path = java.nio.file.Files.createTempDirectory("graft_x107_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x107_ck_").toString
      val input = MemoryStream[(Long, String, Long)]
      val writer = StreamingPrioritySample.attach(
        input.toDF().toDF("doc_id", "source", "w"), path,
        k = ExtensionQueries.PrioSampleK)
        .option("checkpointLocation", ckpt)
      def drain(batch: Seq[(Long, String, Long)]): Unit = {
        input.addData(batch)
        val q = writer.trigger(
          org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination(120000) finally q.stop()
      }
      drain(rows.filter(_._1 <= splitId))
      drain(rows.filter(_._1 > splitId))
      StreamingPrioritySample.result(s, path, k = ExtensionQueries.PrioSampleK)
        .orderBy("doc_id")
    }),

    // streaming per-source token-quota admission
    // (StreamingBudgetAdmission): docs admitted while their source's
    // inclusive running token total fits the quota — the x58 head
    // semantics per source; the drained verdicts must equal one batch
    // window pass over the whole corpus in arrival (= doc_id) order
    "x142_stream_budget_admission" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(org.apache.spark.sql.functions.split(
            trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
        .as[(Long, String, Long)].collect().toSeq
      val splitId = splitPoint(rows.map(_._1))
      val path = java.nio.file.Files.createTempDirectory("graft_x142_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x142_ck_").toString
      val input = MemoryStream[(Long, String, Long)]
      val writer = StreamingBudgetAdmission.attach(
        input.toDF().toDF("doc_id", "source", "n_tokens"), path,
        quota = ExtensionQueries.SrcQuotaTokens)
        .option("checkpointLocation", ckpt)
      def drain(batch: Seq[(Long, String, Long)]): Unit = {
        input.addData(batch)
        val q = writer.trigger(
          org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination(120000) finally q.stop()
      }
      drain(rows.filter(_._1 <= splitId))
      drain(rows.filter(_._1 > splitId))
      StreamingBudgetAdmission.verdicts(s, path)
        .select(col("id").as("doc_id"), col("group").as("source"),
          col("tokens").as("n_tokens"), col("src_cum"), col("admitted"))
        .orderBy("doc_id")
    }),

    // streaming evictive quality head (StreamingQualityHead): maintain
    // ONLINE the "best QualityHeadBudget tokens so far" — x143's tier
    // arithmetic folded per micro-batch, late high-quality arrivals
    // evicting the tail; the per-doc lifecycle sheet (arrival verdict /
    // eviction batch / final membership) replays as one per-prefix tier
    // pass in DuckDB over the doc_id%4 arrival split
    "x150_stream_quality_head" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = Tables.documents(s, dir)
        .select(col("doc_id"),
          round(TextAnalysis.qualityScore(col("text")) * 1000000, 0)
            .cast("long").as("score_k"),
          size(org.apache.spark.sql.functions.split(
            trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
        .as[(Long, Long, Long)].collect().toSeq
      // every doc_id%4 residue class must be non-empty: an empty class
      // would skip a micro-batch and desync MemoryStream batchIds from
      // the oracle's arrival_batch = doc_id%4 mapping — fail loudly on a
      // fixture change instead of producing a misaligned ledger
      val residues = rows.map(_._1 % 4).toSet
      require((0L until 4L).forall(residues.contains),
        s"x150 harness needs all doc_id%4 residue classes non-empty; " +
          s"missing ${(0L until 4L).filterNot(residues.contains).mkString(",")}")
      val path = java.nio.file.Files.createTempDirectory("graft_x150_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x150_ck_").toString
      val input = MemoryStream[(Long, Long, Long)]
      val q = StreamingQualityHead.attach(
        input.toDF().toDF("doc_id", "score_k", "n_tokens"), path,
        budgetOf = _ => ExtensionQueries.QualityHeadBudget)
        .option("checkpointLocation", ckpt)
        .start()
      // ONE running query, four drained micro-batches (batchIds 0-3) —
      // the arrival split is doc_id%4, replayed verbatim by the oracle
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      StreamingQualityHead.ledger(s, path)
        .select(col("id").as("doc_id"), col("arrival_batch"),
          col("score").as("score_k"), col("tokens").as("n_tokens"),
          col("admit"), col("evict_batch"), col("admitted"))
        .orderBy("doc_id")
    }),

    // streaming PER-SOURCE evictive quality head — the last cell of the
    // budget quadrant: x150's online "best B tokens so far" keyed by
    // source, with each source's fixed budget coming from x145's
    // waterfill allocation of one global budget (a mixture plan decides
    // budgets in batch, then the stream curates against them); the
    // lifecycle sheet replays as the x150 per-prefix tier pass
    // PARTITIONed by source with the waterfill chain supplying budgets
    "x151_stream_group_quality_head" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val d = Tables.documents(s, dir)
      val availDf = d.groupBy(col("source"))
        .agg(sum(ExtensionQueries.wsTokenCount(col("text"))).as("avail_tokens"))
      val budgets: Map[String, Long] = graft.ext.Mixture
        .waterfillBudgets(availDf, ExtensionQueries.StreamGroupHeadBudget)
        .select(col("source"), col("alloc").cast("long"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val rows = d
        .select(col("doc_id"), col("source"),
          round(TextAnalysis.qualityScore(col("text")) * 1000000, 0)
            .cast("long").as("score_k"),
          ExtensionQueries.wsTokenCount(col("text")).as("n_tokens"))
        .as[(Long, String, Long, Long)].collect().toSeq
      // arrival split (doc_id/4)%4 — NOT x150's doc_id%4: fixture
      // sources are doc_id-residue classes themselves (source =
      // doc_id%20, and 4 | 20), so a %4 split would deliver each source
      // wholly in one batch and the per-source evictive path would
      // never fire; /4 first makes every source span all four batches.
      // Same guard as x150: an empty class would desync MemoryStream
      // batchIds from the oracle's arrival mapping
      val residues = rows.map(r => (r._1 / 4) % 4).toSet
      require((0L until 4L).forall(residues.contains),
        s"x151 harness needs all (doc_id/4)%4 classes non-empty; " +
          s"missing ${(0L until 4L).filterNot(residues.contains).mkString(",")}")
      val path = java.nio.file.Files.createTempDirectory("graft_x151_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x151_ck_").toString
      val input = MemoryStream[(Long, String, Long, Long)]
      val q = graft.streaming.StreamingGroupQualityHead.attach(
        input.toDF().toDF("doc_id", "source", "score_k", "n_tokens"),
        path, budgetsOf = _ => budgets)
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(r => (r._1 / 4) % 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingGroupQualityHead.ledger(s, path)
        .select(col("id").as("doc_id"), col("grp").as("source"),
          col("arrival_batch"), col("score").as("score_k"),
          col("tokens").as("n_tokens"),
          col("admit"), col("evict_batch"), col("admitted"))
        .orderBy("doc_id")
    }),

    // DYNAMIC per-source budgets: x151 with the GLOBAL budget raised
    // mid-stream (6000 → 13000 at fold 2) and the waterfill re-run —
    // every source's budget refreshes at once; each raised source
    // resurrects its own best dropped docs from the arrivals ledger.
    // The lifecycle sheet counts per-doc transitions per source
    "x160_stream_group_dynamic_budgets" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val d = Tables.documents(s, dir)
      val availDf = d.groupBy(col("source"))
        .agg(sum(ExtensionQueries.wsTokenCount(col("text"))).as("avail_tokens"))
        .persist()
      def wf(budget: Long): Map[String, Long] = graft.ext.Mixture
        .waterfillBudgets(availDf, budget)
        .select(col("source"), col("alloc").cast("long"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val budgetsLow = wf(ExtensionQueries.StreamGroupHeadBudget)
      val budgetsHigh = wf(ExtensionQueries.DynGroupRaisedBudget)
      availDf.unpersist(blocking = false)
      val rows = d
        .select(col("doc_id"), col("source"),
          round(TextAnalysis.qualityScore(col("text")) * 1000000, 0)
            .cast("long").as("score_k"),
          ExtensionQueries.wsTokenCount(col("text")).as("n_tokens"))
        .as[(Long, String, Long, Long)].collect().toSeq
      // same decorrelated arrival split as x151 ((doc_id/4)%4: fixture
      // sources are doc_id residue classes, so %4 would deliver each
      // source wholly in one batch)
      val residues = rows.map(r => (r._1 / 4) % 4).toSet
      require((0L until 4L).forall(residues.contains),
        s"x160 harness needs all (doc_id/4)%4 classes non-empty; " +
          s"missing ${(0L until 4L).filterNot(residues.contains).mkString(",")}")
      val path = java.nio.file.Files.createTempDirectory("graft_x160_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x160_ck_").toString
      val input = MemoryStream[(Long, String, Long, Long)]
      val q = graft.streaming.StreamingGroupQualityHead.attach(
        input.toDF().toDF("doc_id", "source", "score_k", "n_tokens"),
        path, budgetsOf = b => if (b < 2L) budgetsLow else budgetsHigh)
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(r => (r._1 / 4) % 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingGroupQualityHead.lifecycle(s, path)
        .select(col("id").as("doc_id"), col("grp").as("source"),
          col("arrival_batch"), col("score").as("score_k"),
          col("tokens").as("n_tokens"), col("admit"),
          col("n_evictions"), col("n_readmissions"), col("admitted"))
        .orderBy("doc_id")
    }),

    // MID-STREAM GROUP ADDITION (x169): x160's dynamic harness with the
    // lexicographic-min source EXCLUDED from the curation plan for
    // folds 0-1 (its arrivals drop without a ledger row — explicit
    // budgets are the contract) and ADDED at fold 2, when the global
    // budget is retargeted and the waterfill re-runs over ALL sources.
    // The added source starts FRESH from its first curated fold (no
    // retroactive resurrection — nothing was ever ledgered to
    // resurrect); every pre-existing source rides the ordinary
    // raise/shrink dynamics of its refreshed allocation
    "x169_stream_group_added" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val d = Tables.documents(s, dir)
      val availDf = d.groupBy(col("source"))
        .agg(sum(ExtensionQueries.wsTokenCount(col("text"))).as("avail_tokens"))
        .persist()
      val minSrc = availDf.agg(min(col("source"))).head().getString(0)
      def wf(avail: DataFrame, budget: Long): Map[String, Long] =
        graft.ext.Mixture.waterfillBudgets(avail, budget)
          .select(col("source"), col("alloc").cast("long"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val budgetsLow = wf(availDf.filter(col("source") =!= minSrc),
        ExtensionQueries.StreamGroupHeadBudget)
      val budgetsHigh = wf(availDf, ExtensionQueries.DynGroupRaisedBudget)
      availDf.unpersist(blocking = false)
      val rows = d
        .select(col("doc_id"), col("source"),
          round(TextAnalysis.qualityScore(col("text")) * 1000000, 0)
            .cast("long").as("score_k"),
          ExtensionQueries.wsTokenCount(col("text")).as("n_tokens"))
        .as[(Long, String, Long, Long)].collect().toSeq
      // x151/x160's decorrelated arrival split
      val residues = rows.map(r => (r._1 / 4) % 4).toSet
      require((0L until 4L).forall(residues.contains),
        s"x169 harness needs all (doc_id/4)%4 classes non-empty; " +
          s"missing ${(0L until 4L).filterNot(residues.contains).mkString(",")}")
      require(rows.exists(r => r._2 == minSrc && (r._1 / 4) % 4 < 2),
        "x169 fixture must deliver pre-addition arrivals of the added source")
      val path = java.nio.file.Files.createTempDirectory("graft_x169_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x169_ck_").toString
      val input = MemoryStream[(Long, String, Long, Long)]
      val q = graft.streaming.StreamingGroupQualityHead.attach(
        input.toDF().toDF("doc_id", "source", "score_k", "n_tokens"),
        path, budgetsOf = b => if (b < 2L) budgetsLow else budgetsHigh)
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(r => (r._1 / 4) % 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingGroupQualityHead.lifecycle(s, path)
        .select(col("id").as("doc_id"), col("grp").as("source"),
          col("arrival_batch"), col("score").as("score_k"),
          col("tokens").as("n_tokens"), col("admit"),
          col("n_evictions"), col("n_readmissions"), col("admitted"))
        .orderBy("doc_id")
    }),

    // GROUP RETIREMENT (x174): x160's harness with the lexicographic-min
    // source RETIRED at fold 2 (drain-and-freeze): from that fold its
    // arrivals drop without a ledger row — exactly like a never-curated
    // group's — while its final head stays readable forever (its meta
    // cells carry forward verbatim, its head generations stay
    // reference-pinned). Budgets are constant, so the frozen head must
    // equal the batch operator over the retired source's folds-0..1
    // arrivals, and every other source must curate straight through as
    // if nothing happened
    "x174_stream_group_retired" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val d = Tables.documents(s, dir)
      val availDf = d.groupBy(col("source"))
        .agg(sum(ExtensionQueries.wsTokenCount(col("text"))).as("avail_tokens"))
        .persist()
      val minSrc = availDf.agg(min(col("source"))).head().getString(0)
      val budgetsAll: Map[String, Long] = graft.ext.Mixture
        .waterfillBudgets(availDf, ExtensionQueries.StreamGroupHeadBudget)
        .select(col("source"), col("alloc").cast("long"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      availDf.unpersist(blocking = false)
      val rows = d
        .select(col("doc_id"), col("source"),
          round(TextAnalysis.qualityScore(col("text")) * 1000000, 0)
            .cast("long").as("score_k"),
          ExtensionQueries.wsTokenCount(col("text")).as("n_tokens"))
        .as[(Long, String, Long, Long)].collect().toSeq
      // x151/x160's decorrelated arrival split
      val residues = rows.map(r => (r._1 / 4) % 4).toSet
      require((0L until 4L).forall(residues.contains),
        s"x174 harness needs all (doc_id/4)%4 classes non-empty; " +
          s"missing ${(0L until 4L).filterNot(residues.contains).mkString(",")}")
      require(rows.exists(r => r._2 == minSrc && (r._1 / 4) % 4 < 2) &&
        rows.exists(r => r._2 == minSrc && (r._1 / 4) % 4 >= 2),
        "x174 fixture must deliver the retired source both before and " +
          "after the retirement fold")
      val path = java.nio.file.Files.createTempDirectory("graft_x174_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x174_ck_").toString
      val input = MemoryStream[(Long, String, Long, Long)]
      val q = graft.streaming.StreamingGroupQualityHead.attach(
        input.toDF().toDF("doc_id", "source", "score_k", "n_tokens"),
        path,
        budgetsOf = b => if (b < 2L) budgetsAll else budgetsAll - minSrc,
        retireOf = b => if (b < 2L) Set.empty else Set(minSrc))
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(r => (r._1 / 4) % 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingGroupQualityHead.lifecycle(s, path)
        .select(col("id").as("doc_id"), col("grp").as("source"),
          col("arrival_batch"), col("score").as("score_k"),
          col("tokens").as("n_tokens"), col("admit"),
          col("n_evictions"), col("n_readmissions"), col("admitted"))
        .orderBy("doc_id")
    }),

    // DYNAMIC-budget evictive quality head: x150 with the budget RAISED
    // mid-stream (250 → 900 at fold 2) — the raise re-admits the best
    // previously-evicted/rejected docs from the arrivals ledger (the
    // one full-history table), then steady folds resume the bounded
    // incremental path; after every fold the head still equals the
    // batch operator at THAT fold's budget. The lifecycle sheet counts
    // each doc's evictions/re-admissions across the budget epochs
    "x159_stream_dynamic_budget_head" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = Tables.documents(s, dir)
        .select(col("doc_id"),
          round(TextAnalysis.qualityScore(col("text")) * 1000000, 0)
            .cast("long").as("score_k"),
          size(org.apache.spark.sql.functions.split(
            trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
        .as[(Long, Long, Long)].collect().toSeq
      val residues = rows.map(_._1 % 4).toSet
      require((0L until 4L).forall(residues.contains),
        s"x159 harness needs all doc_id%4 residue classes non-empty; " +
          s"missing ${(0L until 4L).filterNot(residues.contains).mkString(",")}")
      val path = java.nio.file.Files.createTempDirectory("graft_x159_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x159_ck_").toString
      val input = MemoryStream[(Long, Long, Long)]
      val q = StreamingQualityHead.attach(
        input.toDF().toDF("doc_id", "score_k", "n_tokens"), path,
        budgetOf = b => if (b < 2L) ExtensionQueries.QualityHeadBudget
                        else ExtensionQueries.DynRaisedBudget)
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      StreamingQualityHead.lifecycle(s, path)
        .select(col("id").as("doc_id"), col("arrival_batch"),
          col("score").as("score_k"), col("tokens").as("n_tokens"),
          col("admit"), col("n_evictions"), col("n_readmissions"),
          col("admitted"))
        .orderBy("doc_id")
    }),

    // streaming concat-and-chunk packing (StreamingPack.Chunk): each
    // arriving doc extends its shard's token tape in arrival order and
    // the tape is cut at fixed PackSeqLen strides — x155's closed-form
    // chunk layout folded per micro-batch; the ONLY cross-batch state
    // is one (tape length, doc count) pair per shard. The accumulated
    // fragments replay as one batch window pass in arrival order
    "x157_stream_chunk_pack" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      // shard from the portable hash (NOT doc_id%k: the arrival split
      // is doc_id%4, and a residue-correlated shard would deliver each
      // tape wholly in one batch — no cross-batch continuation to test)
      val shardE = pmod(graft.functions.HashExpressions.rolling_hash(
        concat(col("doc_id").cast("string"), lit(":ps"))), lit(4L))
      val rows = Tables.documents(s, dir)
        .select(col("doc_id"), shardE.as("shard"),
          ExtensionQueries.wsTokenCount(col("text")).as("n_tokens"))
        .as[(Long, Long, Long)].collect().toSeq
      val residues = rows.map(_._1 % 4).toSet
      require((0L until 4L).forall(residues.contains),
        s"x157 harness needs all doc_id%4 residue classes non-empty; " +
          s"missing ${(0L until 4L).filterNot(residues.contains).mkString(",")}")
      val path = java.nio.file.Files.createTempDirectory("graft_x157_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x157_ck_").toString
      val input = MemoryStream[(Long, Long, Long)]
      val q = graft.streaming.StreamingPack.attach(
        input.toDF().toDF("doc_id", "shard", "n_tokens"), path,
        graft.streaming.StreamingPack.Chunk(ExtensionQueries.PackSeqLen))
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingPack.fragments(s, path)
        .select(col("id").as("doc_id"), col("shard"), col("pos"),
          col("seq"), col("frag_start"), col("frag_len"), col("doc_off"),
          col("arrival_batch"))
        .orderBy("doc_id", "seq")
    }),

    // streaming WHOLE-DOC greedy packing (StreamingPack.Greedy): docs
    // packed whole into per-shard bins in arrival order — a closed bin
    // is immutable and trainable immediately; the only cross-batch
    // state is each shard's ONE open bin. Completes the packing
    // matrix's stream faces (split-doc x157 / whole-doc here)
    "x166_stream_greedy_pack" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val shardE = pmod(graft.functions.HashExpressions.rolling_hash(
        concat(col("doc_id").cast("string"), lit(":ps"))), lit(4L))
      val rows = Tables.documents(s, dir)
        .select(col("doc_id"), shardE.as("shard"),
          ExtensionQueries.wsTokenCount(col("text")).as("n_tokens"))
        .as[(Long, Long, Long)].collect().toSeq
      val residues = rows.map(_._1 % 4).toSet
      require((0L until 4L).forall(residues.contains),
        s"x166 harness needs all doc_id%4 residue classes non-empty; " +
          s"missing ${(0L until 4L).filterNot(residues.contains).mkString(",")}")
      val path = java.nio.file.Files.createTempDirectory("graft_x166_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x166_ck_").toString
      val input = MemoryStream[(Long, Long, Long)]
      val q = graft.streaming.StreamingPack.attach(
        input.toDF().toDF("doc_id", "shard", "n_tokens"), path,
        graft.streaming.StreamingPack.Greedy(ExtensionQueries.PackSeqLen))
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingPack.assignments(s, path)
        .select(col("id").as("doc_id"), col("shard"), col("pos"),
          col("bin"), col("n_tokens"), col("arrival_batch"))
        .orderBy("doc_id")
    }),

    // per-sequence sheet over the STREAMED packing, with the
    // train-behind-the-frontier contract: every sequence except each
    // shard's LAST (still filling) is immutable the moment its fold
    // commits — `is_final` marks what a trainer may consume mid-stream
    "x161_stream_seq_sheet" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val shardE = pmod(graft.functions.HashExpressions.rolling_hash(
        concat(col("doc_id").cast("string"), lit(":ps"))), lit(4L))
      val rows = Tables.documents(s, dir)
        .select(col("doc_id"), shardE.as("shard"),
          ExtensionQueries.wsTokenCount(col("text")).as("n_tokens"))
        .as[(Long, Long, Long)].collect().toSeq
      val residues = rows.map(_._1 % 4).toSet
      require((0L until 4L).forall(residues.contains),
        s"x161 harness needs all doc_id%4 residue classes non-empty; " +
          s"missing ${(0L until 4L).filterNot(residues.contains).mkString(",")}")
      val path = java.nio.file.Files.createTempDirectory("graft_x161_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x161_ck_").toString
      val input = MemoryStream[(Long, Long, Long)]
      val q = graft.streaming.StreamingPack.attach(
        input.toDF().toDF("doc_id", "shard", "n_tokens"), path,
        graft.streaming.StreamingPack.Chunk(ExtensionQueries.PackSeqLen))
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingPack.seqSheet(s, path,
          ExtensionQueries.PackSeqLen)
        .orderBy("shard", "seq")
    }),

    // the COMPOSED stream face of the end-to-end pipeline (x158's
    // deployment shape, x167): raw document micro-batches → Bloom
    // benchmark decontamination (x54) → quality floor + per-source
    // token-quota admission (x142-class: the MONOTONE gate an immutable
    // packer requires) → concat-and-chunk packing (x157), ONE attached
    // foreachBatch pipeline behind one frontier. The accumulated
    // fragments replay as the batch composition in arrival
    // (= doc_id%4 batch, then doc_id) order.
    "x167_stream_curated_pack" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      // benchmark = every 97th doc, the x44/x54 convention
      val words = StreamingDecontaminate.bloomWords(
        docs.filter(col("doc_id") % 97 === 0), n = 13,
        bits = ExtensionQueries.BloomBits, k = ExtensionQueries.BloomK)
      val rows = docs.as[(Long, String, String)].collect().toSeq
      val residues = rows.map(_._1 % 4).toSet
      require((0L until 4L).forall(residues.contains),
        s"x167 harness needs all doc_id%4 residue classes non-empty; " +
          s"missing ${(0L until 4L).filterNot(residues.contains).mkString(",")}")
      val path = java.nio.file.Files.createTempDirectory("graft_x167_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x167_ck_").toString
      val input = MemoryStream[(Long, String, String)]
      val q = graft.streaming.StreamingCuratedPack.attach(
        input.toDF().toDF("doc_id", "source", "text"), path, words,
        minScoreK = ExtensionQueries.CuratedMinScoreK,
        quota = ExtensionQueries.CuratedQuota,
        seqLen = ExtensionQueries.PackSeqLen, numShards = 4,
        bloomBits = ExtensionQueries.BloomBits,
        bloomK = ExtensionQueries.BloomK)
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingCuratedPack.fragments(s, path)
        .select(col("id").as("doc_id"), col("shard"), col("pos"),
          col("seq"), col("frag_start"), col("frag_len"), col("doc_off"),
          col("arrival_batch"))
        .orderBy("doc_id", "seq")
    }),

    // the composed pipeline's cumulative per-source FUNNEL (x168): how
    // many docs each curation stage dropped and the admitted token
    // yield — the observability sheet a data owner reads against the
    // x167 fragments (same composed run, same constants)
    "x168_stream_curation_funnel" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val words = StreamingDecontaminate.bloomWords(
        docs.filter(col("doc_id") % 97 === 0), n = 13,
        bits = ExtensionQueries.BloomBits, k = ExtensionQueries.BloomK)
      val rows = docs.as[(Long, String, String)].collect().toSeq
      val path = java.nio.file.Files.createTempDirectory("graft_x168_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x168_ck_").toString
      val input = MemoryStream[(Long, String, String)]
      val q = graft.streaming.StreamingCuratedPack.attach(
        input.toDF().toDF("doc_id", "source", "text"), path, words,
        minScoreK = ExtensionQueries.CuratedMinScoreK,
        quota = ExtensionQueries.CuratedQuota,
        seqLen = ExtensionQueries.PackSeqLen, numShards = 4,
        bloomBits = ExtensionQueries.BloomBits,
        bloomK = ExtensionQueries.BloomK)
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingCuratedPack.funnel(s, path)
        .orderBy("source")
    }),

    // the WHOLE-DOC face of the composed pipeline (x170): x167's chain
    // with the greedy padded-loader packer instead of the concat-chunk
    // tape — completes the composed matrix (standalone split x157 /
    // whole x166 → composed split x167 / composed whole here)
    "x170_stream_curated_greedy" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val words = StreamingDecontaminate.bloomWords(
        docs.filter(col("doc_id") % 97 === 0), n = 13,
        bits = ExtensionQueries.BloomBits, k = ExtensionQueries.BloomK)
      val rows = docs.as[(Long, String, String)].collect().toSeq
      val path = java.nio.file.Files.createTempDirectory("graft_x170_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x170_ck_").toString
      val input = MemoryStream[(Long, String, String)]
      val q = graft.streaming.StreamingCuratedPack.attach(
        input.toDF().toDF("doc_id", "source", "text"), path, words,
        minScoreK = ExtensionQueries.CuratedMinScoreK,
        quota = ExtensionQueries.CuratedQuota,
        seqLen = ExtensionQueries.PackSeqLen, numShards = 4,
        bloomBits = ExtensionQueries.BloomBits,
        bloomK = ExtensionQueries.BloomK,
        wholeDoc = true)
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingCuratedPack.assignments(s, path)
        .select(col("id").as("doc_id"), col("shard"), col("pos"),
          col("bin"), col("n_tokens"), col("arrival_batch"))
        .orderBy("doc_id")
    }),

    // the composed pipeline WITH the exact-dedup stage (x171): x167's
    // chain plus first-arrival-wins content fingerprinting between the
    // quality floor and the quota — duplicate content must never charge
    // a quota or enter a tape twice. The fixture has no cross-id
    // duplicate text, so the harness synthesizes it: every doc with
    // doc_id % 10 == 3 re-arrives under id+100000001 (same source and
    // text), landing at batch residue (id+1) % 4 — those ids are ODD,
    // so the copies split across both directions: a residue-1
    // original's copy arrives in batch 2 (after it — the copy drops)
    // and a residue-3 original's copy arrives in batch 0 (BEFORE it —
    // the copy WINS and the original drops: first arrival, not
    // smallest id). An even-id rule like %10==0 would make the
    // copy-first direction unreachable ((even+1) % 4 is never 0 when
    // the original sits at residue 3). This is the last x158 batch stage that CAN compose
    // (monotone); the near-dup CC keeper cannot (cluster merges revoke
    // verdicts an immutable tape already consumed — documented in the
    // operator).
    "x171_stream_curated_dedup" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val words = StreamingDecontaminate.bloomWords(
        docs.filter(col("doc_id") % 97 === 0), n = 13,
        bits = ExtensionQueries.BloomBits, k = ExtensionQueries.BloomK)
      val base = docs.as[(Long, String, String)].collect().toSeq
      val rows = base ++ base.collect {
        case (i, src, txt) if i % 10 == 3 => (i + 100000001L, src, txt)
      }
      val path = java.nio.file.Files.createTempDirectory("graft_x171_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x171_ck_").toString
      val input = MemoryStream[(Long, String, String)]
      val q = graft.streaming.StreamingCuratedPack.attach(
        input.toDF().toDF("doc_id", "source", "text"), path, words,
        minScoreK = ExtensionQueries.CuratedMinScoreK,
        quota = ExtensionQueries.CuratedQuota,
        seqLen = ExtensionQueries.PackSeqLen, numShards = 4,
        bloomBits = ExtensionQueries.BloomBits,
        bloomK = ExtensionQueries.BloomK,
        dedupExact = true)
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingCuratedPack.fragments(s, path)
        .select(col("id").as("doc_id"), col("shard"), col("pos"),
          col("seq"), col("frag_start"), col("frag_len"), col("doc_off"),
          col("arrival_batch"))
        .orderBy("doc_id", "seq")
    }),

    // the composed pipeline WITH the monotone near-dup BAND gate (x172):
    // x167's chain plus first-arrival-wins MinHash-band dedup between
    // the quality floor and the quota — a doc is kept iff every one of
    // its LSH band buckets is fresh (no collision with an already-KEPT
    // doc's ledgered bands; min id per bucket within its own batch).
    // This is the monotone near-dup stage the CC keeper can never be
    // (cluster merges revoke consumed verdicts — the exclusion argument
    // in the operator's doc); only kept docs' bands are ledgered, so
    // verdicts never revoke. Fixture: every doc_id%10==7 doc re-arrives
    // VERBATIM under id+200000001 (all 16 bands collide — the limit case
    // of a near-dup), landing at residue (id+1)%4, so the copies split
    // across BOTH precedence directions (a residue-1 original's copy
    // arrives in batch 2, AFTER it — the copy drops; a residue-3
    // original's copy arrives in batch 0, BEFORE it — the copy WINS);
    // the corpus's natural band collisions (the x07 candidate pairs)
    // exercise the partial-collision and within-batch min-id paths.
    "x172_stream_curated_neardup" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val words = StreamingDecontaminate.bloomWords(
        docs.filter(col("doc_id") % 97 === 0), n = 13,
        bits = ExtensionQueries.BloomBits, k = ExtensionQueries.BloomK)
      val base = docs.as[(Long, String, String)].collect().toSeq
      val rows = base ++ base.collect {
        case (i, src, txt) if i % 10 == 7 => (i + 200000001L, src, txt)
      }
      val path = java.nio.file.Files.createTempDirectory("graft_x172_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x172_ck_").toString
      val input = MemoryStream[(Long, String, String)]
      val q = graft.streaming.StreamingCuratedPack.attach(
        input.toDF().toDF("doc_id", "source", "text"), path, words,
        minScoreK = ExtensionQueries.CuratedMinScoreK,
        quota = ExtensionQueries.CuratedQuota,
        seqLen = ExtensionQueries.PackSeqLen, numShards = 4,
        bloomBits = ExtensionQueries.BloomBits,
        bloomK = ExtensionQueries.BloomK,
        dedupNear = true)
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingCuratedPack.fragments(s, path)
        .select(col("id").as("doc_id"), col("shard"), col("pos"),
          col("seq"), col("frag_start"), col("frag_len"), col("doc_off"),
          col("arrival_batch"))
        .orderBy("doc_id", "seq")
    }),

    // the composed pipeline's funnel with BOTH dedup stages on (x175):
    // the x171 duplicated fixture (every id%10==3 doc re-arrives
    // verbatim under id+100000001) through bloom → quality → exact-fp
    // dedup → near-dup band gate → quota, read through the cumulative
    // per-source funnel — the row that exercises the SPLIT drop
    // columns: n_dup_content (the fp stage's drops — the copies) and
    // n_neardup (the band gate's drops — the corpus's natural
    // collisions among fp survivors) are separate outcomes, no longer
    // conflated into the n_rearrived residual (which stays identically
    // 0 here: no doc id is ever re-delivered).
    "x175_stream_dedup_funnel" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val words = StreamingDecontaminate.bloomWords(
        docs.filter(col("doc_id") % 97 === 0), n = 13,
        bits = ExtensionQueries.BloomBits, k = ExtensionQueries.BloomK)
      val base = docs.as[(Long, String, String)].collect().toSeq
      val rows = base ++ base.collect {
        case (i, src, txt) if i % 10 == 3 => (i + 100000001L, src, txt)
      }
      val path = java.nio.file.Files.createTempDirectory("graft_x175_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x175_ck_").toString
      val input = MemoryStream[(Long, String, String)]
      val q = graft.streaming.StreamingCuratedPack.attach(
        input.toDF().toDF("doc_id", "source", "text"), path, words,
        minScoreK = ExtensionQueries.CuratedMinScoreK,
        quota = ExtensionQueries.CuratedQuota,
        seqLen = ExtensionQueries.PackSeqLen, numShards = 4,
        bloomBits = ExtensionQueries.BloomBits,
        bloomK = ExtensionQueries.BloomK,
        dedupExact = true, dedupNear = true)
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingCuratedPack.funnel(s, path)
        .orderBy("source")
    }),

    // QUOTA RETARGET via epoch'd tapes (x173): the composed pipeline
    // under a quota SCHEDULE — folds 0-1 admit under the base quota
    // (epoch 0), a raise lands at fold 2, and epoch 1 opens with FRESH
    // per-source accounting and its own immutable pack tape (positions
    // and sequences restart; epoch 0's fragments never change — the
    // per-epoch monotone-tape contract in the operator's doc). Fixture:
    // every doc_id%10==6 doc is RE-DELIVERED under the SAME id two
    // residues away, so re-deliveries cross the epoch boundary in BOTH
    // directions (residue-0/1 originals re-arrive in epoch 1 — the
    // cross-epoch guard drops them; residue-2/3 docs' re-deliveries
    // arrive FIRST in epoch 0 — the doc is accounted there and its
    // "original" epoch-1 arrival is the re-arrival). A doc verdicted by
    // ANY earlier epoch is never re-charged or re-packed.
    "x173_stream_quota_retarget" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val words = StreamingDecontaminate.bloomWords(
        docs.filter(col("doc_id") % 97 === 0), n = 13,
        bits = ExtensionQueries.BloomBits, k = ExtensionQueries.BloomK)
      val base = docs.as[(Long, String, String)].collect().toSeq
      val deliveries: Seq[(Long, (Long, String, String))] =
        base.map(r => (r._1 % 4, r)) ++
          base.collect { case r if r._1 % 10 == 6 =>
            ((r._1 % 4 + 2) % 4, r)
          }
      val path = java.nio.file.Files.createTempDirectory("graft_x173_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x173_ck_").toString
      val input = MemoryStream[(Long, String, String)]
      val q = graft.streaming.StreamingCuratedPack.attach(
        input.toDF().toDF("doc_id", "source", "text"), path, words,
        minScoreK = ExtensionQueries.CuratedMinScoreK,
        quota = graft.streaming.QuotaSchedule.retargets(
          (0L, ExtensionQueries.CuratedQuota),
          (2L, ExtensionQueries.CuratedRaisedQuota)),
        seqLen = ExtensionQueries.PackSeqLen, numShards = 4,
        bloomBits = ExtensionQueries.BloomBits,
        bloomK = ExtensionQueries.BloomK)
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(deliveries.filter(_._1 == b).map(_._2))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingCuratedPack.fragmentsEpoched(s, path)
        .select(col("epoch"), col("id").as("doc_id"), col("shard"),
          col("pos"), col("seq"), col("frag_start"), col("frag_len"),
          col("doc_off"), col("arrival_batch"))
        .orderBy("epoch", "doc_id", "seq")
    }),

    // the composed pipeline with the monotone SEMANTIC near-dup gate
    // (x176): x167's chain plus first-arrival-wins embedding dedup
    // between the quality floor and the quota — a doc drops iff an
    // already-KEPT doc within Hamming ≤ 1 of its SRP signature verifies
    // at exact cosine ≥ threshold (the x12 bucketing + the x10 verify,
    // composed as a monotone stream gate; the SemDeDup-style CC keeper
    // cannot compose — cluster merges revoke consumed verdicts — but
    // this gate never revokes: only kept docs' vectors enter the
    // ledger). Fixture: docs stream WITH their embeddings (documents ⋈
    // embeddings on id); every doc_id%10==7 doc re-arrives with the
    // SAME embedding under id+300000001 (identical vector → identical
    // signature, Hamming 0 — the forced-collision limit case), landing
    // at residue (id+1)%4 so the copies split across BOTH precedence
    // directions; the corpus's natural cosine-≥-τ pairs exercise the
    // partial (Hamming-1, sub-identical cosine) and within-batch
    // min-id paths.
    "x176_stream_curated_semdedup" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("source"), col("text"), col("embedding"))
      val words = StreamingDecontaminate.bloomWords(
        Tables.documents(s, dir).filter(col("doc_id") % 97 === 0), n = 13,
        bits = ExtensionQueries.BloomBits, k = ExtensionQueries.BloomK)
      val base = docs.as[(Long, String, String, Array[Float])].collect().toSeq
      val rows = base ++ base.collect {
        case (i, src, txt, v) if i % 10 == 7 => (i + 300000001L, src, txt, v)
      }
      val path = java.nio.file.Files.createTempDirectory("graft_x176_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x176_ck_").toString
      val input = MemoryStream[(Long, String, String, Array[Float])]
      val q = graft.streaming.StreamingCuratedPack.attach(
        input.toDF().toDF("doc_id", "source", "text", "embedding"), path,
        words,
        minScoreK = ExtensionQueries.CuratedMinScoreK,
        quota = ExtensionQueries.CuratedQuota,
        seqLen = ExtensionQueries.PackSeqLen, numShards = 4,
        bloomBits = ExtensionQueries.BloomBits,
        bloomK = ExtensionQueries.BloomK,
        dedupSem = true,
        semThreshold = ExtensionQueries.CosineThreshold,
        semPlanes = ExtensionQueries.CosinePlanes,
        semMaxBucket = ExtensionQueries.CosineMaxBucket)
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingCuratedPack.fragments(s, path)
        .select(col("id").as("doc_id"), col("shard"), col("pos"),
          col("seq"), col("frag_start"), col("frag_len"), col("doc_off"),
          col("arrival_batch"))
        .orderBy("doc_id", "seq")
    }),

    // the composed pipeline's funnel with the COMPLETE dedup stack on
    // (x177): bloom → quality floor → exact-fp dedup → MinHash band
    // gate → embedding-cosine semantic gate → quota, read through the
    // cumulative per-source funnel — all three "already represented"
    // columns exercised in one run: n_dup_content (the verbatim copies
    // drop at the fp stage before their bands or vectors are ever
    // consulted), n_neardup (natural band collisions among fp
    // survivors), n_semdup (natural cosine-≥-τ pairs among band
    // survivors — the paraphrase-layer duplication the lexical gates
    // can't see). Fixture: every doc_id%10==3 doc re-arrives verbatim
    // (same text AND embedding) under id+400000001, both precedence
    // directions.
    "x177_stream_dedup_stack_funnel" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("source"), col("text"), col("embedding"))
      val words = StreamingDecontaminate.bloomWords(
        Tables.documents(s, dir).filter(col("doc_id") % 97 === 0), n = 13,
        bits = ExtensionQueries.BloomBits, k = ExtensionQueries.BloomK)
      val base = docs.as[(Long, String, String, Array[Float])].collect().toSeq
      val rows = base ++ base.collect {
        case (i, src, txt, v) if i % 10 == 3 => (i + 400000001L, src, txt, v)
      }
      val path = java.nio.file.Files.createTempDirectory("graft_x177_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x177_ck_").toString
      val input = MemoryStream[(Long, String, String, Array[Float])]
      val q = graft.streaming.StreamingCuratedPack.attach(
        input.toDF().toDF("doc_id", "source", "text", "embedding"), path,
        words,
        minScoreK = ExtensionQueries.CuratedMinScoreK,
        quota = ExtensionQueries.CuratedQuota,
        seqLen = ExtensionQueries.PackSeqLen, numShards = 4,
        bloomBits = ExtensionQueries.BloomBits,
        bloomK = ExtensionQueries.BloomK,
        dedupExact = true, dedupNear = true, dedupSem = true,
        semThreshold = ExtensionQueries.CosineThreshold,
        semPlanes = ExtensionQueries.CosinePlanes,
        semMaxBucket = ExtensionQueries.CosineMaxBucket)
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingCuratedPack.funnel(s, path)
        .orderBy("source")
    }),

    // scheduled source RETIREMENT in the composed pipeline (x178):
    // drain-and-freeze — src5 and src11 retire at fold 2, so their
    // folds 0-1 arrivals admit and pack normally (that tape prefix is
    // frozen forever, the trainer keeps reading it) while their folds
    // 2-3 arrivals drop pre-verdict and book as n_retired. The
    // schedule is explicit per source and a pure function of batchId
    // (replay-deterministic); absence from the schedule means live —
    // an accidental omission cannot silently freeze a source (the
    // x174 fail-loud rationale, composed-face form). Batch split is
    // (doc_id % 16) / 4, NOT doc_id % 4: the fixture's sources are
    // residue-locked (source ≡ doc_id mod 20, and gcd(20, 4) = 4 pins
    // every source to ONE doc_id%4 residue), so a mod-4 split would
    // land each retired source entirely before or entirely after the
    // retirement fold; the mod-16 quartile split spreads every source
    // across all four folds and the drain actually happens mid-stream.
    "x178_stream_curated_retirement" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val words = StreamingDecontaminate.bloomWords(
        docs.filter(col("doc_id") % 97 === 0), n = 13,
        bits = ExtensionQueries.BloomBits, k = ExtensionQueries.BloomK)
      val rows = docs.as[(Long, String, String)].collect().toSeq
      val path = java.nio.file.Files.createTempDirectory("graft_x178_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x178_ck_").toString
      val input = MemoryStream[(Long, String, String)]
      val q = graft.streaming.StreamingCuratedPack.attach(
        input.toDF().toDF("doc_id", "source", "text"), path, words,
        minScoreK = ExtensionQueries.CuratedMinScoreK,
        quota = ExtensionQueries.CuratedQuota,
        seqLen = ExtensionQueries.PackSeqLen, numShards = 4,
        bloomBits = ExtensionQueries.BloomBits,
        bloomK = ExtensionQueries.BloomK,
        retireSchedule = Map("src5" -> 2L, "src11" -> 2L))
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(r => r._1 % 16 / 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingCuratedPack.funnel(s, path)
        .orderBy("source")
    }),

    // exact dedup ACROSS a quota retarget (x179): the class doc's
    // epoch-independence claim under oracle — the fp ledger is shared
    // across pack epochs, so duplicate content stays duplicate through
    // a retarget while the admission accounting restarts. Fixture:
    // x173's schedule (raise at fold 2) with every doc_id%10==3 doc
    // re-arriving VERBATIM under id+500000001 at residue (id+1)%4, so
    // copies cross the epoch boundary in BOTH directions: a residue-1
    // original (epoch 0) has its copy arrive at residue 2 (epoch 1) —
    // the copy is fp-dropped by a ledger row written in the EARLIER
    // epoch; a residue-3 original (epoch 1) has its copy arrive at
    // residue 0 (epoch 0) — the copy wins the fingerprint in epoch 0
    // and the original is dropped in epoch 1. Per-epoch tapes pack the
    // fp survivors under their epoch's quota.
    "x179_stream_retarget_dedup" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val words = StreamingDecontaminate.bloomWords(
        docs.filter(col("doc_id") % 97 === 0), n = 13,
        bits = ExtensionQueries.BloomBits, k = ExtensionQueries.BloomK)
      val base = docs.as[(Long, String, String)].collect().toSeq
      val rows = base ++ base.collect {
        case (i, src, txt) if i % 10 == 3 => (i + 500000001L, src, txt)
      }
      val path = java.nio.file.Files.createTempDirectory("graft_x179_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x179_ck_").toString
      val input = MemoryStream[(Long, String, String)]
      val q = graft.streaming.StreamingCuratedPack.attach(
        input.toDF().toDF("doc_id", "source", "text"), path, words,
        minScoreK = ExtensionQueries.CuratedMinScoreK,
        quota = graft.streaming.QuotaSchedule.retargets(
          (0L, ExtensionQueries.CuratedQuota),
          (2L, ExtensionQueries.CuratedRaisedQuota)),
        seqLen = ExtensionQueries.PackSeqLen, numShards = 4,
        bloomBits = ExtensionQueries.BloomBits,
        bloomK = ExtensionQueries.BloomK,
        dedupExact = true)
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(_._1 % 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingCuratedPack.fragmentsEpoched(s, path)
        .select(col("epoch"), col("id").as("doc_id"), col("shard"),
          col("pos"), col("seq"), col("frag_start"), col("frag_len"),
          col("doc_off"), col("arrival_batch"))
        .orderBy("epoch", "doc_id", "seq")
    }),

    // PER-SOURCE budget schedules in the composed pipeline (x180): the
    // schedule pins src1/src4 to their OWN quotas while every other
    // source admits against the epoch default, and the fold-2 retarget
    // re-pins both against a raised default — the group head's
    // per-group budget semantics (x160) on the composed admission,
    // riding the x173 epoch'd-tape contract unchanged. Batch split is
    // (doc_id % 16) / 4 (the x178 rationale: sources are residue-locked
    // mod 4, so a mod-4 split would land each source entirely in one
    // epoch; the quartile split spreads every source across all four
    // folds and the per-source retarget actually bites mid-source).
    // Read through the cumulative funnel: per-source n_admitted /
    // n_quota_rejected / tokens_admitted are exactly where different
    // budgets must show.
    "x180_stream_per_source_budgets" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val words = StreamingDecontaminate.bloomWords(
        docs.filter(col("doc_id") % 97 === 0), n = 13,
        bits = ExtensionQueries.BloomBits, k = ExtensionQueries.BloomK)
      val rows = docs.as[(Long, String, String)].collect().toSeq
      val path = java.nio.file.Files.createTempDirectory("graft_x180_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x180_ck_").toString
      val input = MemoryStream[(Long, String, String)]
      val q = graft.streaming.StreamingCuratedPack.attach(
        input.toDF().toDF("doc_id", "source", "text"), path, words,
        minScoreK = ExtensionQueries.CuratedMinScoreK,
        quota = graft.streaming.QuotaSchedule(Seq(
          (0L, Map("src1" -> ExtensionQueries.PerSrcQ0Src1,
            "src4" -> ExtensionQueries.PerSrcQ0Src4),
            ExtensionQueries.CuratedQuota),
          (2L, Map("src1" -> ExtensionQueries.PerSrcQ1Src1,
            "src4" -> ExtensionQueries.PerSrcQ1Src4),
            ExtensionQueries.CuratedRaisedQuota))),
        seqLen = ExtensionQueries.PackSeqLen, numShards = 4,
        bloomBits = ExtensionQueries.BloomBits,
        bloomK = ExtensionQueries.BloomK)
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(rows.filter(r => r._1 % 16 / 4 == b))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingCuratedPack.funnel(s, path)
        .orderBy("source")
    }),

    // EPOCH'D WHOLE-DOC TAPES (x181): the x173 quota retarget on the
    // greedy padded-loader packer — completes the epoch × packer matrix
    // (split×epoch x173 / whole×epoch here). Same fixture as x173
    // (every doc_id%10==6 doc re-delivered under the SAME id two
    // residues away, so re-deliveries cross the epoch boundary in both
    // directions); each epoch packs its own greedy bin sequence (bins
    // and positions restart at the raise; epoch 0's closed bins never
    // change — the per-epoch monotone-tape contract on whole docs).
    "x181_stream_retarget_greedy" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val words = StreamingDecontaminate.bloomWords(
        docs.filter(col("doc_id") % 97 === 0), n = 13,
        bits = ExtensionQueries.BloomBits, k = ExtensionQueries.BloomK)
      val base = docs.as[(Long, String, String)].collect().toSeq
      val deliveries: Seq[(Long, (Long, String, String))] =
        base.map(r => (r._1 % 4, r)) ++
          base.collect { case r if r._1 % 10 == 6 =>
            ((r._1 % 4 + 2) % 4, r)
          }
      val path = java.nio.file.Files.createTempDirectory("graft_x181_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x181_ck_").toString
      val input = MemoryStream[(Long, String, String)]
      val q = graft.streaming.StreamingCuratedPack.attach(
        input.toDF().toDF("doc_id", "source", "text"), path, words,
        minScoreK = ExtensionQueries.CuratedMinScoreK,
        quota = graft.streaming.QuotaSchedule.retargets(
          (0L, ExtensionQueries.CuratedQuota),
          (2L, ExtensionQueries.CuratedRaisedQuota)),
        seqLen = ExtensionQueries.PackSeqLen, numShards = 4,
        bloomBits = ExtensionQueries.BloomBits,
        bloomK = ExtensionQueries.BloomK,
        wholeDoc = true)
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(deliveries.filter(_._1 == b).map(_._2))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingCuratedPack.assignmentsEpoched(s, path)
        .select(col("epoch"), col("id").as("doc_id"), col("shard"),
          col("pos"), col("bin"), col("n_tokens"), col("arrival_batch"))
        .orderBy("epoch", "doc_id")
    }),

    // THE FULL PER-SOURCE MATRIX (x182): per-source budget schedules
    // (x180's pins + fold-2 retarget) × a scheduled retirement (x178's
    // src5/src11 at fold 2) × a MID-STREAM SOURCE ADDITION — 'src20'
    // never arrives before fold 2 and admits against the epoch DEFAULT
    // (a source needs no registration: absent from the budget map means
    // default, absent from the retire schedule means live — the two
    // fail-open/fail-loud conventions composing). A data owner runs all
    // three at once; this row pins that the funnel's per-source
    // attribution is the x178 retirement arithmetic and the x180 budget
    // arithmetic SIMULTANEOUSLY, neither perturbing the other. Added
    // docs are doc_id%10==3 texts re-delivered under fresh ids
    // (+600000001) and the new source label, at fold 2 + (doc_id//10)%2
    // — entirely inside epoch 1.
    "x182_stream_matrix" -> ((s, dir) => {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val words = StreamingDecontaminate.bloomWords(
        docs.filter(col("doc_id") % 97 === 0), n = 13,
        bits = ExtensionQueries.BloomBits, k = ExtensionQueries.BloomK)
      val base = docs.as[(Long, String, String)].collect().toSeq
      val deliveries: Seq[(Long, (Long, String, String))] =
        base.map(r => (r._1 % 16 / 4, r)) ++
          base.collect { case (i, _, txt) if i % 10 == 3 =>
            (2L + (i / 10) % 2, (i + 600000001L, "src20", txt))
          }
      val path = java.nio.file.Files.createTempDirectory("graft_x182_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_x182_ck_").toString
      val input = MemoryStream[(Long, String, String)]
      val q = graft.streaming.StreamingCuratedPack.attach(
        input.toDF().toDF("doc_id", "source", "text"), path, words,
        minScoreK = ExtensionQueries.CuratedMinScoreK,
        quota = graft.streaming.QuotaSchedule(Seq(
          (0L, Map("src1" -> ExtensionQueries.PerSrcQ0Src1,
            "src4" -> ExtensionQueries.PerSrcQ0Src4),
            ExtensionQueries.CuratedQuota),
          (2L, Map("src1" -> ExtensionQueries.PerSrcQ1Src1,
            "src4" -> ExtensionQueries.PerSrcQ1Src4),
            ExtensionQueries.CuratedRaisedQuota))),
        seqLen = ExtensionQueries.PackSeqLen, numShards = 4,
        bloomBits = ExtensionQueries.BloomBits,
        bloomK = ExtensionQueries.BloomK,
        retireSchedule = Map("src5" -> 2L, "src11" -> 2L))
        .option("checkpointLocation", ckpt)
        .start()
      try (0L until 4L).foreach { b =>
        input.addData(deliveries.filter(_._1 == b).map(_._2))
        q.processAllAvailable()
      } finally q.stop()
      graft.streaming.StreamingCuratedPack.funnel(s, path)
        .orderBy("source")
    }))

  /** The x15 deterministic-recurrence centroids as KMeans.Centroid
    * records — the frozen coarse quantizer the ingest encodes against. */
  private[queries] def recurrenceCentroids: Seq[KMeans.Centroid] =
    (0 until Similarity.IvfLists).map { c =>
      KMeans.Centroid(c,
        Array.tabulate(64)(d => Similarity.centroidComponent(c, d)), 0L)
    }


  /** Unrolled per-batch replay of the composed near-dup BAND gate
    * (x172/x175): batch by batch, survivors `s_b` are the batch's rows
    * of `$inp` with no band in the kept-band ledger `l_{b-1}`; kept
    * rows `k_b` are survivors that are the min doc_id of EVERY band
    * bucket they occupy among the batch's survivors; the ledger then
    * absorbs the kept rows' bands. Assumes CTEs `$inp(doc_id, source,
    * ab, n_tokens)` (the gate's input) and `bnd(doc_id, bkey)` (its
    * rows' distinct band keys) are in scope; emits s0..l3 plus `bkept`
    * (the gate's kept set) — the exact contract of the engine's
    * stage 2.6 ([[graft.streaming.StreamingCuratedPack]]). */
  private def sqlBandGateStages(inp: String, nBatches: Int = 4): String = {
    val stages = (0 until nBatches).map { b =>
      val guard =
        if (b == 0) ""
        else
          s"""
             |  AND NOT EXISTS (SELECT 1 FROM bnd n JOIN l${b - 1} l ON l.bkey = n.bkey
             |    WHERE n.doc_id = c.doc_id)""".stripMargin
      val ledger =
        if (b == 0) "SELECT n.bkey FROM bnd n JOIN k0 k ON k.doc_id = n.doc_id"
        else
          s"""SELECT bkey FROM l${b - 1}
             |  UNION SELECT n.bkey FROM bnd n JOIN k$b k ON k.doc_id = n.doc_id""".stripMargin
      s"""s$b AS MATERIALIZED (SELECT c.* FROM $inp c WHERE c.ab = $b$guard),
         |m$b AS MATERIALIZED (SELECT n.bkey, min(n.doc_id) AS mn FROM bnd n
         |  JOIN s$b s ON s.doc_id = n.doc_id GROUP BY 1),
         |k$b AS MATERIALIZED (SELECT s.* FROM s$b s WHERE NOT EXISTS (
         |  SELECT 1 FROM bnd n JOIN m$b m ON m.bkey = n.bkey
         |  WHERE n.doc_id = s.doc_id AND m.mn < s.doc_id)),
         |l$b AS MATERIALIZED ($ledger)""".stripMargin
    }
    stages.mkString(",\n") + ",\nbkept AS (" +
      (0 until nBatches).map(b => s"SELECT * FROM k$b").mkString(" UNION ALL ") +
      ")"
  }

  /** Exact double cosine in the engine's fold order — byte-for-byte the
    * formula [[ExtensionQueries.sqlCosinePairCtes]] holds x12/x49 to. */
  private def sqlCos(a: String, b: String): String =
    s"""(${ExtensionQueries.sqlDot(a, b)} /
       |  (sqrt(${ExtensionQueries.sqlDot(a, a)}) *
       |   sqrt(${ExtensionQueries.sqlDot(b, b)})))""".stripMargin

  /** Unrolled per-batch replay of the composed SEMANTIC near-dup gate
    * (x176/x177): batch by batch, survivors `ss_b` are the batch's rows
    * of `$inp` with no cosine-≥-τ match against the kept-vector ledger
    * `sl_{b-1}` within Hamming ≤ 1 of their SRP signature (candidates
    * whose LEDGER endpoint sits in an over-`cap` bucket are skipped —
    * admitted, never revoked); kept rows `sk_b` are survivors with no
    * cosine-≥-τ match against a LOWER-id survivor of their own batch
    * (the earlier endpoint's base-bucket population capped the same
    * way); the ledger then absorbs the kept rows' (signature, id)
    * pairs. Assumes CTEs `$inp(doc_id, source, ab, n_tokens)` (the
    * gate's input), `vb(doc_id, sg)` (its rows' SRP signatures),
    * `prb(doc_id, bucket)` (signature + Hamming-1 probe buckets), and
    * `ev(doc_id, embedding)` (its rows' vectors) are in scope; emits
    * ss0..slc{n-1} plus `skept` (the gate's kept set) — the exact
    * contract of the engine's stage 2.7
    * ([[graft.streaming.StreamingCuratedPack]]). */
  private def sqlSemGateStages(inp: String, nBatches: Int = 4): String = {
    val cap = ExtensionQueries.CosineMaxBucket
    val thr = ExtensionQueries.CosineThreshold
    val cos = sqlCos("ea.embedding", "eb.embedding")
    val stages = (0 until nBatches).map { b =>
      val guard =
        if (b == 0) ""
        else
          s"""
             |  AND NOT EXISTS (SELECT 1 FROM prb n
             |    JOIN sl${b - 1} l ON l.bucket = n.bucket
             |    JOIN slc${b - 1} lc ON lc.bucket = l.bucket AND lc.cc <= $cap
             |    JOIN ev ea ON ea.doc_id = c.doc_id
             |    JOIN ev eb ON eb.doc_id = l.doc_id
             |    WHERE n.doc_id = c.doc_id AND $cos >= $thr)""".stripMargin
      val ledger =
        if (b == 0)
          "SELECT v.sg AS bucket, k.doc_id FROM vb v JOIN sk0 k ON k.doc_id = v.doc_id"
        else
          s"""SELECT bucket, doc_id FROM sl${b - 1}
             |  UNION ALL
             |  SELECT v.sg, k.doc_id FROM vb v JOIN sk$b k ON k.doc_id = v.doc_id""".stripMargin
      s"""ss$b AS MATERIALIZED (SELECT c.* FROM $inp c WHERE c.ab = $b$guard),
         |sbc$b AS MATERIALIZED (SELECT v.sg AS bucket, count(*) AS cc
         |  FROM vb v JOIN ss$b s ON s.doc_id = v.doc_id GROUP BY 1),
         |sk$b AS MATERIALIZED (SELECT s.* FROM ss$b s WHERE NOT EXISTS (
         |  SELECT 1 FROM prb a
         |  JOIN vb r ON r.sg = a.bucket
         |  JOIN ss$b s2 ON s2.doc_id = r.doc_id AND s2.doc_id < s.doc_id
         |  JOIN sbc$b bc ON bc.bucket = r.sg AND bc.cc <= $cap
         |  JOIN ev ea ON ea.doc_id = s.doc_id
         |  JOIN ev eb ON eb.doc_id = s2.doc_id
         |  WHERE a.doc_id = s.doc_id AND $cos >= $thr)),
         |sl$b AS MATERIALIZED ($ledger),
         |slc$b AS MATERIALIZED (SELECT bucket, count(*) AS cc FROM sl$b GROUP BY 1)""".stripMargin
    }
    stages.mkString(",\n") + ",\nskept AS (" +
      (0 until nBatches).map(b => s"SELECT * FROM sk$b").mkString(" UNION ALL ") +
      ")"
  }

  /** The shared x176/x177 vector-side CTEs over a gate input `$inp`
    * carrying (doc_id, orig): per-doc SRP signature (the engine's
    * [[graft.ext.Similarity.bucketId]] replicated plane by plane),
    * probe buckets (signature + every Hamming-1 flip), and the vector
    * itself — all restricted to `$scope`'s doc_ids. */
  private def sqlSemVecCtes(scope: String): String = {
    val planes = ExtensionQueries.CosinePlanes
    s"""sg0 AS MATERIALIZED (SELECT vec_id,
       |    CAST(${ExtensionQueries.sqlBucket("embedding", planes)} AS BIGINT) AS sg
       |  FROM embeddings),
       |vb AS MATERIALIZED (SELECT i.doc_id, s.sg FROM inp i
       |  JOIN sg0 s ON s.vec_id = i.orig
       |  JOIN $scope c ON c.doc_id = i.doc_id),
       |ev AS MATERIALIZED (SELECT i.doc_id, e.embedding FROM inp i
       |  JOIN embeddings e ON e.vec_id = i.orig
       |  JOIN $scope c ON c.doc_id = i.doc_id),
       |prb AS MATERIALIZED (SELECT v.doc_id,
       |    unnest([v.sg] || list_transform(range(0, $planes),
       |      j -> xor(v.sg, CAST(1 AS BIGINT) << j))) AS bucket
       |  FROM vb v)""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(

    // the streamed first-wins winner per fingerprint IS the min doc id
    // (ordered batch split) — the same grouping the batch x01 checks,
    // keyed by the portable rolling hash the engine streams on
    "x53_stream_dedup" ->
      s"""WITH n AS (SELECT doc_id,
         |    ${ExtensionQueries.sqlStringHash(ExtensionQueries.sqlNorm)} AS fp
         |  FROM documents)
         |SELECT fp, CAST(min(doc_id) AS BIGINT) AS keep_id
         |FROM n GROUP BY fp ORDER BY keep_id""".stripMargin,

    // x142: admission is a pure function of the per-source inclusive
    // running token sum in arrival (= doc_id) order, so the streamed
    // verdicts replay as one window pass
    "x142_stream_budget_admission" ->
      s"""WITH t AS (SELECT doc_id, source,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
         |      AS BIGINT) AS src_cum
         |  FROM t)
         |SELECT doc_id, source, n_tokens, src_cum,
         |       src_cum <= ${ExtensionQueries.SrcQuotaTokens} AS admitted
         |FROM c ORDER BY doc_id""".stripMargin,

    // x159: the dynamic-budget head replayed as the x150 per-prefix
    // tier pass with the PREFIX-INDEXED budget (250 for prefixes 0-1,
    // 900 after the raise); a doc's eviction/re-admission counts are
    // its adm-sequence transitions between consecutive prefixes
    "x159_stream_dynamic_budget_head" ->
      s"""WITH ${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |qs AS (SELECT q0.doc_id, q0.score_k,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    CAST(q0.doc_id % 4 AS BIGINT) AS ab
         |  FROM q0 JOIN documents d ON q0.doc_id = d.doc_id),
         |bs AS (SELECT CAST(b AS BIGINT) AS b,
         |    CAST(CASE WHEN b < 2 THEN ${ExtensionQueries.QualityHeadBudget}
         |         ELSE ${ExtensionQueries.DynRaisedBudget} END AS BIGINT)
         |      AS bud
         |  FROM range(0, 4) t(b)),
         |p AS (SELECT qs.*, bs.b, bs.bud FROM qs JOIN bs ON qs.ab <= bs.b),
         |h AS (SELECT b, score_k, CAST(sum(n_tokens) AS BIGINT) AS bt
         |  FROM p GROUP BY b, score_k),
         |c AS (SELECT b, score_k, bt,
         |    CAST(COALESCE(SUM(bt) OVER (PARTITION BY b ORDER BY score_k DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS prior
         |  FROM h),
         |t AS (SELECT p.b, p.bud, p.doc_id, p.ab, p.score_k, p.n_tokens,
         |    CASE WHEN c.prior + c.bt <= p.bud THEN 'full'
         |         WHEN c.prior >= p.bud THEN 'rejected'
         |         ELSE 'frontier' END AS tier,
         |    c.prior + CAST(sum(p.n_tokens) OVER (PARTITION BY p.b, p.score_k
         |      ORDER BY p.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS incl
         |  FROM p JOIN c ON p.b = c.b AND p.score_k = c.score_k),
         |a AS (SELECT b, doc_id, ab, score_k, n_tokens,
         |    CASE tier WHEN 'full' THEN TRUE WHEN 'rejected' THEN FALSE
         |         ELSE incl <= bud END AS adm
         |  FROM t),
         |tr AS (SELECT cur.doc_id,
         |    CAST(count(*) FILTER (WHERE prv.adm AND NOT cur.adm) AS BIGINT)
         |      AS n_ev,
         |    CAST(count(*) FILTER (WHERE NOT prv.adm AND cur.adm) AS BIGINT)
         |      AS n_re
         |  FROM a cur JOIN a prv
         |    ON prv.doc_id = cur.doc_id AND prv.b = cur.b - 1
         |  GROUP BY cur.doc_id),
         |lc AS (SELECT doc_id, ab AS arrival_batch, score_k, n_tokens,
         |    bool_or(adm) FILTER (WHERE b = ab) AS admit,
         |    bool_or(adm) FILTER (WHERE b = 3) AS admitted
         |  FROM a GROUP BY doc_id, ab, score_k, n_tokens)
         |SELECT lc.doc_id, lc.arrival_batch, lc.score_k, lc.n_tokens,
         |  lc.admit,
         |  CAST(COALESCE(tr.n_ev, 0) AS BIGINT) AS n_evictions,
         |  CAST(COALESCE(tr.n_re, 0) AS BIGINT) AS n_readmissions,
         |  lc.admitted
         |FROM lc LEFT JOIN tr ON tr.doc_id = lc.doc_id
         |ORDER BY lc.doc_id""".stripMargin,

    // x157: the streamed tape cuts are a closed-form function of the
    // per-shard running token sum in arrival (= doc_id%4 batch, then
    // doc_id) order, so the accumulated fragments replay as ONE window
    // pass + a range() unnest — the x155 layout over arrival order
    "x157_stream_chunk_pack" ->
      s"""WITH b AS (SELECT doc_id,
         |    CAST(doc_id % 4 AS BIGINT) AS arrival_batch,
         |    CAST(${ExtensionQueries.sqlStringHash("CAST(doc_id AS VARCHAR) || ':ps'")} % 4
         |      AS BIGINT) AS shard,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents),
         |tb AS (SELECT * FROM b WHERE n_tokens > 0),
         |o AS (SELECT doc_id, arrival_batch, shard, n_tokens,
         |    CAST(row_number() OVER (PARTITION BY shard
         |      ORDER BY arrival_batch, doc_id) AS BIGINT) AS pos,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY arrival_batch, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum
         |  FROM tb),
         |f AS (SELECT doc_id, arrival_batch, shard, pos,
         |    cum - n_tokens AS st, cum FROM o),
         |x AS (SELECT *, unnest(range(st // ${ExtensionQueries.PackSeqLen},
         |    (cum - 1) // ${ExtensionQueries.PackSeqLen} + 1)) AS seq FROM f)
         |SELECT doc_id, shard, pos, CAST(seq AS BIGINT) AS seq,
         |  CAST(greatest(st, seq * ${ExtensionQueries.PackSeqLen})
         |    - seq * ${ExtensionQueries.PackSeqLen} AS BIGINT) AS frag_start,
         |  CAST(least(cum, (seq + 1) * ${ExtensionQueries.PackSeqLen})
         |    - greatest(st, seq * ${ExtensionQueries.PackSeqLen}) AS BIGINT)
         |    AS frag_len,
         |  CAST(greatest(st, seq * ${ExtensionQueries.PackSeqLen}) - st
         |    AS BIGINT) AS doc_off,
         |  arrival_batch
         |FROM x ORDER BY doc_id, seq""".stripMargin,

    // x166: the whole-doc greedy recurrence replayed as x22's recursive
    // walk in arrival (= doc_id%4 batch, then doc_id) order per shard
    "x166_stream_greedy_pack" ->
      s"""WITH RECURSIVE b AS (SELECT doc_id,
         |    CAST(doc_id % 4 AS BIGINT) AS arrival_batch,
         |    CAST(${ExtensionQueries.sqlStringHash("CAST(doc_id AS VARCHAR) || ':ps'")} % 4
         |      AS BIGINT) AS shard,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents),
         |tb AS (SELECT * FROM b WHERE n_tokens > 0),
         |o AS (SELECT doc_id, arrival_batch, shard, n_tokens,
         |    CAST(row_number() OVER (PARTITION BY shard
         |      ORDER BY arrival_batch, doc_id) AS BIGINT) AS pos
         |  FROM tb),
         |walk(shard, pos, doc_id, arrival_batch, n_tokens, bin, acc) AS (
         |  SELECT shard, pos, doc_id, arrival_batch, n_tokens,
         |    CAST(0 AS BIGINT), n_tokens
         |  FROM o WHERE pos = 1
         |  UNION ALL
         |  SELECT r.shard, r.pos, r.doc_id, r.arrival_batch, r.n_tokens,
         |    CASE WHEN w.acc + r.n_tokens > ${ExtensionQueries.PackSeqLen}
         |              AND w.acc > 0
         |         THEN w.bin + 1 ELSE w.bin END,
         |    CASE WHEN w.acc + r.n_tokens > ${ExtensionQueries.PackSeqLen}
         |              AND w.acc > 0
         |         THEN r.n_tokens ELSE w.acc + r.n_tokens END
         |  FROM walk w JOIN o r ON r.shard = w.shard AND r.pos = w.pos + 1)
         |SELECT doc_id, shard, pos, bin, n_tokens, arrival_batch
         |FROM walk ORDER BY doc_id""".stripMargin,

    // x161: the x157 fragment replay folded per (shard, seq); a
    // sequence is final iff it is not its shard's last or is exactly
    // full
    "x161_stream_seq_sheet" ->
      s"""WITH b AS (SELECT doc_id,
         |    CAST(doc_id % 4 AS BIGINT) AS arrival_batch,
         |    CAST(${ExtensionQueries.sqlStringHash("CAST(doc_id AS VARCHAR) || ':ps'")} % 4
         |      AS BIGINT) AS shard,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents),
         |tb AS (SELECT * FROM b WHERE n_tokens > 0),
         |o AS (SELECT doc_id, arrival_batch, shard, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY arrival_batch, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum
         |  FROM tb),
         |f AS (SELECT doc_id, shard, cum - n_tokens AS st, cum FROM o),
         |x AS (SELECT *, unnest(range(st // ${ExtensionQueries.PackSeqLen},
         |    (cum - 1) // ${ExtensionQueries.PackSeqLen} + 1)) AS seq FROM f),
         |fr AS (SELECT doc_id, shard, CAST(seq AS BIGINT) AS seq,
         |    CAST(greatest(st, seq * ${ExtensionQueries.PackSeqLen})
         |      - seq * ${ExtensionQueries.PackSeqLen} AS BIGINT) AS frag_start,
         |    CAST(least(cum, (seq + 1) * ${ExtensionQueries.PackSeqLen})
         |      - greatest(st, seq * ${ExtensionQueries.PackSeqLen}) AS BIGINT)
         |      AS frag_len,
         |    CAST(greatest(st, seq * ${ExtensionQueries.PackSeqLen}) - st
         |      AS BIGINT) AS doc_off
         |  FROM x),
         |shq AS (SELECT shard, seq,
         |    CAST(count(*) AS BIGINT) AS n_frags,
         |    CAST(sum(CASE WHEN doc_off = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_doc_starts,
         |    CAST(sum(frag_len) AS BIGINT) AS filled,
         |    arg_min(doc_id, frag_start) AS first_id,
         |    arg_max(doc_id, frag_start) AS last_id
         |  FROM fr GROUP BY shard, seq)
         |SELECT shard, seq, n_frags, n_doc_starts, filled, first_id, last_id,
         |  seq < max(seq) OVER (PARTITION BY shard)
         |    OR filled = ${ExtensionQueries.PackSeqLen} AS is_final
         |FROM shq ORDER BY shard, seq""".stripMargin,

    // x167: the composed pipeline replayed stage by stage — the x54
    // Bloom candidate mechanics name the contaminated set, the x03
    // quality chain scores the survivors, the x142 per-source quota
    // window (in arrival = doc_id%4, doc_id order) admits, and the x157
    // closed-form fragment tail packs the admitted set in the same order
    "x167_stream_curated_pack" -> {
      val aL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomA).mkString("[", ",", "]")
      val bL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomB).mkString("[", ",", "]")
      val mod = ExtensionQueries.Mod
      val bits = ExtensionQueries.BloomBits
      val k = ExtensionQueries.BloomK
      val seqLen = ExtensionQueries.PackSeqLen
      s"""WITH ${ExtensionQueries.sqlShnCte(13)},
         |bpos AS (SELECT DISTINCT (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits AS pos
         |  FROM bg CROSS JOIN range(0, $k) r(j)),
         |cp AS (SELECT doc_id, h, unnest(list_transform(range(0, $k),
         |    j -> (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits)) AS pos FROM cg),
         |cand AS (SELECT doc_id, h FROM cp JOIN bpos USING (pos)
         |  GROUP BY 1, 2 HAVING count(*) = $k),
         |cont AS (SELECT DISTINCT doc_id FROM cand),
         |${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |cb AS (SELECT d.doc_id, d.source,
         |    CAST(d.doc_id % 4 AS BIGINT) AS ab,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents d
         |  JOIN q0 ON q0.doc_id = d.doc_id
         |  LEFT JOIN cont ON cont.doc_id = d.doc_id
         |  WHERE cont.doc_id IS NULL
         |    AND q0.score_k >= ${ExtensionQueries.CuratedMinScoreK}),
         |ca AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY ab, doc_id) AS BIGINT) AS src_cum FROM cb),
         |ptb AS (SELECT doc_id, ab AS arrival_batch,
         |    CAST(${ExtensionQueries.sqlStringHash("CAST(doc_id AS VARCHAR) || ':ps'")} % 4
         |      AS BIGINT) AS shard, n_tokens
         |  FROM ca
         |  WHERE src_cum <= ${ExtensionQueries.CuratedQuota} AND n_tokens > 0),
         |po AS (SELECT doc_id, arrival_batch, shard, n_tokens,
         |    CAST(row_number() OVER (PARTITION BY shard
         |      ORDER BY arrival_batch, doc_id) AS BIGINT) AS pos,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY arrival_batch, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum
         |  FROM ptb),
         |pf AS (SELECT doc_id, arrival_batch, shard, pos,
         |    cum - n_tokens AS st, cum FROM po),
         |px AS (SELECT *, unnest(range(st // $seqLen,
         |    (cum - 1) // $seqLen + 1)) AS seq FROM pf)
         |SELECT doc_id, shard, pos, CAST(seq AS BIGINT) AS seq,
         |  CAST(greatest(st, seq * $seqLen) - seq * $seqLen AS BIGINT)
         |    AS frag_start,
         |  CAST(least(cum, (seq + 1) * $seqLen)
         |    - greatest(st, seq * $seqLen) AS BIGINT) AS frag_len,
         |  CAST(greatest(st, seq * $seqLen) - st AS BIGINT) AS doc_off,
         |  arrival_batch
         |FROM px ORDER BY doc_id, seq""".stripMargin
    },

    // x168: the same composed chain folded per source — the funnel's
    // stage counts and admitted yield (no re-arrivals in the harness,
    // so n_rearrived is identically 0)
    "x168_stream_curation_funnel" -> {
      val aL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomA).mkString("[", ",", "]")
      val bL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomB).mkString("[", ",", "]")
      val mod = ExtensionQueries.Mod
      val bits = ExtensionQueries.BloomBits
      val k = ExtensionQueries.BloomK
      s"""WITH ${ExtensionQueries.sqlShnCte(13)},
         |bpos AS (SELECT DISTINCT (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits AS pos
         |  FROM bg CROSS JOIN range(0, $k) r(j)),
         |cp AS (SELECT doc_id, h, unnest(list_transform(range(0, $k),
         |    j -> (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits)) AS pos FROM cg),
         |cand AS (SELECT doc_id, h FROM cp JOIN bpos USING (pos)
         |  GROUP BY 1, 2 HAVING count(*) = $k),
         |cont AS (SELECT DISTINCT doc_id FROM cand),
         |${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |fl AS (SELECT d.doc_id, d.source,
         |    CAST(d.doc_id % 4 AS BIGINT) AS ab,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    cont.doc_id IS NULL AS cl,
         |    cont.doc_id IS NULL
         |      AND q0.score_k >= ${ExtensionQueries.CuratedMinScoreK} AS qk
         |  FROM documents d
         |  JOIN q0 ON q0.doc_id = d.doc_id
         |  LEFT JOIN cont ON cont.doc_id = d.doc_id),
         |ca AS (SELECT doc_id,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY ab, doc_id) AS BIGINT) AS src_cum
         |  FROM fl WHERE qk)
         |SELECT fl.source,
         |  CAST(count(*) AS BIGINT) AS n_arrived,
         |  CAST(sum(CASE WHEN fl.cl THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
         |  CAST(sum(CASE WHEN fl.qk THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_quality_ok,
         |  CAST(0 AS BIGINT) AS n_retired,
         |  CAST(0 AS BIGINT) AS n_dup_content,
         |  CAST(0 AS BIGINT) AS n_neardup,
         |  CAST(0 AS BIGINT) AS n_semdup,
         |  CAST(0 AS BIGINT) AS n_rearrived,
         |  CAST(sum(CASE WHEN fl.qk
         |      AND ca.src_cum <= ${ExtensionQueries.CuratedQuota}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
         |  CAST(sum(CASE WHEN fl.qk
         |      AND ca.src_cum > ${ExtensionQueries.CuratedQuota}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_quota_rejected,
         |  CAST(sum(CASE WHEN fl.qk
         |      AND ca.src_cum <= ${ExtensionQueries.CuratedQuota}
         |    THEN fl.n_tokens ELSE 0 END) AS BIGINT) AS tokens_admitted
         |FROM fl LEFT JOIN ca ON ca.doc_id = fl.doc_id
         |GROUP BY fl.source ORDER BY fl.source""".stripMargin
    },

    // x150: the evictive head replayed as one per-PREFIX tier pass —
    // for each arrival prefix b (docs with doc_id%4 <= b) the x143 tier
    // arithmetic runs partitioned by b; a doc's lifecycle falls out of
    // its per-prefix verdicts (admit at its own prefix, evicted at the
    // first prefix that drops it — verdicts only degrade, which is the
    // monotonicity the operator's incremental fold is built on)
    "x150_stream_quality_head" ->
      s"""WITH ${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |qs AS (SELECT q0.doc_id, q0.score_k,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    CAST(q0.doc_id % 4 AS BIGINT) AS ab
         |  FROM q0 JOIN documents d ON q0.doc_id = d.doc_id),
         |bs AS (SELECT CAST(b AS BIGINT) AS b FROM range(0, 4) t(b)),
         |p AS (SELECT qs.*, bs.b FROM qs JOIN bs ON qs.ab <= bs.b),
         |h AS (SELECT b, score_k, CAST(sum(n_tokens) AS BIGINT) AS bt
         |  FROM p GROUP BY b, score_k),
         |c AS (SELECT b, score_k, bt,
         |    CAST(COALESCE(SUM(bt) OVER (PARTITION BY b ORDER BY score_k DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS prior
         |  FROM h),
         |t AS (SELECT p.b, p.doc_id, p.ab, p.score_k, p.n_tokens,
         |    CASE WHEN c.prior + c.bt <= ${ExtensionQueries.QualityHeadBudget}
         |           THEN 'full'
         |         WHEN c.prior >= ${ExtensionQueries.QualityHeadBudget}
         |           THEN 'rejected'
         |         ELSE 'frontier' END AS tier,
         |    c.prior + CAST(sum(p.n_tokens) OVER (PARTITION BY p.b, p.score_k
         |      ORDER BY p.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS incl
         |  FROM p JOIN c ON p.b = c.b AND p.score_k = c.score_k),
         |a AS (SELECT b, doc_id, ab, score_k, n_tokens,
         |    CASE tier WHEN 'full' THEN TRUE WHEN 'rejected' THEN FALSE
         |         ELSE incl <= ${ExtensionQueries.QualityHeadBudget} END AS adm
         |  FROM t),
         |lc AS (SELECT doc_id, ab AS arrival_batch, score_k, n_tokens,
         |    bool_or(adm) FILTER (WHERE b = ab) AS admit,
         |    CAST(min(b) FILTER (WHERE NOT adm) AS BIGINT) AS ev,
         |    bool_or(adm) FILTER (WHERE b = 3) AS admitted
         |  FROM a GROUP BY doc_id, ab, score_k, n_tokens)
         |SELECT doc_id, arrival_batch, score_k, n_tokens, admit,
         |  CASE WHEN admit THEN ev END AS evict_batch, admitted
         |FROM lc ORDER BY doc_id""".stripMargin,

    // x151: x150's per-prefix tier-pass replay PARTITIONed by source,
    // with each source's budget supplied by the x145 waterfill chain
    // over the full per-source token inventories — the same allocation
    // the Spark harness computes in batch and injects at attach time
    "x151_stream_group_quality_head" ->
      s"""WITH ${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |qs AS (SELECT q0.doc_id, d.source, q0.score_k,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    CAST((q0.doc_id // 4) % 4 AS BIGINT) AS ab
         |  FROM q0 JOIN documents d ON q0.doc_id = d.doc_id),
         |wfa AS (SELECT source,
         |    CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
         |      AS avail_tokens
         |  FROM documents GROUP BY source),
         |${ExtensionQueries.sqlWaterfillChain(ExtensionQueries.StreamGroupHeadBudget)},
         |bs AS (SELECT CAST(b AS BIGINT) AS b FROM range(0, 4) t(b)),
         |p AS (SELECT qs.*, bs.b FROM qs JOIN bs ON qs.ab <= bs.b),
         |h AS (SELECT b, source, score_k, CAST(sum(n_tokens) AS BIGINT) AS bt
         |  FROM p GROUP BY b, source, score_k),
         |c AS (SELECT h.b, h.source, h.score_k, h.bt,
         |    CAST(COALESCE(SUM(h.bt) OVER (PARTITION BY h.b, h.source
         |      ORDER BY h.score_k DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS prior,
         |    w.alloc
         |  FROM h JOIN wfo w ON h.source = w.source),
         |t AS (SELECT p.b, p.doc_id, p.source, p.ab, p.score_k, p.n_tokens,
         |    CASE WHEN c.prior + c.bt <= c.alloc THEN 'full'
         |         WHEN c.prior >= c.alloc THEN 'rejected'
         |         ELSE 'frontier' END AS tier,
         |    c.prior + CAST(sum(p.n_tokens) OVER (PARTITION BY p.b, p.source,
         |      p.score_k ORDER BY p.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS incl,
         |    c.alloc
         |  FROM p JOIN c ON p.b = c.b AND p.source = c.source
         |    AND p.score_k = c.score_k),
         |a AS (SELECT b, doc_id, source, ab, score_k, n_tokens,
         |    CASE tier WHEN 'full' THEN TRUE WHEN 'rejected' THEN FALSE
         |         ELSE incl <= alloc END AS adm
         |  FROM t),
         |lc AS (SELECT doc_id, source, ab AS arrival_batch, score_k, n_tokens,
         |    bool_or(adm) FILTER (WHERE b = ab) AS admit,
         |    CAST(min(b) FILTER (WHERE NOT adm) AS BIGINT) AS ev,
         |    bool_or(adm) FILTER (WHERE b = 3) AS admitted
         |  FROM a GROUP BY doc_id, source, ab, score_k, n_tokens)
         |SELECT doc_id, source, arrival_batch, score_k, n_tokens, admit,
         |  CASE WHEN admit THEN ev END AS evict_batch, admitted
         |FROM lc ORDER BY doc_id""".stripMargin,

    // x160: the x151 per-prefix-per-source tier pass with the
    // PREFIX-INDEXED budget — the waterfill chain runs TWICE (suffixed
    // CTE names), prefixes 0-1 take the 6000-budget allocations,
    // prefixes 2-3 the 13000 ones; transition counts as in x159
    "x160_stream_group_dynamic_budgets" ->
      s"""WITH ${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |qs AS (SELECT q0.doc_id, d.source, q0.score_k,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    CAST((q0.doc_id // 4) % 4 AS BIGINT) AS ab
         |  FROM q0 JOIN documents d ON q0.doc_id = d.doc_id),
         |wfa AS (SELECT source,
         |    CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
         |      AS avail_tokens
         |  FROM documents GROUP BY source),
         |${ExtensionQueries.sqlWaterfillChain(ExtensionQueries.StreamGroupHeadBudget)},
         |wfa2 AS (SELECT * FROM wfa),
         |${ExtensionQueries.sqlWaterfillChainSfx(ExtensionQueries.DynGroupRaisedBudget, "2")},
         |bs AS (SELECT CAST(b AS BIGINT) AS b FROM range(0, 4) t(b)),
         |p AS (SELECT qs.*, bs.b FROM qs JOIN bs ON qs.ab <= bs.b),
         |h AS (SELECT b, source, score_k, CAST(sum(n_tokens) AS BIGINT) AS bt
         |  FROM p GROUP BY b, source, score_k),
         |c AS (SELECT h.b, h.source, h.score_k, h.bt,
         |    CAST(COALESCE(SUM(h.bt) OVER (PARTITION BY h.b, h.source
         |      ORDER BY h.score_k DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS prior,
         |    CASE WHEN h.b < 2 THEN w.alloc ELSE w2.alloc END AS alloc
         |  FROM h JOIN wfo w ON h.source = w.source
         |  JOIN wfo2 w2 ON h.source = w2.source),
         |t AS (SELECT p.b, p.doc_id, p.source, p.ab, p.score_k, p.n_tokens,
         |    CASE WHEN c.prior + c.bt <= c.alloc THEN 'full'
         |         WHEN c.prior >= c.alloc THEN 'rejected'
         |         ELSE 'frontier' END AS tier,
         |    c.prior + CAST(sum(p.n_tokens) OVER (PARTITION BY p.b, p.source,
         |      p.score_k ORDER BY p.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS incl,
         |    c.alloc
         |  FROM p JOIN c ON p.b = c.b AND p.source = c.source
         |    AND p.score_k = c.score_k),
         |a AS (SELECT b, doc_id, source, ab, score_k, n_tokens,
         |    CASE tier WHEN 'full' THEN TRUE WHEN 'rejected' THEN FALSE
         |         ELSE incl <= alloc END AS adm
         |  FROM t),
         |tr AS (SELECT cur.doc_id,
         |    CAST(count(*) FILTER (WHERE prv.adm AND NOT cur.adm) AS BIGINT)
         |      AS n_ev,
         |    CAST(count(*) FILTER (WHERE NOT prv.adm AND cur.adm) AS BIGINT)
         |      AS n_re
         |  FROM a cur JOIN a prv
         |    ON prv.doc_id = cur.doc_id AND prv.b = cur.b - 1
         |  GROUP BY cur.doc_id),
         |lc AS (SELECT doc_id, source, ab AS arrival_batch, score_k, n_tokens,
         |    bool_or(adm) FILTER (WHERE b = ab) AS admit,
         |    bool_or(adm) FILTER (WHERE b = 3) AS admitted
         |  FROM a GROUP BY doc_id, source, ab, score_k, n_tokens)
         |SELECT lc.doc_id, lc.source, lc.arrival_batch, lc.score_k,
         |  lc.n_tokens, lc.admit,
         |  CAST(COALESCE(tr.n_ev, 0) AS BIGINT) AS n_evictions,
         |  CAST(COALESCE(tr.n_re, 0) AS BIGINT) AS n_readmissions,
         |  lc.admitted
         |FROM lc LEFT JOIN tr ON tr.doc_id = lc.doc_id
         |ORDER BY lc.doc_id""".stripMargin,

    // x170: x167's admission chain feeding x166's recursive greedy walk
    // in the same arrival order
    "x170_stream_curated_greedy" -> {
      val aL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomA).mkString("[", ",", "]")
      val bL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomB).mkString("[", ",", "]")
      val mod = ExtensionQueries.Mod
      val bits = ExtensionQueries.BloomBits
      val k = ExtensionQueries.BloomK
      val seqLen = ExtensionQueries.PackSeqLen
      s"""WITH RECURSIVE ${ExtensionQueries.sqlShnCte(13)},
         |bpos AS (SELECT DISTINCT (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits AS pos
         |  FROM bg CROSS JOIN range(0, $k) r(j)),
         |cp AS (SELECT doc_id, h, unnest(list_transform(range(0, $k),
         |    j -> (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits)) AS pos FROM cg),
         |cand AS (SELECT doc_id, h FROM cp JOIN bpos USING (pos)
         |  GROUP BY 1, 2 HAVING count(*) = $k),
         |cont AS (SELECT DISTINCT doc_id FROM cand),
         |${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |cb AS (SELECT d.doc_id, d.source,
         |    CAST(d.doc_id % 4 AS BIGINT) AS ab,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents d
         |  JOIN q0 ON q0.doc_id = d.doc_id
         |  LEFT JOIN cont ON cont.doc_id = d.doc_id
         |  WHERE cont.doc_id IS NULL
         |    AND q0.score_k >= ${ExtensionQueries.CuratedMinScoreK}),
         |ca AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY ab, doc_id) AS BIGINT) AS src_cum FROM cb),
         |ptb AS (SELECT doc_id, ab AS arrival_batch,
         |    CAST(${ExtensionQueries.sqlStringHash("CAST(doc_id AS VARCHAR) || ':ps'")} % 4
         |      AS BIGINT) AS shard, n_tokens
         |  FROM ca
         |  WHERE src_cum <= ${ExtensionQueries.CuratedQuota} AND n_tokens > 0),
         |po AS (SELECT doc_id, arrival_batch, shard, n_tokens,
         |    CAST(row_number() OVER (PARTITION BY shard
         |      ORDER BY arrival_batch, doc_id) AS BIGINT) AS pos
         |  FROM ptb),
         |walk(shard, pos, doc_id, arrival_batch, n_tokens, bin, acc) AS (
         |  SELECT shard, pos, doc_id, arrival_batch, n_tokens,
         |    CAST(0 AS BIGINT), n_tokens
         |  FROM po WHERE pos = 1
         |  UNION ALL
         |  SELECT r.shard, r.pos, r.doc_id, r.arrival_batch, r.n_tokens,
         |    CASE WHEN w.acc + r.n_tokens > $seqLen AND w.acc > 0
         |         THEN w.bin + 1 ELSE w.bin END,
         |    CASE WHEN w.acc + r.n_tokens > $seqLen AND w.acc > 0
         |         THEN r.n_tokens ELSE w.acc + r.n_tokens END
         |  FROM walk w JOIN po r ON r.shard = w.shard AND r.pos = w.pos + 1)
         |SELECT doc_id, shard, pos, bin, n_tokens, arrival_batch
         |FROM walk ORDER BY doc_id""".stripMargin
    },

    // x171: x167's chain over the duplicated input (every id%10==3 doc
    // re-arrives under id+100000001), with the first-arrival-wins
    // fingerprint stage between the quality floor and the quota —
    // QUALIFY row_number over (fp ORDER BY arrival batch, id) = 1 IS
    // the engine's in-batch-min-id + cross-batch-guard composition
    "x171_stream_curated_dedup" -> {
      val aL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomA).mkString("[", ",", "]")
      val bL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomB).mkString("[", ",", "]")
      val mod = ExtensionQueries.Mod
      val bits = ExtensionQueries.BloomBits
      val k = ExtensionQueries.BloomK
      val seqLen = ExtensionQueries.PackSeqLen
      s"""WITH ${ExtensionQueries.sqlShnCte(13)},
         |bpos AS (SELECT DISTINCT (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits AS pos
         |  FROM bg CROSS JOIN range(0, $k) r(j)),
         |cp AS (SELECT doc_id, h, unnest(list_transform(range(0, $k),
         |    j -> (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits)) AS pos FROM cg),
         |cand AS (SELECT doc_id, h FROM cp JOIN bpos USING (pos)
         |  GROUP BY 1, 2 HAVING count(*) = $k),
         |cont AS (SELECT DISTINCT doc_id FROM cand),
         |${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |fps AS (SELECT doc_id AS orig,
         |    ${ExtensionQueries.sqlStringHash(ExtensionQueries.sqlNorm)} AS fp
         |  FROM documents),
         |inp AS (SELECT doc_id, doc_id AS orig, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000001, doc_id, source FROM documents
         |  WHERE doc_id % 10 = 3),
         |cb AS MATERIALIZED (SELECT i.doc_id, i.source,
         |    CAST(i.doc_id % 4 AS BIGINT) AS ab,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    fps.fp
         |  FROM inp i
         |  JOIN documents d ON d.doc_id = i.orig
         |  JOIN q0 ON q0.doc_id = i.orig
         |  JOIN fps ON fps.orig = i.orig
         |  LEFT JOIN cont ON cont.doc_id = i.orig
         |  WHERE cont.doc_id IS NULL
         |    AND q0.score_k >= ${ExtensionQueries.CuratedMinScoreK}),
         |kept AS (SELECT * FROM cb
         |  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY ab, doc_id) = 1),
         |ca AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY ab, doc_id) AS BIGINT) AS src_cum FROM kept),
         |ptb AS (SELECT doc_id, ab AS arrival_batch,
         |    CAST(${ExtensionQueries.sqlStringHash("CAST(doc_id AS VARCHAR) || ':ps'")} % 4
         |      AS BIGINT) AS shard, n_tokens
         |  FROM ca
         |  WHERE src_cum <= ${ExtensionQueries.CuratedQuota} AND n_tokens > 0),
         |po AS (SELECT doc_id, arrival_batch, shard, n_tokens,
         |    CAST(row_number() OVER (PARTITION BY shard
         |      ORDER BY arrival_batch, doc_id) AS BIGINT) AS pos,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY arrival_batch, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum
         |  FROM ptb),
         |pf AS (SELECT doc_id, arrival_batch, shard, pos,
         |    cum - n_tokens AS st, cum FROM po),
         |px AS (SELECT *, unnest(range(st // $seqLen,
         |    (cum - 1) // $seqLen + 1)) AS seq FROM pf)
         |SELECT doc_id, shard, pos, CAST(seq AS BIGINT) AS seq,
         |  CAST(greatest(st, seq * $seqLen) - seq * $seqLen AS BIGINT)
         |    AS frag_start,
         |  CAST(least(cum, (seq + 1) * $seqLen)
         |    - greatest(st, seq * $seqLen) AS BIGINT) AS frag_len,
         |  CAST(greatest(st, seq * $seqLen) - st AS BIGINT) AS doc_off,
         |  arrival_batch
         |FROM px ORDER BY doc_id, seq""".stripMargin
    },

    // x172: the composed chain with the near-dup band gate replayed
    // batch by batch — x06's banded-minhash arithmetic (sh3/sig3/
    // banded3, over the same token-hash chain the Bloom screen uses)
    // names each doc's band buckets, and the unrolled
    // [[sqlBandGateStages]] chain replays first-arrival-wins per bucket
    // exactly as the engine folds it; the quota window and fragment
    // tail then run over the gate's kept set as in x167
    "x172_stream_curated_neardup" -> {
      val aL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomA).mkString("[", ",", "]")
      val bL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomB).mkString("[", ",", "]")
      val mod = ExtensionQueries.Mod
      val bits = ExtensionQueries.BloomBits
      val k = ExtensionQueries.BloomK
      val seqLen = ExtensionQueries.PackSeqLen
      s"""WITH ${ExtensionQueries.sqlShnCte(13)},
         |bpos AS (SELECT DISTINCT (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits AS pos
         |  FROM bg CROSS JOIN range(0, $k) r(j)),
         |cp AS (SELECT doc_id, h, unnest(list_transform(range(0, $k),
         |    j -> (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits)) AS pos FROM cg),
         |cand AS (SELECT doc_id, h FROM cp JOIN bpos USING (pos)
         |  GROUP BY 1, 2 HAVING count(*) = $k),
         |cont AS (SELECT DISTINCT doc_id FROM cand),
         |${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |${ExtensionQueries.sqlBanded3FromToh},
         |inp AS (SELECT doc_id, doc_id AS orig, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 200000001, doc_id, source FROM documents
         |  WHERE doc_id % 10 = 7),
         |cb AS MATERIALIZED (SELECT i.doc_id, i.source,
         |    CAST(i.doc_id % 4 AS BIGINT) AS ab,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM inp i
         |  JOIN documents d ON d.doc_id = i.orig
         |  JOIN q0 ON q0.doc_id = i.orig
         |  LEFT JOIN cont ON cont.doc_id = i.orig
         |  WHERE cont.doc_id IS NULL
         |    AND q0.score_k >= ${ExtensionQueries.CuratedMinScoreK}),
         |bnd AS MATERIALIZED (SELECT DISTINCT i.doc_id, b.band * $mod + b.band_key AS bkey
         |  FROM inp i
         |  JOIN banded3 b ON b.doc_id = i.orig
         |  JOIN cb c ON c.doc_id = i.doc_id),
         |${sqlBandGateStages("cb")},
         |ca AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY ab, doc_id) AS BIGINT) AS src_cum FROM bkept),
         |ptb AS (SELECT doc_id, ab AS arrival_batch,
         |    CAST(${ExtensionQueries.sqlStringHash("CAST(doc_id AS VARCHAR) || ':ps'")} % 4
         |      AS BIGINT) AS shard, n_tokens
         |  FROM ca
         |  WHERE src_cum <= ${ExtensionQueries.CuratedQuota} AND n_tokens > 0),
         |po AS (SELECT doc_id, arrival_batch, shard, n_tokens,
         |    CAST(row_number() OVER (PARTITION BY shard
         |      ORDER BY arrival_batch, doc_id) AS BIGINT) AS pos,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY arrival_batch, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum
         |  FROM ptb),
         |pf AS (SELECT doc_id, arrival_batch, shard, pos,
         |    cum - n_tokens AS st, cum FROM po),
         |px AS (SELECT *, unnest(range(st // $seqLen,
         |    (cum - 1) // $seqLen + 1)) AS seq FROM pf)
         |SELECT doc_id, shard, pos, CAST(seq AS BIGINT) AS seq,
         |  CAST(greatest(st, seq * $seqLen) - seq * $seqLen AS BIGINT)
         |    AS frag_start,
         |  CAST(least(cum, (seq + 1) * $seqLen)
         |    - greatest(st, seq * $seqLen) AS BIGINT) AS frag_len,
         |  CAST(greatest(st, seq * $seqLen) - st AS BIGINT) AS doc_off,
         |  arrival_batch
         |FROM px ORDER BY doc_id, seq""".stripMargin
    },

    // x175: the funnel of the doubly-gated chain — fp drops (the
    // synthesized verbatim copies) land in n_dup_content, band-gate
    // drops (the corpus's natural LSH collisions among fp survivors)
    // in n_neardup, and n_rearrived stays identically 0 (no doc id is
    // re-delivered): the three formerly-conflated outcomes, split
    "x175_stream_dedup_funnel" -> {
      val aL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomA).mkString("[", ",", "]")
      val bL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomB).mkString("[", ",", "]")
      val mod = ExtensionQueries.Mod
      val bits = ExtensionQueries.BloomBits
      val k = ExtensionQueries.BloomK
      s"""WITH ${ExtensionQueries.sqlShnCte(13)},
         |bpos AS (SELECT DISTINCT (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits AS pos
         |  FROM bg CROSS JOIN range(0, $k) r(j)),
         |cp AS (SELECT doc_id, h, unnest(list_transform(range(0, $k),
         |    j -> (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits)) AS pos FROM cg),
         |cand AS (SELECT doc_id, h FROM cp JOIN bpos USING (pos)
         |  GROUP BY 1, 2 HAVING count(*) = $k),
         |cont AS (SELECT DISTINCT doc_id FROM cand),
         |${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |${ExtensionQueries.sqlBanded3FromToh},
         |fps AS (SELECT doc_id AS orig,
         |    ${ExtensionQueries.sqlStringHash(ExtensionQueries.sqlNorm)} AS fp
         |  FROM documents),
         |inp AS (SELECT doc_id, doc_id AS orig, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000001, doc_id, source FROM documents
         |  WHERE doc_id % 10 = 3),
         |fl AS MATERIALIZED (SELECT i.doc_id, i.source,
         |    CAST(i.doc_id % 4 AS BIGINT) AS ab,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    fps.fp,
         |    cont.doc_id IS NULL AS cl,
         |    cont.doc_id IS NULL
         |      AND q0.score_k >= ${ExtensionQueries.CuratedMinScoreK} AS qk
         |  FROM inp i
         |  JOIN documents d ON d.doc_id = i.orig
         |  JOIN q0 ON q0.doc_id = i.orig
         |  JOIN fps ON fps.orig = i.orig
         |  LEFT JOIN cont ON cont.doc_id = i.orig),
         |fpk AS MATERIALIZED (SELECT doc_id, source, ab, n_tokens FROM fl WHERE qk
         |  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY ab, doc_id) = 1),
         |bnd AS MATERIALIZED (SELECT DISTINCT i.doc_id, b.band * $mod + b.band_key AS bkey
         |  FROM inp i
         |  JOIN banded3 b ON b.doc_id = i.orig
         |  JOIN fpk f ON f.doc_id = i.doc_id),
         |${sqlBandGateStages("fpk")},
         |ca AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY ab, doc_id) AS BIGINT) AS src_cum FROM bkept),
         |fpc AS (SELECT source, count(*) AS n_post_fp FROM fpk GROUP BY 1),
         |bkc AS (SELECT source, count(*) AS n_post_band FROM bkept GROUP BY 1),
         |adm AS (SELECT source,
         |    CAST(sum(CASE WHEN src_cum <= ${ExtensionQueries.CuratedQuota}
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
         |    CAST(sum(CASE WHEN src_cum > ${ExtensionQueries.CuratedQuota}
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_quota_rejected,
         |    CAST(sum(CASE WHEN src_cum <= ${ExtensionQueries.CuratedQuota}
         |      THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_admitted
         |  FROM ca GROUP BY 1),
         |base AS (SELECT fl.source,
         |    CAST(count(*) AS BIGINT) AS n_arrived,
         |    CAST(sum(CASE WHEN fl.cl THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
         |    CAST(sum(CASE WHEN fl.qk THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_quality_ok
         |  FROM fl GROUP BY fl.source)
         |SELECT base.source, base.n_arrived, base.n_clean, base.n_quality_ok,
         |  CAST(0 AS BIGINT) AS n_retired,
         |  base.n_quality_ok - CAST(COALESCE(fpc.n_post_fp, 0) AS BIGINT)
         |    AS n_dup_content,
         |  CAST(COALESCE(fpc.n_post_fp, 0) - COALESCE(bkc.n_post_band, 0)
         |    AS BIGINT) AS n_neardup,
         |  CAST(0 AS BIGINT) AS n_semdup,
         |  CAST(0 AS BIGINT) AS n_rearrived,
         |  CAST(COALESCE(adm.n_admitted, 0) AS BIGINT) AS n_admitted,
         |  CAST(COALESCE(adm.n_quota_rejected, 0) AS BIGINT)
         |    AS n_quota_rejected,
         |  CAST(COALESCE(adm.tokens_admitted, 0) AS BIGINT) AS tokens_admitted
         |FROM base
         |LEFT JOIN fpc ON fpc.source = base.source
         |LEFT JOIN bkc ON bkc.source = base.source
         |LEFT JOIN adm ON adm.source = base.source
         |ORDER BY base.source""".stripMargin
    },

    // x176: the composed chain with the SEMANTIC gate replayed batch by
    // batch — per-doc SRP signatures and probe buckets from the
    // embeddings table (planes replicated component by component, the
    // x11/x12 discipline), kept-vector ledger growing append-only, the
    // same exact-double cosine the x12/x49 oracles pin
    "x176_stream_curated_semdedup" -> {
      val aL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomA).mkString("[", ",", "]")
      val bL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomB).mkString("[", ",", "]")
      val mod = ExtensionQueries.Mod
      val bits = ExtensionQueries.BloomBits
      val k = ExtensionQueries.BloomK
      val seqLen = ExtensionQueries.PackSeqLen
      s"""WITH ${ExtensionQueries.sqlShnCte(13)},
         |bpos AS (SELECT DISTINCT (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits AS pos
         |  FROM bg CROSS JOIN range(0, $k) r(j)),
         |cp AS (SELECT doc_id, h, unnest(list_transform(range(0, $k),
         |    j -> (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits)) AS pos FROM cg),
         |cand AS (SELECT doc_id, h FROM cp JOIN bpos USING (pos)
         |  GROUP BY 1, 2 HAVING count(*) = $k),
         |cont AS (SELECT DISTINCT doc_id FROM cand),
         |${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |inp AS (SELECT d.doc_id, d.doc_id AS orig, d.source FROM documents d
         |  JOIN embeddings em ON em.vec_id = d.doc_id
         |  UNION ALL
         |  SELECT d.doc_id + 300000001, d.doc_id, d.source FROM documents d
         |  JOIN embeddings em ON em.vec_id = d.doc_id
         |  WHERE d.doc_id % 10 = 7),
         |cb AS MATERIALIZED (SELECT i.doc_id, i.orig, i.source,
         |    CAST(i.doc_id % 4 AS BIGINT) AS ab,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM inp i
         |  JOIN documents d ON d.doc_id = i.orig
         |  JOIN q0 ON q0.doc_id = i.orig
         |  LEFT JOIN cont ON cont.doc_id = i.orig
         |  WHERE cont.doc_id IS NULL
         |    AND q0.score_k >= ${ExtensionQueries.CuratedMinScoreK}),
         |${sqlSemVecCtes("cb")},
         |${sqlSemGateStages("cb")},
         |ca AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY ab, doc_id) AS BIGINT) AS src_cum FROM skept),
         |ptb AS (SELECT doc_id, ab AS arrival_batch,
         |    CAST(${ExtensionQueries.sqlStringHash("CAST(doc_id AS VARCHAR) || ':ps'")} % 4
         |      AS BIGINT) AS shard, n_tokens
         |  FROM ca
         |  WHERE src_cum <= ${ExtensionQueries.CuratedQuota} AND n_tokens > 0),
         |po AS (SELECT doc_id, arrival_batch, shard, n_tokens,
         |    CAST(row_number() OVER (PARTITION BY shard
         |      ORDER BY arrival_batch, doc_id) AS BIGINT) AS pos,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY arrival_batch, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum
         |  FROM ptb),
         |pf AS (SELECT doc_id, arrival_batch, shard, pos,
         |    cum - n_tokens AS st, cum FROM po),
         |px AS (SELECT *, unnest(range(st // $seqLen,
         |    (cum - 1) // $seqLen + 1)) AS seq FROM pf)
         |SELECT doc_id, shard, pos, CAST(seq AS BIGINT) AS seq,
         |  CAST(greatest(st, seq * $seqLen) - seq * $seqLen AS BIGINT)
         |    AS frag_start,
         |  CAST(least(cum, (seq + 1) * $seqLen)
         |    - greatest(st, seq * $seqLen) AS BIGINT) AS frag_len,
         |  CAST(greatest(st, seq * $seqLen) - st AS BIGINT) AS doc_off,
         |  arrival_batch
         |FROM px ORDER BY doc_id, seq""".stripMargin
    },

    // x177: the complete dedup stack's funnel — fp stage (x175's fpk),
    // band stages over the fp survivors, sem stages over the band
    // survivors, admission over the sem survivors; every stage's
    // per-source count lands in its own funnel column
    "x177_stream_dedup_stack_funnel" -> {
      val aL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomA).mkString("[", ",", "]")
      val bL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomB).mkString("[", ",", "]")
      val mod = ExtensionQueries.Mod
      val bits = ExtensionQueries.BloomBits
      val k = ExtensionQueries.BloomK
      s"""WITH ${ExtensionQueries.sqlShnCte(13)},
         |bpos AS (SELECT DISTINCT (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits AS pos
         |  FROM bg CROSS JOIN range(0, $k) r(j)),
         |cp AS (SELECT doc_id, h, unnest(list_transform(range(0, $k),
         |    j -> (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits)) AS pos FROM cg),
         |cand AS (SELECT doc_id, h FROM cp JOIN bpos USING (pos)
         |  GROUP BY 1, 2 HAVING count(*) = $k),
         |cont AS (SELECT DISTINCT doc_id FROM cand),
         |${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |${ExtensionQueries.sqlBanded3FromToh},
         |fps AS (SELECT doc_id AS orig,
         |    ${ExtensionQueries.sqlStringHash(ExtensionQueries.sqlNorm)} AS fp
         |  FROM documents),
         |inp AS (SELECT d.doc_id, d.doc_id AS orig, d.source FROM documents d
         |  JOIN embeddings em ON em.vec_id = d.doc_id
         |  UNION ALL
         |  SELECT d.doc_id + 400000001, d.doc_id, d.source FROM documents d
         |  JOIN embeddings em ON em.vec_id = d.doc_id
         |  WHERE d.doc_id % 10 = 3),
         |fl AS MATERIALIZED (SELECT i.doc_id, i.orig, i.source,
         |    CAST(i.doc_id % 4 AS BIGINT) AS ab,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    fps.fp,
         |    cont.doc_id IS NULL AS cl,
         |    cont.doc_id IS NULL
         |      AND q0.score_k >= ${ExtensionQueries.CuratedMinScoreK} AS qk
         |  FROM inp i
         |  JOIN documents d ON d.doc_id = i.orig
         |  JOIN q0 ON q0.doc_id = i.orig
         |  JOIN fps ON fps.orig = i.orig
         |  LEFT JOIN cont ON cont.doc_id = i.orig),
         |fpk AS MATERIALIZED (SELECT doc_id, orig, source, ab, n_tokens
         |  FROM fl WHERE qk
         |  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY ab, doc_id) = 1),
         |bnd AS MATERIALIZED (SELECT DISTINCT i.doc_id, b.band * $mod + b.band_key AS bkey
         |  FROM inp i
         |  JOIN banded3 b ON b.doc_id = i.orig
         |  JOIN fpk f ON f.doc_id = i.doc_id),
         |${sqlBandGateStages("fpk")},
         |${sqlSemVecCtes("fpk")},
         |${sqlSemGateStages("bkept")},
         |ca AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY ab, doc_id) AS BIGINT) AS src_cum FROM skept),
         |fpc AS (SELECT source, count(*) AS n_post_fp FROM fpk GROUP BY 1),
         |bkc AS (SELECT source, count(*) AS n_post_band FROM bkept GROUP BY 1),
         |smc AS (SELECT source, count(*) AS n_post_sem FROM skept GROUP BY 1),
         |adm AS (SELECT source,
         |    CAST(sum(CASE WHEN src_cum <= ${ExtensionQueries.CuratedQuota}
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
         |    CAST(sum(CASE WHEN src_cum > ${ExtensionQueries.CuratedQuota}
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_quota_rejected,
         |    CAST(sum(CASE WHEN src_cum <= ${ExtensionQueries.CuratedQuota}
         |      THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_admitted
         |  FROM ca GROUP BY 1),
         |base AS (SELECT fl.source,
         |    CAST(count(*) AS BIGINT) AS n_arrived,
         |    CAST(sum(CASE WHEN fl.cl THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
         |    CAST(sum(CASE WHEN fl.qk THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_quality_ok
         |  FROM fl GROUP BY fl.source)
         |SELECT base.source, base.n_arrived, base.n_clean, base.n_quality_ok,
         |  CAST(0 AS BIGINT) AS n_retired,
         |  base.n_quality_ok - CAST(COALESCE(fpc.n_post_fp, 0) AS BIGINT)
         |    AS n_dup_content,
         |  CAST(COALESCE(fpc.n_post_fp, 0) - COALESCE(bkc.n_post_band, 0)
         |    AS BIGINT) AS n_neardup,
         |  CAST(COALESCE(bkc.n_post_band, 0) - COALESCE(smc.n_post_sem, 0)
         |    AS BIGINT) AS n_semdup,
         |  CAST(0 AS BIGINT) AS n_rearrived,
         |  CAST(COALESCE(adm.n_admitted, 0) AS BIGINT) AS n_admitted,
         |  CAST(COALESCE(adm.n_quota_rejected, 0) AS BIGINT)
         |    AS n_quota_rejected,
         |  CAST(COALESCE(adm.tokens_admitted, 0) AS BIGINT) AS tokens_admitted
         |FROM base
         |LEFT JOIN fpc ON fpc.source = base.source
         |LEFT JOIN bkc ON bkc.source = base.source
         |LEFT JOIN smc ON smc.source = base.source
         |LEFT JOIN adm ON adm.source = base.source
         |ORDER BY base.source""".stripMargin
    },

    // x178: the retirement funnel in closed form — a quality-passed doc
    // of a retired source with ab >= its retirement fold drops
    // pre-verdict (n_retired); everything else runs the ordinary
    // per-source quota window over the DRAINED input
    "x178_stream_curated_retirement" -> {
      val aL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomA).mkString("[", ",", "]")
      val bL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomB).mkString("[", ",", "]")
      val mod = ExtensionQueries.Mod
      val bits = ExtensionQueries.BloomBits
      val k = ExtensionQueries.BloomK
      s"""WITH ${ExtensionQueries.sqlShnCte(13)},
         |bpos AS (SELECT DISTINCT (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits AS pos
         |  FROM bg CROSS JOIN range(0, $k) r(j)),
         |cp AS (SELECT doc_id, h, unnest(list_transform(range(0, $k),
         |    j -> (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits)) AS pos FROM cg),
         |cand AS (SELECT doc_id, h FROM cp JOIN bpos USING (pos)
         |  GROUP BY 1, 2 HAVING count(*) = $k),
         |cont AS (SELECT DISTINCT doc_id FROM cand),
         |${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |fl AS (SELECT d.doc_id, d.source,
         |    CAST((d.doc_id % 16) // 4 AS BIGINT) AS ab,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    cont.doc_id IS NULL AS cl,
         |    cont.doc_id IS NULL
         |      AND q0.score_k >= ${ExtensionQueries.CuratedMinScoreK} AS qk,
         |    d.source IN ('src5', 'src11')
         |      AND CAST((d.doc_id % 16) // 4 AS BIGINT) >= 2 AS ret
         |  FROM documents d
         |  JOIN q0 ON q0.doc_id = d.doc_id
         |  LEFT JOIN cont ON cont.doc_id = d.doc_id),
         |ca AS (SELECT doc_id,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY ab, doc_id) AS BIGINT) AS src_cum
         |  FROM fl WHERE qk AND NOT ret)
         |SELECT fl.source,
         |  CAST(count(*) AS BIGINT) AS n_arrived,
         |  CAST(sum(CASE WHEN fl.cl THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
         |  CAST(sum(CASE WHEN fl.qk THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_quality_ok,
         |  CAST(sum(CASE WHEN fl.qk AND fl.ret THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_retired,
         |  CAST(0 AS BIGINT) AS n_dup_content,
         |  CAST(0 AS BIGINT) AS n_neardup,
         |  CAST(0 AS BIGINT) AS n_semdup,
         |  CAST(0 AS BIGINT) AS n_rearrived,
         |  CAST(sum(CASE WHEN fl.qk AND NOT fl.ret
         |      AND ca.src_cum <= ${ExtensionQueries.CuratedQuota}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
         |  CAST(sum(CASE WHEN fl.qk AND NOT fl.ret
         |      AND ca.src_cum > ${ExtensionQueries.CuratedQuota}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_quota_rejected,
         |  CAST(sum(CASE WHEN fl.qk AND NOT fl.ret
         |      AND ca.src_cum <= ${ExtensionQueries.CuratedQuota}
         |    THEN fl.n_tokens ELSE 0 END) AS BIGINT) AS tokens_admitted
         |FROM fl LEFT JOIN ca ON ca.doc_id = fl.doc_id
         |GROUP BY fl.source ORDER BY fl.source""".stripMargin
    },

    // x173: the epoch'd-tape retarget replayed in closed form — a doc's
    // EFFECTIVE arrival is the min over its deliveries (the cross-epoch
    // re-arrival guard makes every later delivery a no-op), its epoch
    // falls out of that arrival, per-(source, epoch) running sums
    // restart the accounting at the raise, and each epoch packs its own
    // tape (positions and sequences partition by epoch)
    "x173_stream_quota_retarget" -> {
      val aL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomA).mkString("[", ",", "]")
      val bL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomB).mkString("[", ",", "]")
      val mod = ExtensionQueries.Mod
      val bits = ExtensionQueries.BloomBits
      val k = ExtensionQueries.BloomK
      val seqLen = ExtensionQueries.PackSeqLen
      s"""WITH ${ExtensionQueries.sqlShnCte(13)},
         |bpos AS (SELECT DISTINCT (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits AS pos
         |  FROM bg CROSS JOIN range(0, $k) r(j)),
         |cp AS (SELECT doc_id, h, unnest(list_transform(range(0, $k),
         |    j -> (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits)) AS pos FROM cg),
         |cand AS (SELECT doc_id, h FROM cp JOIN bpos USING (pos)
         |  GROUP BY 1, 2 HAVING count(*) = $k),
         |cont AS (SELECT DISTINCT doc_id FROM cand),
         |${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |del AS (SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS ab
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id, CAST((doc_id % 4 + 2) % 4 AS BIGINT) AS ab
         |  FROM documents WHERE doc_id % 10 = 6),
         |eff AS (SELECT doc_id, min(ab) AS ab FROM del GROUP BY 1),
         |cb AS (SELECT d.doc_id, d.source, eff.ab,
         |    CAST(CASE WHEN eff.ab < 2 THEN 0 ELSE 1 END AS BIGINT) AS epoch,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents d
         |  JOIN eff ON eff.doc_id = d.doc_id
         |  JOIN q0 ON q0.doc_id = d.doc_id
         |  LEFT JOIN cont ON cont.doc_id = d.doc_id
         |  WHERE cont.doc_id IS NULL
         |    AND q0.score_k >= ${ExtensionQueries.CuratedMinScoreK}),
         |ca AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source, epoch
         |    ORDER BY ab, doc_id) AS BIGINT) AS src_cum FROM cb),
         |ptb AS (SELECT epoch, doc_id, ab AS arrival_batch,
         |    CAST(${ExtensionQueries.sqlStringHash("CAST(doc_id AS VARCHAR) || ':ps'")} % 4
         |      AS BIGINT) AS shard, n_tokens
         |  FROM ca
         |  WHERE src_cum <= CASE WHEN epoch = 0
         |      THEN ${ExtensionQueries.CuratedQuota}
         |      ELSE ${ExtensionQueries.CuratedRaisedQuota} END
         |    AND n_tokens > 0),
         |po AS (SELECT epoch, doc_id, arrival_batch, shard, n_tokens,
         |    CAST(row_number() OVER (PARTITION BY epoch, shard
         |      ORDER BY arrival_batch, doc_id) AS BIGINT) AS pos,
         |    CAST(sum(n_tokens) OVER (PARTITION BY epoch, shard
         |      ORDER BY arrival_batch, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum
         |  FROM ptb),
         |pf AS (SELECT epoch, doc_id, arrival_batch, shard, pos,
         |    cum - n_tokens AS st, cum FROM po),
         |px AS (SELECT *, unnest(range(st // $seqLen,
         |    (cum - 1) // $seqLen + 1)) AS seq FROM pf)
         |SELECT epoch, doc_id, shard, pos, CAST(seq AS BIGINT) AS seq,
         |  CAST(greatest(st, seq * $seqLen) - seq * $seqLen AS BIGINT)
         |    AS frag_start,
         |  CAST(least(cum, (seq + 1) * $seqLen)
         |    - greatest(st, seq * $seqLen) AS BIGINT) AS frag_len,
         |  CAST(greatest(st, seq * $seqLen) - st AS BIGINT) AS doc_off,
         |  arrival_batch
         |FROM px ORDER BY epoch, doc_id, seq""".stripMargin
    },

    // x179: the epoch-INDEPENDENT fp ledger under a retarget — one
    // GLOBAL first-arrival-wins QUALIFY over (ab, doc_id) across both
    // epochs (the ledger is shared, so the partition is NOT keyed by
    // epoch), then x173's per-(source, epoch) quota windows and
    // per-epoch tapes over the fp survivors
    "x179_stream_retarget_dedup" -> {
      val aL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomA).mkString("[", ",", "]")
      val bL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomB).mkString("[", ",", "]")
      val mod = ExtensionQueries.Mod
      val bits = ExtensionQueries.BloomBits
      val k = ExtensionQueries.BloomK
      val seqLen = ExtensionQueries.PackSeqLen
      s"""WITH ${ExtensionQueries.sqlShnCte(13)},
         |bpos AS (SELECT DISTINCT (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits AS pos
         |  FROM bg CROSS JOIN range(0, $k) r(j)),
         |cp AS (SELECT doc_id, h, unnest(list_transform(range(0, $k),
         |    j -> (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits)) AS pos FROM cg),
         |cand AS (SELECT doc_id, h FROM cp JOIN bpos USING (pos)
         |  GROUP BY 1, 2 HAVING count(*) = $k),
         |cont AS (SELECT DISTINCT doc_id FROM cand),
         |${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |fps AS (SELECT doc_id AS orig,
         |    ${ExtensionQueries.sqlStringHash(ExtensionQueries.sqlNorm)} AS fp
         |  FROM documents),
         |inp AS (SELECT doc_id, doc_id AS orig, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 500000001, doc_id, source FROM documents
         |  WHERE doc_id % 10 = 3),
         |cb AS MATERIALIZED (SELECT i.doc_id, i.source,
         |    CAST(i.doc_id % 4 AS BIGINT) AS ab,
         |    CAST(CASE WHEN i.doc_id % 4 < 2 THEN 0 ELSE 1 END AS BIGINT)
         |      AS epoch,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    fps.fp
         |  FROM inp i
         |  JOIN documents d ON d.doc_id = i.orig
         |  JOIN q0 ON q0.doc_id = i.orig
         |  JOIN fps ON fps.orig = i.orig
         |  LEFT JOIN cont ON cont.doc_id = i.orig
         |  WHERE cont.doc_id IS NULL
         |    AND q0.score_k >= ${ExtensionQueries.CuratedMinScoreK}),
         |fpk AS MATERIALIZED (SELECT doc_id, source, ab, epoch, n_tokens
         |  FROM cb
         |  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY ab, doc_id) = 1),
         |ca AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source, epoch
         |    ORDER BY ab, doc_id) AS BIGINT) AS src_cum FROM fpk),
         |ptb AS (SELECT epoch, doc_id, ab AS arrival_batch,
         |    CAST(${ExtensionQueries.sqlStringHash("CAST(doc_id AS VARCHAR) || ':ps'")} % 4
         |      AS BIGINT) AS shard, n_tokens
         |  FROM ca
         |  WHERE src_cum <= CASE WHEN epoch = 0
         |      THEN ${ExtensionQueries.CuratedQuota}
         |      ELSE ${ExtensionQueries.CuratedRaisedQuota} END
         |    AND n_tokens > 0),
         |po AS (SELECT epoch, doc_id, arrival_batch, shard, n_tokens,
         |    CAST(row_number() OVER (PARTITION BY epoch, shard
         |      ORDER BY arrival_batch, doc_id) AS BIGINT) AS pos,
         |    CAST(sum(n_tokens) OVER (PARTITION BY epoch, shard
         |      ORDER BY arrival_batch, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum
         |  FROM ptb),
         |pf AS (SELECT epoch, doc_id, arrival_batch, shard, pos,
         |    cum - n_tokens AS st, cum FROM po),
         |px AS (SELECT *, unnest(range(st // $seqLen,
         |    (cum - 1) // $seqLen + 1)) AS seq FROM pf)
         |SELECT epoch, doc_id, shard, pos, CAST(seq AS BIGINT) AS seq,
         |  CAST(greatest(st, seq * $seqLen) - seq * $seqLen AS BIGINT)
         |    AS frag_start,
         |  CAST(least(cum, (seq + 1) * $seqLen)
         |    - greatest(st, seq * $seqLen) AS BIGINT) AS frag_len,
         |  CAST(greatest(st, seq * $seqLen) - st AS BIGINT) AS doc_off,
         |  arrival_batch
         |FROM px ORDER BY epoch, doc_id, seq""".stripMargin
    },

    // x180: the per-source-budget funnel in closed form — per-(source,
    // epoch) running sums over the quality-passed docs in ((doc_id%16)
    // //4, doc_id) order, admitted iff within the source's OWN budget
    // for its epoch (src1/src4 pinned, everything else the epoch
    // default), aggregated per source exactly as x178's funnel
    "x180_stream_per_source_budgets" -> {
      val aL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomA).mkString("[", ",", "]")
      val bL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomB).mkString("[", ",", "]")
      val mod = ExtensionQueries.Mod
      val bits = ExtensionQueries.BloomBits
      val k = ExtensionQueries.BloomK
      val budget =
        s"""CASE WHEN epoch = 0 THEN
           |      CASE source WHEN 'src1' THEN ${ExtensionQueries.PerSrcQ0Src1}
           |        WHEN 'src4' THEN ${ExtensionQueries.PerSrcQ0Src4}
           |        ELSE ${ExtensionQueries.CuratedQuota} END
           |    ELSE
           |      CASE source WHEN 'src1' THEN ${ExtensionQueries.PerSrcQ1Src1}
           |        WHEN 'src4' THEN ${ExtensionQueries.PerSrcQ1Src4}
           |        ELSE ${ExtensionQueries.CuratedRaisedQuota} END
           |    END""".stripMargin
      s"""WITH ${ExtensionQueries.sqlShnCte(13)},
         |bpos AS (SELECT DISTINCT (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits AS pos
         |  FROM bg CROSS JOIN range(0, $k) r(j)),
         |cp AS (SELECT doc_id, h, unnest(list_transform(range(0, $k),
         |    j -> (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits)) AS pos FROM cg),
         |cand AS (SELECT doc_id, h FROM cp JOIN bpos USING (pos)
         |  GROUP BY 1, 2 HAVING count(*) = $k),
         |cont AS (SELECT DISTINCT doc_id FROM cand),
         |${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |fl AS (SELECT d.doc_id, d.source,
         |    CAST((d.doc_id % 16) // 4 AS BIGINT) AS ab,
         |    CAST(CASE WHEN (d.doc_id % 16) // 4 < 2 THEN 0 ELSE 1 END
         |      AS BIGINT) AS epoch,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    cont.doc_id IS NULL AS cl,
         |    cont.doc_id IS NULL
         |      AND q0.score_k >= ${ExtensionQueries.CuratedMinScoreK} AS qk
         |  FROM documents d
         |  JOIN q0 ON q0.doc_id = d.doc_id
         |  LEFT JOIN cont ON cont.doc_id = d.doc_id),
         |ca AS (SELECT doc_id,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source, epoch
         |      ORDER BY ab, doc_id) AS BIGINT) AS src_cum,
         |    ($budget) AS budget
         |  FROM fl WHERE qk)
         |SELECT fl.source,
         |  CAST(count(*) AS BIGINT) AS n_arrived,
         |  CAST(sum(CASE WHEN fl.cl THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
         |  CAST(sum(CASE WHEN fl.qk THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_quality_ok,
         |  CAST(0 AS BIGINT) AS n_retired,
         |  CAST(0 AS BIGINT) AS n_dup_content,
         |  CAST(0 AS BIGINT) AS n_neardup,
         |  CAST(0 AS BIGINT) AS n_semdup,
         |  CAST(0 AS BIGINT) AS n_rearrived,
         |  CAST(sum(CASE WHEN fl.qk AND ca.src_cum <= ca.budget
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
         |  CAST(sum(CASE WHEN fl.qk AND ca.src_cum > ca.budget
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_quota_rejected,
         |  CAST(sum(CASE WHEN fl.qk AND ca.src_cum <= ca.budget
         |    THEN fl.n_tokens ELSE 0 END) AS BIGINT) AS tokens_admitted
         |FROM fl LEFT JOIN ca ON ca.doc_id = fl.doc_id
         |GROUP BY fl.source ORDER BY fl.source""".stripMargin
    },

    // x181: the epoch'd whole-doc retarget replayed in closed form —
    // x173's effective-arrival/epoch logic (min over deliveries; the
    // cross-epoch guard makes later deliveries no-ops), per-(source,
    // epoch) quota windows, then the x166 recursive greedy walk
    // partitioned by (epoch, shard): bins and positions restart at the
    // raise
    "x181_stream_retarget_greedy" -> {
      val aL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomA).mkString("[", ",", "]")
      val bL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomB).mkString("[", ",", "]")
      val mod = ExtensionQueries.Mod
      val bits = ExtensionQueries.BloomBits
      val k = ExtensionQueries.BloomK
      s"""WITH RECURSIVE ${ExtensionQueries.sqlShnCte(13)},
         |bpos AS (SELECT DISTINCT (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits AS pos
         |  FROM bg CROSS JOIN range(0, $k) r(j)),
         |cp AS (SELECT doc_id, h, unnest(list_transform(range(0, $k),
         |    j -> (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits)) AS pos FROM cg),
         |cand AS (SELECT doc_id, h FROM cp JOIN bpos USING (pos)
         |  GROUP BY 1, 2 HAVING count(*) = $k),
         |cont AS (SELECT DISTINCT doc_id FROM cand),
         |${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |del AS (SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS ab
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id, CAST((doc_id % 4 + 2) % 4 AS BIGINT) AS ab
         |  FROM documents WHERE doc_id % 10 = 6),
         |eff AS (SELECT doc_id, min(ab) AS ab FROM del GROUP BY 1),
         |cb AS (SELECT d.doc_id, d.source, eff.ab,
         |    CAST(CASE WHEN eff.ab < 2 THEN 0 ELSE 1 END AS BIGINT) AS epoch,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents d
         |  JOIN eff ON eff.doc_id = d.doc_id
         |  JOIN q0 ON q0.doc_id = d.doc_id
         |  LEFT JOIN cont ON cont.doc_id = d.doc_id
         |  WHERE cont.doc_id IS NULL
         |    AND q0.score_k >= ${ExtensionQueries.CuratedMinScoreK}),
         |ca AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source, epoch
         |    ORDER BY ab, doc_id) AS BIGINT) AS src_cum FROM cb),
         |o AS (SELECT epoch, doc_id, ab AS arrival_batch,
         |    CAST(${ExtensionQueries.sqlStringHash("CAST(doc_id AS VARCHAR) || ':ps'")} % 4
         |      AS BIGINT) AS shard, n_tokens,
         |    CAST(row_number() OVER (PARTITION BY epoch,
         |      CAST(${ExtensionQueries.sqlStringHash("CAST(doc_id AS VARCHAR) || ':ps'")} % 4
         |        AS BIGINT)
         |      ORDER BY ab, doc_id) AS BIGINT) AS pos
         |  FROM ca
         |  WHERE src_cum <= CASE WHEN epoch = 0
         |      THEN ${ExtensionQueries.CuratedQuota}
         |      ELSE ${ExtensionQueries.CuratedRaisedQuota} END
         |    AND n_tokens > 0),
         |walk(epoch, shard, pos, doc_id, arrival_batch, n_tokens, bin, acc) AS (
         |  SELECT epoch, shard, pos, doc_id, arrival_batch, n_tokens,
         |    CAST(0 AS BIGINT), n_tokens
         |  FROM o WHERE pos = 1
         |  UNION ALL
         |  SELECT r.epoch, r.shard, r.pos, r.doc_id, r.arrival_batch,
         |    r.n_tokens,
         |    CASE WHEN w.acc + r.n_tokens > ${ExtensionQueries.PackSeqLen}
         |              AND w.acc > 0
         |         THEN w.bin + 1 ELSE w.bin END,
         |    CASE WHEN w.acc + r.n_tokens > ${ExtensionQueries.PackSeqLen}
         |              AND w.acc > 0
         |         THEN r.n_tokens ELSE w.acc + r.n_tokens END
         |  FROM walk w JOIN o r
         |    ON r.epoch = w.epoch AND r.shard = w.shard AND r.pos = w.pos + 1)
         |SELECT epoch, doc_id, shard, pos, bin, n_tokens, arrival_batch
         |FROM walk ORDER BY epoch, doc_id""".stripMargin
    },

    // x182: the full matrix funnel in closed form — x178's retirement
    // predicate AND x180's per-(source, epoch) budget windows over a
    // delivery set widened by the added source (doc_id%10==3 texts
    // under fresh ids +600000001 and label src20, arriving at fold
    // 2 + (doc_id//10)%2 — epoch 1 only, admitted against the epoch
    // default). Contamination and quality join on the ORIGINAL id (the
    // text is verbatim), everything downstream treats the added rows as
    // first-class arrivals.
    "x182_stream_matrix" -> {
      val aL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomA).mkString("[", ",", "]")
      val bL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomB).mkString("[", ",", "]")
      val mod = ExtensionQueries.Mod
      val bits = ExtensionQueries.BloomBits
      val k = ExtensionQueries.BloomK
      val budget =
        s"""CASE WHEN epoch = 0 THEN
           |      CASE source WHEN 'src1' THEN ${ExtensionQueries.PerSrcQ0Src1}
           |        WHEN 'src4' THEN ${ExtensionQueries.PerSrcQ0Src4}
           |        ELSE ${ExtensionQueries.CuratedQuota} END
           |    ELSE
           |      CASE source WHEN 'src1' THEN ${ExtensionQueries.PerSrcQ1Src1}
           |        WHEN 'src4' THEN ${ExtensionQueries.PerSrcQ1Src4}
           |        ELSE ${ExtensionQueries.CuratedRaisedQuota} END
           |    END""".stripMargin
      s"""WITH ${ExtensionQueries.sqlShnCte(13)},
         |bpos AS (SELECT DISTINCT (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits AS pos
         |  FROM bg CROSS JOIN range(0, $k) r(j)),
         |cp AS (SELECT doc_id, h, unnest(list_transform(range(0, $k),
         |    j -> (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits)) AS pos FROM cg),
         |cand AS (SELECT doc_id, h FROM cp JOIN bpos USING (pos)
         |  GROUP BY 1, 2 HAVING count(*) = $k),
         |cont AS (SELECT DISTINCT doc_id FROM cand),
         |${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |uni AS (SELECT doc_id, doc_id AS oid, source,
         |    CAST((doc_id % 16) // 4 AS BIGINT) AS ab
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + 600000001, doc_id, 'src20',
         |    CAST(2 + (doc_id // 10) % 2 AS BIGINT)
         |  FROM documents WHERE doc_id % 10 = 3),
         |fl AS (SELECT u.doc_id, u.source, u.ab,
         |    CAST(CASE WHEN u.ab < 2 THEN 0 ELSE 1 END AS BIGINT) AS epoch,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    cont.doc_id IS NULL AS cl,
         |    cont.doc_id IS NULL
         |      AND q0.score_k >= ${ExtensionQueries.CuratedMinScoreK} AS qk,
         |    u.source IN ('src5', 'src11') AND u.ab >= 2 AS ret
         |  FROM uni u
         |  JOIN documents d ON d.doc_id = u.oid
         |  JOIN q0 ON q0.doc_id = u.oid
         |  LEFT JOIN cont ON cont.doc_id = u.oid),
         |ca AS (SELECT doc_id,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source, epoch
         |      ORDER BY ab, doc_id) AS BIGINT) AS src_cum,
         |    ($budget) AS budget
         |  FROM fl WHERE qk AND NOT ret)
         |SELECT fl.source,
         |  CAST(count(*) AS BIGINT) AS n_arrived,
         |  CAST(sum(CASE WHEN fl.cl THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
         |  CAST(sum(CASE WHEN fl.qk THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_quality_ok,
         |  CAST(sum(CASE WHEN fl.qk AND fl.ret THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_retired,
         |  CAST(0 AS BIGINT) AS n_dup_content,
         |  CAST(0 AS BIGINT) AS n_neardup,
         |  CAST(0 AS BIGINT) AS n_semdup,
         |  CAST(0 AS BIGINT) AS n_rearrived,
         |  CAST(sum(CASE WHEN fl.qk AND NOT fl.ret
         |      AND ca.src_cum <= ca.budget
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
         |  CAST(sum(CASE WHEN fl.qk AND NOT fl.ret
         |      AND ca.src_cum > ca.budget
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_quota_rejected,
         |  CAST(sum(CASE WHEN fl.qk AND NOT fl.ret
         |      AND ca.src_cum <= ca.budget
         |    THEN fl.n_tokens ELSE 0 END) AS BIGINT) AS tokens_admitted
         |FROM fl LEFT JOIN ca ON ca.doc_id = fl.doc_id
         |GROUP BY fl.source ORDER BY fl.source""".stripMargin
    },

    // x169: x160's per-prefix replay with the added source's
    // pre-addition arrivals removed OUTRIGHT (they were never ledgered
    // — the lifecycle sheet cannot hold them) and the first waterfill
    // run over the REDUCED source set (LEFT joined: the added source
    // has no low-budget allocation, and no prefix < 2 rows to need one)
    "x169_stream_group_added" ->
      s"""WITH ${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |ms AS (SELECT min(source) AS m FROM documents),
         |qs AS (SELECT q0.doc_id, d.source, q0.score_k,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    CAST((q0.doc_id // 4) % 4 AS BIGINT) AS ab
         |  FROM q0 JOIN documents d ON q0.doc_id = d.doc_id
         |  WHERE NOT (d.source = (SELECT m FROM ms)
         |             AND (q0.doc_id // 4) % 4 < 2)),
         |wfa AS (SELECT source,
         |    CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
         |      AS avail_tokens
         |  FROM documents WHERE source <> (SELECT m FROM ms)
         |  GROUP BY source),
         |${ExtensionQueries.sqlWaterfillChain(ExtensionQueries.StreamGroupHeadBudget)},
         |wfa2 AS (SELECT source,
         |    CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
         |      AS avail_tokens
         |  FROM documents GROUP BY source),
         |${ExtensionQueries.sqlWaterfillChainSfx(ExtensionQueries.DynGroupRaisedBudget, "2")},
         |bs AS (SELECT CAST(b AS BIGINT) AS b FROM range(0, 4) t(b)),
         |p AS (SELECT qs.*, bs.b FROM qs JOIN bs ON qs.ab <= bs.b),
         |h AS (SELECT b, source, score_k, CAST(sum(n_tokens) AS BIGINT) AS bt
         |  FROM p GROUP BY b, source, score_k),
         |c AS (SELECT h.b, h.source, h.score_k, h.bt,
         |    CAST(COALESCE(SUM(h.bt) OVER (PARTITION BY h.b, h.source
         |      ORDER BY h.score_k DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS prior,
         |    CASE WHEN h.b < 2 THEN w.alloc ELSE w2.alloc END AS alloc
         |  FROM h LEFT JOIN wfo w ON h.source = w.source
         |  JOIN wfo2 w2 ON h.source = w2.source),
         |t AS (SELECT p.b, p.doc_id, p.source, p.ab, p.score_k, p.n_tokens,
         |    CASE WHEN c.prior + c.bt <= c.alloc THEN 'full'
         |         WHEN c.prior >= c.alloc THEN 'rejected'
         |         ELSE 'frontier' END AS tier,
         |    c.prior + CAST(sum(p.n_tokens) OVER (PARTITION BY p.b, p.source,
         |      p.score_k ORDER BY p.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS incl,
         |    c.alloc
         |  FROM p JOIN c ON p.b = c.b AND p.source = c.source
         |    AND p.score_k = c.score_k),
         |a AS (SELECT b, doc_id, source, ab, score_k, n_tokens,
         |    CASE tier WHEN 'full' THEN TRUE WHEN 'rejected' THEN FALSE
         |         ELSE incl <= alloc END AS adm
         |  FROM t),
         |tr AS (SELECT cur.doc_id,
         |    CAST(count(*) FILTER (WHERE prv.adm AND NOT cur.adm) AS BIGINT)
         |      AS n_ev,
         |    CAST(count(*) FILTER (WHERE NOT prv.adm AND cur.adm) AS BIGINT)
         |      AS n_re
         |  FROM a cur JOIN a prv
         |    ON prv.doc_id = cur.doc_id AND prv.b = cur.b - 1
         |  GROUP BY cur.doc_id),
         |lc AS (SELECT doc_id, source, ab AS arrival_batch, score_k, n_tokens,
         |    bool_or(adm) FILTER (WHERE b = ab) AS admit,
         |    bool_or(adm) FILTER (WHERE b = 3) AS admitted
         |  FROM a GROUP BY doc_id, source, ab, score_k, n_tokens)
         |SELECT lc.doc_id, lc.source, lc.arrival_batch, lc.score_k,
         |  lc.n_tokens, lc.admit,
         |  CAST(COALESCE(tr.n_ev, 0) AS BIGINT) AS n_evictions,
         |  CAST(COALESCE(tr.n_re, 0) AS BIGINT) AS n_readmissions,
         |  lc.admitted
         |FROM lc LEFT JOIN tr ON tr.doc_id = lc.doc_id
         |ORDER BY lc.doc_id""".stripMargin,

    // x174: x160's per-prefix replay with a CONSTANT waterfill and the
    // retired source's post-retirement arrivals removed OUTRIGHT (they
    // were never ledgered). With constant budgets and no new arrivals,
    // the per-prefix replay for the retired source at b >= 2 reproduces
    // its fold-1 verdicts verbatim — the frozen head IS the fixpoint,
    // so no special-case SQL is needed beyond the arrival exclusion
    "x174_stream_group_retired" ->
      s"""WITH ${ExtensionQueries.sqlQualityCtes},
         |q0 AS (SELECT doc_id,
         |    CAST(round((${ExtensionQueries.sqlQualityScore}) * 1000000, 0)
         |      AS BIGINT) AS score_k
         |  FROM g),
         |ms AS (SELECT min(source) AS m FROM documents),
         |qs AS (SELECT q0.doc_id, d.source, q0.score_k,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    CAST((q0.doc_id // 4) % 4 AS BIGINT) AS ab
         |  FROM q0 JOIN documents d ON q0.doc_id = d.doc_id
         |  WHERE NOT (d.source = (SELECT m FROM ms)
         |             AND (q0.doc_id // 4) % 4 >= 2)),
         |wfa AS (SELECT source,
         |    CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
         |      AS avail_tokens
         |  FROM documents GROUP BY source),
         |${ExtensionQueries.sqlWaterfillChain(ExtensionQueries.StreamGroupHeadBudget)},
         |bs AS (SELECT CAST(b AS BIGINT) AS b FROM range(0, 4) t(b)),
         |p AS (SELECT qs.*, bs.b FROM qs JOIN bs ON qs.ab <= bs.b),
         |h AS (SELECT b, source, score_k, CAST(sum(n_tokens) AS BIGINT) AS bt
         |  FROM p GROUP BY b, source, score_k),
         |c AS (SELECT h.b, h.source, h.score_k, h.bt,
         |    CAST(COALESCE(SUM(h.bt) OVER (PARTITION BY h.b, h.source
         |      ORDER BY h.score_k DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS prior,
         |    w.alloc AS alloc
         |  FROM h JOIN wfo w ON h.source = w.source),
         |t AS (SELECT p.b, p.doc_id, p.source, p.ab, p.score_k, p.n_tokens,
         |    CASE WHEN c.prior + c.bt <= c.alloc THEN 'full'
         |         WHEN c.prior >= c.alloc THEN 'rejected'
         |         ELSE 'frontier' END AS tier,
         |    c.prior + CAST(sum(p.n_tokens) OVER (PARTITION BY p.b, p.source,
         |      p.score_k ORDER BY p.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS incl,
         |    c.alloc
         |  FROM p JOIN c ON p.b = c.b AND p.source = c.source
         |    AND p.score_k = c.score_k),
         |a AS (SELECT b, doc_id, source, ab, score_k, n_tokens,
         |    CASE tier WHEN 'full' THEN TRUE WHEN 'rejected' THEN FALSE
         |         ELSE incl <= alloc END AS adm
         |  FROM t),
         |tr AS (SELECT cur.doc_id,
         |    CAST(count(*) FILTER (WHERE prv.adm AND NOT cur.adm) AS BIGINT)
         |      AS n_ev,
         |    CAST(count(*) FILTER (WHERE NOT prv.adm AND cur.adm) AS BIGINT)
         |      AS n_re
         |  FROM a cur JOIN a prv
         |    ON prv.doc_id = cur.doc_id AND prv.b = cur.b - 1
         |  GROUP BY cur.doc_id),
         |lc AS (SELECT doc_id, source, ab AS arrival_batch, score_k, n_tokens,
         |    bool_or(adm) FILTER (WHERE b = ab) AS admit,
         |    bool_or(adm) FILTER (WHERE b = 3) AS admitted
         |  FROM a GROUP BY doc_id, source, ab, score_k, n_tokens)
         |SELECT lc.doc_id, lc.source, lc.arrival_batch, lc.score_k,
         |  lc.n_tokens, lc.admit,
         |  CAST(COALESCE(tr.n_ev, 0) AS BIGINT) AS n_evictions,
         |  CAST(COALESCE(tr.n_re, 0) AS BIGINT) AS n_readmissions,
         |  lc.admitted
         |FROM lc LEFT JOIN tr ON tr.doc_id = lc.doc_id
         |ORDER BY lc.doc_id""".stripMargin,

    // x92: x82's diff SQL restricted to rows the stream can see (the
    // arriving NEW snapshot) — 'removed' rows are the batch diff's alone
    "x92_stream_snapshot_diff" -> {
      val fp = ExtensionQueries.sqlStringHash(s"(${ExtensionQueries.sqlNorm})")
      s"""WITH o AS (SELECT doc_id, $fp AS fp_old
         |  FROM documents WHERE doc_id % 5 <> 0),
         |nn AS (SELECT doc_id, $fp AS fp_new FROM
         |  (SELECT doc_id,
         |     CASE WHEN doc_id % 3 = 0 THEN text || ' rev' ELSE text END AS text
         |   FROM documents WHERE doc_id % 7 <> 0))
         |SELECT nn.doc_id,
         |  CASE WHEN o.fp_old IS NULL THEN 'added'
         |       WHEN o.fp_old = nn.fp_new THEN 'unchanged'
         |       ELSE 'changed' END AS status,
         |  o.fp_old, nn.fp_new
         |FROM nn LEFT JOIN o ON nn.doc_id = o.doc_id
         |ORDER BY nn.doc_id""".stripMargin
    },

    // the Bloom screen replayed exactly (x44's candidate mechanics minus
    // the exact verify): distinct benchmark bit positions = the bit
    // array; a gram is a candidate iff all K positions are set
    "x54_stream_decontaminate" -> {
      val aL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomA).mkString("[", ",", "]")
      val bL = (0 until ExtensionQueries.BloomK)
        .map(graft.ext.Sketches.bloomB).mkString("[", ",", "]")
      val mod = ExtensionQueries.Mod
      val bits = ExtensionQueries.BloomBits
      val k = ExtensionQueries.BloomK
      s"""WITH ${ExtensionQueries.sqlShnCte(13)},
         |bpos AS (SELECT DISTINCT (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits AS pos
         |  FROM bg CROSS JOIN range(0, $k) r(j)),
         |cp AS (SELECT doc_id, h, unnest(list_transform(range(0, $k),
         |    j -> (($aL[j+1] * h + $bL[j+1]) % $mod) % $bits)) AS pos FROM cg),
         |cand AS (SELECT doc_id, h FROM cp JOIN bpos USING (pos)
         |  GROUP BY 1, 2 HAVING count(*) = $k)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits
         |FROM cand GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // nearest-centroid (first-min argmin) against the recurrence centroid
    // literals — the read-back of the streamed index must equal a direct
    // batch assignment of every vector
    "x55_stream_index_ingest" -> {
      val dists = (0 until Similarity.IvfLists).map(QueryHelpers.sqlDistTo)
        .mkString("[\n", ",\n", "]")
      s"""WITH d AS (SELECT vec_id, $dists AS ds FROM embeddings)
         |SELECT vec_id,
         |  CAST(list_position(ds, list_min(ds)) - 1 AS BIGINT) AS list
         |FROM d ORDER BY vec_id""".stripMargin
    },

    // the streamed postings index probed over the full query set must
    // equal batch BM25 over the whole corpus — x61's oracle verbatim
    "x68_stream_bm25_ingest" -> ExtensionQueries.oracleSql("x61_bm25_topk"),

    // the streamed IVF-PQ codes probed over x59's query set must equal
    // the in-memory composed probe — x59's oracle verbatim
    "x73_stream_ivfpq_ingest" -> ExtensionQueries.oracleSql("x59_ivfpq_topk"),

    // the streamed cluster state must equal the full batch rebuild —
    // x20's recursive-walk oracle verbatim
    "x100_stream_cluster_ingest" -> ExtensionQueries.oracleSql("x20_dedup_clusters"),

    // the streamed sufficient-statistic state must reproduce the batch
    // sample — x95's oracle verbatim
    "x107_stream_priority_sample" -> ExtensionQueries.oracleSql("x95_priority_sample"),

    // the map-side-served scores must equal batch NB scoring over the
    // whole corpus — x118's oracle verbatim
    "x124_stream_nb_score" -> ExtensionQueries.oracleSql("x118_nb_score"),

    // the grown winnow state's accumulated pair set must equal the full
    // winnow rebuild over everything ingested — x129's chain verbatim
    "x135_stream_winnow_ingest" -> ExtensionQueries.oracleSql("x129_winnow_neardups"),

    // streamed langid serving must equal the batch argmax verdict —
    // x133's chain verbatim
    "x139_stream_langid" -> ExtensionQueries.oracleSql("x133_langid_verdict"))
}
