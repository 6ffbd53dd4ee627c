package perfbench

import graft.ext.{Dedup, Packing, Similarity, TextAnalysis}
import graft.sources.Tables
import graft.streaming.{StreamingCuratedPack, StreamingDecontaminate, StreamingQualityHead}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `curation_stream`: micro-batches of documents in the x177/x159 arrival
  * shape (a `doc_id % 4` split, every `doc_id % 10 == 3` document with an
  * embedding re-arriving verbatim under `doc_id + 400000001`). One op is
  * one arrival batch folded through the composed `StreamingCuratedPack`
  * fold (exact, MinHash and semantic dedup on) and the dynamic-budget
  * `StreamingQualityHead` fold. Each pass streams the whole corpus into
  * fresh state; its end state is checked against the x177 and x159
  * DuckDB oracles and for funnel conservation. */
object CurationStream {
  // the x177/x159 battery parameters (their oracles are the check)
  val MinScoreK = 615000L
  val Quota = 700L
  val SeqLen = 256L
  val BloomBits: Long = 1L << 16
  val BloomK = 4
  val CosineThreshold = 0.30
  val HeadBudget = 250L
  val RaisedBudget = 900L
  val Batches = 4
  val ReArrivalOffset = 400000001L

  final case class Inputs(
      curated: Seq[(Long, String, String, Array[Float])],
      head: Seq[(Long, Long, Long)],
      words: Array[Long])

  def prepare(spark: SparkSession, dir: String): Inputs = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val base = docs.join(Tables.embeddings(spark, dir), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("source"), col("text"), col("embedding"))
      .as[(Long, String, String, Array[Float])].collect().toSeq
    val curated = base ++ base.collect {
      case (i, s, t, v) if i % 10 == 3 => (i + ReArrivalOffset, s, t, v)
    }
    val words = StreamingDecontaminate.bloomWords(docs.filter(col("doc_id") % 97 === 0),
      n = 13, bits = BloomBits, k = BloomK)
    val head = docs.select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")) * 1000000, 0).cast("long").as("score_k"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .as[(Long, Long, Long)].collect().toSeq
    Inputs(curated, head, words)
  }

  def run(spark: SparkSession, inputs: String, work: String, out: String,
      seconds: Double, rec: Recorder): WorkloadRun = {
    import spark.implicits._
    val setups = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      val in = prepare(spark, inputs)
      ((System.nanoTime() - t0) / 1e9, in)
    }
    val in = setups.last._2
    val curatedBy = (0 until Batches).map(b => in.curated.filter(_._1 % Batches == b))
    val headBy = (0 until Batches).map(b => in.head.filter(_._1 % Batches == b))
    val fedPerSource = in.curated.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val failures = mutable.ArrayBuffer.empty[String]
    val stateStats = mutable.ArrayBuffer.empty[(Double, Double)]
    val outputs = Seq("x177_stream_dedup_stack_funnel", "x159_stream_dynamic_budget_head")
      .map(_ -> mutable.ArrayBuffer.empty[String]).toMap

    def curatedFrame(b: Int): DataFrame =
      curatedBy(b).toDF("doc_id", "source", "text", "embedding")
    def headFrame(b: Int): DataFrame = headBy(b).toDF("doc_id", "score_k", "n_tokens")

    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      val state = Paths.get(work, "state", s"pass$pass")
      val curatedPath = state.resolve("curated").toString
      val headPath = state.resolve("head").toString
      val passOps = (0 until Batches).map { b =>
        val (op, _) = rec.op("batch") {
          rec.span("streaming.curated_fold_ms") {
            StreamingCuratedPack.foldBatch(curatedFrame(b), b.toLong, curatedPath, in.words,
              minScoreK = MinScoreK, quota = Quota, seqLen = SeqLen, numShards = 4,
              bloomBits = BloomBits, bloomK = BloomK,
              dedupExact = true, dedupNear = true, dedupSem = true,
              semThreshold = CosineThreshold, semPlanes = Similarity.SemPlanes,
              semMaxBucket = Similarity.SemMaxBucket)
          }
          rec.span("streaming.quality_head_fold_ms") {
            StreamingQualityHead.foldBatch(headFrame(b), b.toLong, headPath,
              if (b < 2) HeadBudget else RaisedBudget)
          }
        }
        op.items = curatedBy(b).size + headBy(b).size
        op.pass = pass
        if (rec.traced) probeExt(spark, curatedFrame(b), in.words, op, rec)
        op
      }
      // end-state checks, outside the timed ops
      val problems = mutable.ArrayBuffer.empty[String]
      if (passOps.forall(_.ok)) {
        val funnel = StreamingCuratedPack.funnel(spark, curatedPath)
        problems ++= conservation(funnel, fedPerSource)
        val lifecycle = StreamingQualityHead.lifecycle(spark, headPath)
          .select(col("id").as("doc_id"), col("arrival_batch"),
            col("score").as("score_k"), col("tokens").as("n_tokens"),
            col("admit"), col("n_evictions"), col("n_readmissions"), col("admitted"))
        val nLife = lifecycle.count()
        if (nLife != in.head.size)
          problems += s"quality head ledgers $nLife arrivals, fed ${in.head.size}"
        Seq("x177_stream_dedup_stack_funnel" -> funnel.orderBy("source"),
          "x159_stream_dynamic_budget_head" -> lifecycle.orderBy("doc_id")).foreach {
          case (name, df) =>
            val dest = Paths.get(out, name, s"pass$pass").toString
            df.write.mode("overwrite").parquet(dest)
            outputs(name) += dest
        }
        if (rec.traced) stateStats += dirStats(state)
      } else problems += "a fold threw"
      if (problems.nonEmpty) {
        passOps.foreach(_.ok = false)
        failures ++= problems.map(p => s"pass $pass: $p")
      }
      deleteTree(state)
      pass += 1
    }
    WorkloadRun(setups.map(_._1), failures.toSeq,
      Map("passes" -> pass, "docs_per_pass" -> (in.curated.size + in.head.size)) ++
        (if (stateStats.isEmpty) Map.empty else Map(
          "streaming.state_bytes" -> Stats.median(stateStats.map(_._1).toSeq),
          "streaming.state_files" -> Stats.median(stateStats.map(_._2).toSeq))),
      covering = Set("streaming.curated_fold_ms", "streaming.quality_head_fold_ms"),
      oracle = outputs.view.mapValues(_.toSeq).toMap)
  }

  /** Arrivals equal admitted plus every drop, per source, and every drop
    * count is non-negative; arrivals equal what the benchmark fed. */
  private def conservation(funnel: DataFrame, fed: Map[String, Long]): Seq[String] = {
    val stages = Seq("n_clean", "n_quality_ok", "n_retired", "n_dup_content", "n_neardup",
      "n_semdup", "n_rearrived", "n_admitted", "n_quota_rejected")
    funnel.select((col("source") +: col("n_arrived") +: stages.map(col)): _*).collect().toSeq
      .flatMap { r =>
        val src = r.getString(0)
        val v = (1 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
        val arrived = v(0)
        val drops = Seq(arrived - v(1), v(1) - v(2)) ++ v.slice(3, 8)
        val admitted = v(8)
        val rejected = v(9)
        Seq(
          Option.when(arrived != fed.getOrElse(src, 0L))(
            s"$src: funnel arrivals $arrived, fed ${fed.getOrElse(src, 0L)}"),
          Option.when((drops :+ admitted :+ rejected).exists(_ < 0))(
            s"$src: negative funnel stage ${v.mkString(",")}"),
          Option.when(arrived != drops.sum + admitted + rejected)(
            s"$src: arrivals $arrived != admitted $admitted + drops ${drops.sum + rejected}")
        ).flatten
      }
  }

  /** Standalone calls of the decontamination, quality, dedup and pack
    * functions the composed fold uses, on the op's arrival batch. */
  private def probeExt(spark: SparkSession, batch: DataFrame, words: Array[Long],
      op: Op, rec: Recorder): Unit = {
    rec.probe("ext.decontaminate_ms", op) {
      StreamingDecontaminate.withBloomHits(batch, words, 13, BloomBits, BloomK)
        .select("doc_id", "n_bloom_hits").collect()
    }
    rec.probe("ext.quality_ms", op) {
      batch.select(TextAnalysis.qualityScore(col("text"))).collect()
    }
    rec.probe("ext.exact_dedup_ms", op) {
      batch.select(TextAnalysis.fingerprint(col("text"))).collect()
    }
    rec.probe("ext.minhash_ms", op)(Dedup.bandedSignatures(batch).collect())
    rec.probe("ext.semantic_ms", op) {
      batch.select(Similarity.bucketId(col("embedding"), Similarity.SemPlanes)).collect()
    }
    rec.probe("ext.pack_ms", op) {
      Packing.packChunked(batch.select(col("doc_id"), pmod(col("doc_id"), lit(4L)).as("shard"),
          col("doc_id").as("pos"), size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens")),
        SeqLen, Seq("shard")).collect()
    }
  }

  private def dirStats(root: Path): (Double, Double) = {
    val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    (files.map(Files.size(_).toDouble).sum, files.size.toDouble)
  }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
}
