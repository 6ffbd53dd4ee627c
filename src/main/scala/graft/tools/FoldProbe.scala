package graft.tools

import org.apache.spark.sql.functions._

/** Job-level anatomy of one streaming fold (optimization guide §1: find
  * where the wall actually goes before changing code).
  *
  * Usage: `runMain graft.tools.FoldProbe <fold> [master]`
  *  - `curated`: [[graft.streaming.StreamingCuratedPack]] on x177-shaped
  *    batches (exact, band and semantic dedup on);
  *  - `global`: the x150 shape through the one-group front
  *    [[graft.streaming.StreamingQualityHead]];
  *  - `group`: the x160 dynamic shape through
  *    [[graft.streaming.StreamingGroupQualityHead]], budgets raised at
  *    fold 2.
  *
  * Each fold's `foldBatch` (the public per-batch API the streaming sink
  * calls) runs directly on four batches from `SPARK_GRAFT_SF_DIR`
  * (default sf0.1). Fold 0 warms up (JIT, codegen, state bootstrap);
  * folds 1-3 run under one [[graft.obs.ExecutionProfile]], which prints
  * the jobs per fold, then every action (one SQL execution) with its
  * callsite, so each job maps back to a fold code line. The gap
  * between summed job wall and task time is scheduling plus plan and
  * serialization overhead: the per-action constant. Spark settings are
  * `-Dspark.*` properties ([[graft.Sessions]]), e.g.
  * `-Dspark.sql.adaptive.enabled=false`.
  *
  * The master defaults to `local[SPARK_GRAFT_CPUS]` (32). On a
  * `local-cluster[N,C,MB]` master the executors are separate processes,
  * where [[graft.streaming.StageCuts]] writes durable parquet cuts
  * instead of local checkpoints; the curated fold then prints the same
  * fragments hash as on `local[N]` when the cut is bit-exact. Those
  * executors load graft from a jar: `sbt package`, then
  * `SPARK_GRAFT_JAR=target/scala-2.13/<jar>`.
  */
object FoldProbe {
  def main(args: Array[String]): Unit = {
    val kind = args.headOption.getOrElse("curated")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions(s"graft-foldprobe-$kind", defaultCpus = 32,
      master = args.lift(1))
    sys.env.get("SPARK_GRAFT_JAR").foreach(spark.sparkContext.addJar)
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_foldprobe_")
      .toString

    val fold: Long => Unit = kind match {
      case "curated" =>
        val docs = graft.sources.Tables.documents(spark, sfDir)
          .join(graft.sources.Tables.embeddings(spark, sfDir),
            col("doc_id") === col("vec_id"))
          .select(col("doc_id"), col("source"), col("text"), col("embedding"))
          .as[(Long, String, String, Array[Float])].collect().toSeq
        val words = graft.streaming.StreamingDecontaminate.bloomWords(
          graft.sources.Tables.documents(spark, sfDir)
            .filter(col("doc_id") % 97 === 0), n = 13, bits = 1L << 16, k = 4)
        b => graft.streaming.StreamingCuratedPack.foldBatch(
          docs.filter(_._1 % 4 == b)
            .toDF("doc_id", "source", "text", "embedding"),
          b, path, words, minScoreK = 615000L, quota = 700L, seqLen = 256L,
          numShards = 4, bloomBits = 1L << 16, bloomK = 4,
          dedupExact = true, dedupNear = true, dedupSem = true,
          semThreshold = 0.30,
          semPlanes = graft.ext.Similarity.SemPlanes,
          semMaxBucket = graft.ext.Similarity.SemMaxBucket)
      case "global" | "group" =>
        val rows = graft.sources.Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("source"),
            round(graft.ext.TextAnalysis.qualityScore(col("text")) * 1000000, 0)
              .cast("long").as("score_k"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
          .as[(Long, String, Long, Long)].collect().toSeq
        def batch(b: Long) = rows.filter(r => (r._1 / 4) % 4 == b)
          .toDF("doc_id", "source", "score_k", "n_tokens")
        val avail = rows.groupBy(_._2).map { case (s, rs) => s -> rs.map(_._4).sum }
        if (kind == "global") b => graft.streaming.StreamingQualityHead.foldBatch(
          batch(b).select("doc_id", "score_k", "n_tokens"), b, path,
          budget = 60000L)
        else b => {
          val scale = if (b < 2L) 0.3 else 0.65
          graft.streaming.StreamingGroupQualityHead.foldBatch(batch(b), b, path,
            avail.map { case (s, t) => s -> (t * scale).toLong })
        }
      case other => sys.error(s"unknown fold '$other': curated, global or group")
    }

    fold(0L)
    val profile = graft.obs.ExecutionProfile.attach(spark)
    val t0 = System.nanoTime()
    for (b <- 1L to 3L) {
      val (j0, f0) = (profile.total.jobs, System.nanoTime())
      fold(b)
      println(f"foldprobe $kind fold=$b wall=${(System.nanoTime() - f0) / 1e9}%6.2f s " +
        s"jobs=${profile.total.jobs - j0}")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    profile.detach()
    println(f"foldprobe $kind folds=1..3 master=${spark.sparkContext.master} " +
      f"wall=$wall%6.2f s actions=${profile.byAction.size}")
    profile.report.foreach(println)
    if (kind == "curated") {
      // bit-exactness witness: the packed tape must not depend on the
      // master or the cut mode
      val frag = graft.streaming.StreamingCuratedPack.fragments(spark, path)
        .select(concat_ws("|", col("id"), col("shard"), col("pos"),
          col("seq"), col("frag_start"), col("frag_len"), col("doc_off")))
        .as[String].collect().sorted
      val hash = java.security.MessageDigest.getInstance("SHA-256")
        .digest(frag.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
      println(s"foldprobe curated frags=${frag.length} hash=$hash")
    }
    spark.stop()
  }
}
