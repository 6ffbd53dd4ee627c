package graft.streaming

import graft.SparkSpec
import graft.ext.Packing
import org.apache.spark.sql.functions._

/** The composed curated-pack pipeline must equal the BATCH composition
  * over everything ingested in arrival order: bloom-clean set → quality
  * floor → per-source running quota → one packChunked pass. Replay of
  * any crash window is idempotent (each stage inherits its standalone
  * fold's discipline). */
class StreamingCuratedPackSpec extends SparkSpec {
  import spark.implicits._

  // fixture: 3 sources, some docs carrying a benchmark 13-gram run,
  // some below the quality floor, quotas that bite mid-stream
  private val bench = "alpha beta gamma delta epsilon zeta eta theta " +
    "iota kappa lambda mu nu"
  private def goodText(i: Long) =
    s"the quick brown fox jumps over the lazy dog near bank $i of the " +
      s"river and it was warm"
  private def junkText(i: Long) =
    s"zzzzzzzzzzzzzzzzzzzzzzzz!!!!!!!!!!?????....,,,, $i"
  private def doc(i: Long): (Long, String, String) = {
    val src = s"src${i % 3}"
    val text =
      if (i % 7 == 0) s"prefix $i $bench suffix"   // contaminated
      else if (i % 5 == 0) junkText(i)             // below quality floor
      else goodText(i)
    (i, src, text)
  }
  private def docsDf(ids: Seq[Long]) =
    ids.map(doc).toDF("doc_id", "source", "text")

  private lazy val words = StreamingDecontaminate.bloomWords(
    Seq((0L, bench)).toDF("doc_id", "text"))

  private val MinScoreK = 600000L
  private val Quota = 120L
  private val SeqLen = 16L
  private val Shards = 2

  /** The batch composition in arrival (= batch, then id) order. */
  private def batchReference(
      batches: Seq[Seq[Long]]): Seq[(Long, Long, Long, Long, Long, Long, Long)] = {
    val arr = batches.zipWithIndex.flatMap { case (ids, b) =>
      ids.map(i => (i, b.toLong))
    }.toDF("doc_id", "ab")
    val all = docsDf(batches.flatten)
    val clean = StreamingDecontaminate.withBloomHits(all, words)
      .filter(col("n_bloom_hits") === 0L)
    val scored = clean.select(col("doc_id"), col("source"),
        round(graft.ext.TextAnalysis.qualityScore(col("text")) * 1000000, 0)
          .cast("long").as("score_k"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .filter(col("score_k") >= MinScoreK)
      .join(arr, Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("ab", "doc_id")
    val admitted = scored
      .withColumn("src_cum", sum(col("n_tokens")).over(w).cast("long"))
      .filter(col("src_cum") <= Quota)
      .select(col("doc_id"),
        pmod(graft.functions.HashExpressions.rolling_hash(
          concat(col("doc_id").cast("string"), lit(":ps"))),
          lit(Shards.toLong)).as("shard"),
        col("n_tokens"), col("ab"))
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("ab", "doc_id")
    val tape = admitted.filter(col("n_tokens") > 0)
      .withColumn("pos", row_number().over(wS).cast("long"))
      .select(lit(0L).as("epoch"), col("shard"), col("pos"),
        col("doc_id"), col("n_tokens"))
    Packing.packChunked(tape, SeqLen, Seq("shard"))
      .select(col("doc_id"), col("shard"), col("pos"), col("seq"),
        col("frag_start"), col("frag_len"), col("doc_off"))
      .as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq.sortBy(r => (r._1, r._4))
  }

  private def streamedFragments(path: String) =
    StreamingCuratedPack.fragments(spark, path)
      .select(col("id"), col("shard"), col("pos"), col("seq"),
        col("frag_start"), col("frag_len"), col("doc_off"))
      .as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq.sortBy(r => (r._1, r._4))

  private def fold(path: String, ids: Seq[Long], b: Long): Unit =
    StreamingCuratedPack.foldBatch(docsDf(ids), b, path, words,
      MinScoreK, Quota, SeqLen, Shards)

  test("fold-by-fold the composed fragments equal the batch composition; the funnel attributes every drop") {
    val path = java.nio.file.Files.createTempDirectory("graft_scp_").toString
    val batches = Seq((1L to 20L).toSeq, (21L to 40L).toSeq, (41L to 60L).toSeq)
    batches.zipWithIndex.foreach { case (ids, b) => fold(path, ids, b.toLong) }
    assert(streamedFragments(path) === batchReference(batches))
    assert(streamedFragments(path).nonEmpty, "fixture must actually pack")
    // the funnel: arrived = 60 total; contaminated (i%7==0, 8 ids) and
    // junk (i%5==0 minus overlaps) dropped before admission; every
    // quality-passed doc holds a verdict; admitted tokens within quota
    val f = StreamingCuratedPack.funnel(spark, path)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(f.values.map(_._2).sum === 60L, "every arrival counted")
    f.values.foreach { r =>
      assert(r._3 <= r._2, "clean <= arrived")
      assert(r._4 <= r._3, "quality_ok <= clean")
      assert(r._5 === 0L, "no retirement schedule → no retired drops")
      assert(r._6 === 0L, "no fp stage → no dup-content drops")
      assert(r._7 === 0L, "no band gate → no near-dup drops")
      assert(r._8 === 0L, "no semantic gate → no sem-dup drops")
      assert(r._9 === 0L, "no re-arrivals in this run")
      assert(r._4 === r._10 + r._11, "quality_ok = admitted + quota_rejected")
      assert(r._12 <= Quota, "admitted tokens within the quota")
    }
    assert(f.values.map(_._11).sum > 0L, "quota must actually bite")
    assert(f.values.map(_._2).sum > f.values.map(_._3).sum,
      "decontamination must actually drop")
    assert(f.values.map(_._3).sum > f.values.map(_._4).sum,
      "the quality floor must actually drop")
  }

  test("replaying the last fold (all stages committed) is a no-op; re-arrivals in a later batch are not re-packed or re-charged") {
    val path = java.nio.file.Files.createTempDirectory("graft_scp2_").toString
    fold(path, 1L to 20L, 0L)
    fold(path, 21L to 40L, 1L)
    val once = streamedFragments(path)
    val funnelOnce = StreamingCuratedPack.funnel(spark, path)
      .orderBy("source").collect().toSeq
    // crash after the stream processed batch 1 but before the offset
    // commit: the whole composed fold re-runs
    fold(path, 21L to 40L, 1L)
    assert(streamedFragments(path) === once,
      "replay must rewrite identical fragments, never duplicate")
    assert(StreamingCuratedPack.funnel(spark, path)
      .orderBy("source").collect().toSeq === funnelOnce,
      "replay must not double-count the funnel")
    // cross-batch re-arrival: already-verdicted docs no-op the quota
    // and the tape; the funnel books them as re-arrivals
    fold(path, 1L to 10L, 2L)
    assert(streamedFragments(path) === once)
    val f2 = StreamingCuratedPack.funnel(spark, path)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(f2.values.map(_._9).sum > 0L, "re-arrivals must be booked")
    assert(f2.values.map(_._6).sum === 0L,
      "id re-arrivals are NOT dup-content drops")
    assert(f2.values.map(_._2).sum === 50L)
  }

  test("whole-doc face: composed greedy assignments equal the batch composition in arrival order") {
    val path = java.nio.file.Files.createTempDirectory("graft_scp4_").toString
    val batches = Seq((1L to 20L).toSeq, (21L to 40L).toSeq)
    batches.zipWithIndex.foreach { case (ids, b) =>
      StreamingCuratedPack.foldBatch(docsDf(ids), b.toLong, path, words,
        MinScoreK, Quota, SeqLen, Shards, wholeDoc = true)
    }
    val streamed = StreamingCuratedPack.assignments(spark, path)
      .select(col("id"), col("shard"), col("pos"), col("bin"))
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // batch reference: same admission chain, then packGreedyOrdered over
    // the admitted tape in (arrival batch, id) order per shard
    val arr = batches.zipWithIndex.flatMap { case (ids, b) =>
      ids.map(i => (i, b.toLong)) }.toDF("doc_id", "ab")
    val all = docsDf(batches.flatten)
    val clean = StreamingDecontaminate.withBloomHits(all, words)
      .filter(col("n_bloom_hits") === 0L)
    val scored = clean.select(col("doc_id"), col("source"),
        round(graft.ext.TextAnalysis.qualityScore(col("text")) * 1000000, 0)
          .cast("long").as("score_k"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .filter(col("score_k") >= MinScoreK)
      .join(arr, Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("ab", "doc_id")
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("ab", "doc_id")
    val tape = scored
      .withColumn("src_cum", sum(col("n_tokens")).over(w).cast("long"))
      .filter(col("src_cum") <= Quota && col("n_tokens") > 0)
      .select(col("doc_id"),
        pmod(graft.functions.HashExpressions.rolling_hash(
          concat(col("doc_id").cast("string"), lit(":ps"))),
          lit(Shards.toLong)).as("shard"),
        col("n_tokens"), col("ab"))
      .withColumn("pos", row_number().over(wS).cast("long"))
      .select(lit(0L).as("epoch"), col("shard"), col("pos"),
        col("doc_id"), col("n_tokens"))
    val ref = Packing.packGreedyOrdered(spark, tape, SeqLen)
      .select(col("doc_id"), col("shard"), col("pos"), col("bin"))
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(streamed === ref)
    assert(streamed.nonEmpty, "fixture must actually pack bins")
  }

  test("exact-dedup stage: duplicate content never charges the quota or enters a tape twice; first ARRIVAL wins, not smallest id") {
    val path = java.nio.file.Files.createTempDirectory("graft_scp5_").toString
    def fold(ids: Seq[(Long, String, String)], b: Long): Unit =
      StreamingCuratedPack.foldBatch(ids.toDF("doc_id", "source", "text"),
        b, path, words, MinScoreK, Quota, SeqLen, Shards, dedupExact = true)
    // batch 0 carries doc 501 whose TEXT equals doc 1's (1 arrives
    // later) — the copy wins by arrival; batch 1 carries doc 601 whose
    // text equals doc 2's (2 arrived first) — the original wins
    val b0 = Seq((501L, "src1", goodText(1L)), doc(2L), doc(3L))
    val b1 = Seq(doc(1L), (601L, "src2", goodText(2L)), doc(4L))
    fold(b0, 0L); fold(b1, 1L)
    val packedIds = StreamingCuratedPack.fragments(spark, path)
      .select("id").as[Long].collect().toSet
    assert(packedIds.contains(501L) && !packedIds.contains(1L),
      "first ARRIVAL must win: the batch-0 copy keeps the fingerprint")
    assert(packedIds.contains(2L) && !packedIds.contains(601L),
      "an already-kept fingerprint must drop the later copy")
    // the quota was charged once per fingerprint: verdicts hold only
    // the kept representatives
    val verd = StreamingCuratedPack.verdicts(spark, path)
      .select("id").as[Long].collect().toSet
    assert(!verd.contains(1L) && !verd.contains(601L),
      "a dropped duplicate must never reach the quota gate")
    // replay of batch 1 (all stages + fp ledger committed) is a no-op
    val before = StreamingCuratedPack.fragments(spark, path)
      .orderBy("id", "seq").collect().toSeq
    fold(b1, 1L)
    assert(StreamingCuratedPack.fragments(spark, path)
      .orderBy("id", "seq").collect().toSeq === before)
  }

  test("near-dup band gate: first arrival wins per band bucket in both directions; only kept docs' bands are ledgered; the funnel books the drops") {
    val path = java.nio.file.Files.createTempDirectory("graft_scp6_").toString
    val BigQuota = 100000L
    def fold(rows: Seq[(Long, String, String)], b: Long): Unit =
      StreamingCuratedPack.foldBatch(rows.toDF("doc_id", "source", "text"),
        b, path, words, MinScoreK, BigQuota, SeqLen, Shards, dedupNear = true)
    // distinct high-quality sentences (no cross-collisions expected, but
    // the REFERENCE below decides — the test never assumes band fates)
    def uniqText(i: Long) = Seq(
      "a silver train crossed the valley before dawn while miners slept",
      "seven orange boats drifted past the harbor wall in heavy rain",
      "the old library kept maps of rivers that no longer exist today",
      "two gardeners argued about roses while the kettle boiled over",
      "every winter the village carved lanterns from ice on the lake")(
      (i % 5).toInt) + s" tag $i"
    val b0 = Seq((701L, "src1", uniqText(0)), // copy arrives FIRST...
      (3L, "src0", uniqText(3)), (6L, "src0", uniqText(1)),
      (801L, "src2", uniqText(2)), (802L, "src2", uniqText(2))) // in-batch pair
    val b1 = Seq((5L, "src1", uniqText(0)), //  ...original arrives later
      (702L, "src0", uniqText(1)), // copy of 6 arrives AFTER — drops
      (9L, "src2", uniqText(4)))
    val batches = Seq(b0, b1)
    batches.zipWithIndex.foreach { case (rows, b) => fold(rows, b.toLong) }
    // independent replay of the gate contract: per batch, survivors have
    // no band in the kept-band ledger; kept docs are the min id of every
    // bucket they occupy among the batch's survivors; ledger absorbs
    // kept docs' bands only
    var ledger = Set.empty[Long]
    var keptRef = Set.empty[Long]
    batches.foreach { rows =>
      val df = rows.toDF("doc_id", "source", "text")
      val clean = StreamingDecontaminate.withBloomHits(df, words)
        .filter(col("n_bloom_hits") === 0L)
        .filter(round(graft.ext.TextAnalysis.qualityScore(col("text")) * 1000000, 0)
          .cast("long") >= MinScoreK)
      val bands = graft.ext.Dedup.bandedSignatures(clean)
        .select(col("id"), (col("band").cast("long") *
          lit(graft.ext.TextAnalysis.HashMod) + col("band_key")).as("bkey"))
        .as[(Long, Long)].collect()
        .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
      val surv = bands.keySet.filter(id => bands(id).intersect(ledger).isEmpty)
      val bucketMin = surv.toSeq.flatMap(id => bands(id).map(_ -> id))
        .groupBy(_._1).map { case (bk, xs) => bk -> xs.map(_._2).min }
      val keptB = surv.filter(id => bands(id).forall(bk => bucketMin(bk) == id))
      keptRef ++= keptB
      ledger ++= keptB.flatMap(bands)
    }
    val verdIds = StreamingCuratedPack.verdicts(spark, path)
      .select("id").as[Long].collect().toSet
    assert(verdIds === keptRef, "the gate must match its contract replay")
    // the fixture's directional guarantees (identical text = every band
    // collides, so these fates are forced, not probabilistic)
    assert(verdIds.contains(701L) && !verdIds.contains(5L),
      "copy-first: the batch-0 copy keeps the buckets, the original drops")
    assert(verdIds.contains(6L) && !verdIds.contains(702L),
      "original-first: the later copy drops")
    assert(verdIds.contains(801L) && !verdIds.contains(802L),
      "within a batch the min id wins its buckets")
    // funnel attribution: every gate drop lands in n_neardup, nothing
    // in n_dup_content (no fp stage), n_semdup (no semantic gate), or
    // n_rearrived (no id re-delivery)
    val f = StreamingCuratedPack.funnel(spark, path)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    val qualityOkTotal = f.values.map(_._4).sum
    assert(f.values.map(_._5).sum === 0L)
    assert(f.values.map(_._6).sum === 0L)
    assert(f.values.map(_._7).sum === qualityOkTotal - keptRef.size,
      "every quality-passed doc the gate dropped is booked as n_neardup")
    assert(f.values.map(_._7).sum >= 3L, "the fixture must actually drop")
    assert(f.values.map(_._8).sum === 0L)
    assert(f.values.map(_._9).sum === 0L)
    // replay of the last fold (band ledger committed) is a no-op
    val before = streamedFragments(path)
    fold(b1, 1L)
    assert(streamedFragments(path) === before)
    assert(StreamingCuratedPack.verdicts(spark, path)
      .select("id").as[Long].collect().toSet === verdIds,
      "replay must not re-gate or duplicate verdicts")
  }

  test("semantic gate: first arrival wins per embedding neighborhood in both directions; only kept vectors are ledgered; over-cap buckets admit; the funnel books the drops") {
    val path = java.nio.file.Files.createTempDirectory("graft_scp8_").toString
    val BigQuota = 100000L
    val Planes = 16
    val Thr = 0.30
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(d => (((seed * 31 + d * 17) % 97) - 48) / 48.0f)
    // positive scaling preserves every hyperplane sign → identical SRP
    // signature (Hamming 0, so the collision is FORCED, not
    // probabilistic) while the bytes differ; cosine ≈ 1 ≥ the threshold
    def near(v: Array[Float]): Array[Float] = v.map(_ * 0.75f)
    def fold(rows: Seq[(Long, String, String, Array[Float])], b: Long,
        cap: Int = 1000, p: String = path): Unit =
      StreamingCuratedPack.foldBatch(
        rows.toDF("doc_id", "source", "text", "embedding"),
        b, p, words, MinScoreK, BigQuota, SeqLen, Shards,
        dedupSem = true, semThreshold = Thr, semMaxBucket = cap)
    val b0 = Seq(
      (901L, "src1", goodText(901L), vec(0)),        // copy arrives FIRST...
      (3L, "src0", goodText(3L), vec(3)),
      (6L, "src0", goodText(6L), vec(6)),
      (802L, "src2", goodText(802L), vec(8)),
      (803L, "src2", goodText(803L), near(vec(8))))  // in-batch pair: min id wins
    val b1 = Seq(
      (5L, "src1", goodText(5L), near(vec(0))),      // ...original arrives later
      (702L, "src0", goodText(702L), near(vec(6))),  // copy of 6 arrives AFTER — drops
      (9L, "src2", goodText(9L), vec(9)))
    val batches = Seq(b0, b1)
    batches.zipWithIndex.foreach { case (rows, b) => fold(rows, b.toLong) }
    // independent replay of the gate contract: per batch, a doc drops
    // iff a kept doc within Hamming ≤ 1 of its signature verifies at
    // cosine ≥ threshold (cross-batch), or a lower-id survivor of its
    // own batch does (within-batch, conservative chains); ledger
    // absorbs kept docs' (signature, vector) rows only
    val allRows = batches.flatten
    val sigMap = allRows.toDF("doc_id", "source", "text", "embedding")
      .select(col("doc_id"),
        graft.ext.Similarity.bucketId(col("embedding"), Planes).as("sig"))
      .as[(Long, Long)].collect().toMap
    val vecMap = allRows.map(r => r._1 -> r._4).toMap
    def probes(id: Long): Set[Long] =
      Set(sigMap(id)) ++ (0 until Planes).map(j => sigMap(id) ^ (1L << j))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    var ledger = Map.empty[Long, Seq[Long]] // bucket -> kept ids
    var keptRef = Set.empty[Long]
    batches.foreach { rows =>
      val ids = rows.map(_._1)
      val surv = ids.filter { id =>
        !probes(id).exists(bk => ledger.getOrElse(bk, Nil)
          .exists(k => cos(vecMap(id), vecMap(k)) >= Thr))
      }
      val keptB = surv.filter { id =>
        !surv.exists(o => o < id && probes(id).contains(sigMap(o)) &&
          cos(vecMap(id), vecMap(o)) >= Thr)
      }
      keptRef ++= keptB
      keptB.foreach(k =>
        ledger += sigMap(k) -> (ledger.getOrElse(sigMap(k), Nil) :+ k))
    }
    val verdIds = StreamingCuratedPack.verdicts(spark, path)
      .select("id").as[Long].collect().toSet
    assert(verdIds === keptRef, "the gate must match its contract replay")
    // directional guarantees (scaled vectors: Hamming 0, cosine ≈ 1 —
    // forced fates)
    assert(verdIds.contains(901L) && !verdIds.contains(5L),
      "copy-first: the batch-0 copy keeps the neighborhood, the original drops")
    assert(verdIds.contains(6L) && !verdIds.contains(702L),
      "original-first: the later copy drops")
    assert(verdIds.contains(802L) && !verdIds.contains(803L),
      "within a batch the min id wins its neighborhood")
    // funnel attribution: every gate drop lands in n_semdup
    val f = StreamingCuratedPack.funnel(spark, path)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    val qualityOkTotal = f.values.map(_._4).sum
    assert(f.values.map(_._5).sum === 0L, "no retirement schedule")
    assert(f.values.map(_._6).sum === 0L, "no fp stage")
    assert(f.values.map(_._7).sum === 0L, "no band gate")
    assert(f.values.map(_._8).sum === qualityOkTotal - keptRef.size,
      "every quality-passed doc the gate dropped is booked as n_semdup")
    assert(f.values.map(_._8).sum >= 3L, "the fixture must actually drop")
    assert(f.values.map(_._9).sum === 0L, "no id re-delivery")
    // replay of the last fold (vector ledger committed) is a no-op
    val before = streamedFragments(path)
    fold(b1, 1L)
    assert(streamedFragments(path) === before)
    assert(StreamingCuratedPack.verdicts(spark, path)
      .select("id").as[Long].collect().toSet === verdIds,
      "replay must not re-gate or duplicate verdicts")
    // the cap skips (admits) over-populated buckets: with semMaxBucket=0
    // every bucket is over cap, so even a bit-identical vector is kept
    val capPath = java.nio.file.Files.createTempDirectory("graft_scp8c_").toString
    fold(Seq((1L, "src0", goodText(1L), vec(0))), 0L, cap = 0, p = capPath)
    fold(Seq((2L, "src0", goodText(2L), vec(0))), 1L, cap = 0, p = capPath)
    assert(StreamingCuratedPack.verdicts(spark, capPath)
      .select("id").as[Long].collect().toSet === Set(1L, 2L),
      "an over-cap bucket is skipped, never revoked: both copies admit")
  }

  test("scheduled source retirement: drain-and-freeze — the retired source stops admitting at its fold, its packed prefix stays frozen, the funnel books the drops") {
    val path = java.nio.file.Files.createTempDirectory("graft_scp9_").toString
    // src1 (ids ≡ 1 mod 3) retires at fold 1
    val sched = Map("src1" -> 1L)
    val batches = Seq((1L to 20L).toSeq, (21L to 40L).toSeq, (41L to 60L).toSeq)
    batches.zipWithIndex.foreach { case (ids, b) =>
      StreamingCuratedPack.foldBatch(docsDf(ids), b.toLong, path, words,
        MinScoreK, Quota, SeqLen, Shards, retireSchedule = sched)
    }
    // reference: the batch composition with src1's post-retirement
    // arrivals removed BEFORE the quota window (they drop pre-verdict)
    val refBatches = batches.zipWithIndex.map { case (ids, b) =>
      if (b < 1) ids else ids.filterNot(_ % 3 == 1)
    }
    assert(streamedFragments(path) === batchReference(refBatches),
      "retirement must equal the batch composition over the drained input")
    // the pre-retirement prefix is frozen: src1 docs packed in fold 0
    // are still in the tape
    val packedSrc1 = StreamingCuratedPack.fragments(spark, path)
      .filter(col("id") % 3 === 1).select("id").as[Long].collect().toSet
    assert(packedSrc1.nonEmpty && packedSrc1.forall(_ <= 20L),
      "the retired source's fold-0 tape prefix stays frozen; nothing later enters")
    // funnel: src1's post-retirement quality-passed arrivals are booked
    // as n_retired; its verdict counts are frozen at the fold-0 state
    val f = StreamingCuratedPack.funnel(spark, path)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(f("src1")._5 > 0L, "retired drops must be booked")
    assert(f("src1")._4 === f("src1")._5 + f("src1")._10 + f("src1")._11,
      "retired + admitted + quota_rejected account every quality-passed src1 doc")
    assert(f.filterKeys(_ != "src1").values.map(_._5).sum === 0L,
      "live sources book no retired drops")
    // replay of the last fold is a no-op under the schedule
    val before = streamedFragments(path)
    StreamingCuratedPack.foldBatch(docsDf(batches(2)), 2L, path, words,
      MinScoreK, Quota, SeqLen, Shards, retireSchedule = sched)
    assert(streamedFragments(path) === before)
  }

  test("quota retarget (epoch'd tapes): the pre-raise tape is byte-identical to the no-raise run; epoch 1 opens fresh accounting; cross-epoch re-arrivals never re-charge; layout mixing fails loud") {
    val flat = java.nio.file.Files.createTempDirectory("graft_scp7a_").toString
    val ep = java.nio.file.Files.createTempDirectory("graft_scp7b_").toString
    val Raised = Quota * 10
    val sched = QuotaSchedule.retargets((0L, Quota), (2L, Raised))
    def foldSched(path: String, ids: Seq[Long], b: Long): Unit =
      StreamingCuratedPack.foldBatch(docsDf(ids), b, path, words,
        MinScoreK, sched, SeqLen, Shards)
    // the no-raise run: folds 0-1 under the base quota (flat layout)
    fold(flat, 1L to 20L, 0L); fold(flat, 21L to 40L, 1L)
    // the scheduled run: identical folds 0-1, raise lands at fold 2
    foldSched(ep, 1L to 20L, 0L); foldSched(ep, 21L to 40L, 1L)
    def epochFrags(e: Long) = StreamingCuratedPack.fragmentsEpoched(spark, ep)
      .filter(col("epoch") === e)
      .select(col("id"), col("shard"), col("pos"), col("seq"),
        col("frag_start"), col("frag_len"), col("doc_off"))
      .as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq.sortBy(r => (r._1, r._4))
    val preRaise = epochFrags(0L)
    assert(preRaise === streamedFragments(flat),
      "pre-raise the scheduled tape must equal the no-raise run byte for byte")
    // folds 2-3 under the raise; fold 2 re-delivers ids 1-10 (verdicted
    // or quality-dropped in epoch 0 — either way they must not re-enter)
    foldSched(ep, (41L to 60L) ++ (1L to 10L), 2L)
    foldSched(ep, 61L to 70L, 3L)
    assert(epochFrags(0L) === preRaise,
      "a closed epoch's fragments are immutable forever")
    val v = StreamingCuratedPack.verdictsEpoched(spark, ep)
      .select(col("epoch"), col("id"), col("src_cum"), col("admitted"))
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    val e1 = v.filter(_._1 == 1L)
    assert(e1.nonEmpty, "the raise epoch must admit")
    assert(e1.forall(_._2 >= 41L),
      "no epoch-0 doc (or its re-delivery) may hold an epoch-1 verdict")
    assert(e1.filter(_._4).map(_._3).max > Quota,
      "fresh accounting must actually use the raised headroom")
    assert(e1.forall(r => !r._4 || r._3 <= Raised))
    // layout guards, both directions
    intercept[IllegalStateException] {
      fold(ep, 71L to 75L, 4L) // single-quota fold over an epoch'd tree
    }
    intercept[IllegalStateException] {
      foldSched(flat, 71L to 75L, 2L) // scheduled fold over a flat tree
    }
  }

  test("per-source budgets: a pinned source admits against its OWN quota, the rest against the epoch default; a per-source retarget closes the epoch like a scalar one") {
    val path = java.nio.file.Files.createTempDirectory("graft_scp9_").toString
    // epoch 0: src0 pinned LOW (bites immediately), src1 pinned HIGH
    // (never bites here), src2 on the default; fold-2 retarget re-pins
    // src0 high — its epoch-1 accounting restarts under the new budget
    val sched = QuotaSchedule(Seq(
      (0L, Map("src0" -> 30L, "src1" -> 100000L), Quota),
      (2L, Map("src0" -> 100000L), Quota)))
    def foldPS(ids: Seq[Long], b: Long): Unit =
      StreamingCuratedPack.foldBatch(docsDf(ids), b, path, words,
        MinScoreK, sched, SeqLen, Shards)
    val batches = Seq(1L to 20L, 21L to 40L, 41L to 60L, 61L to 80L)
    batches.zipWithIndex.foreach { case (ids, b) => foldPS(ids, b.toLong) }
    def budget(epoch: Long, src: String): Long = {
      val (_, m, d) = sched.entries(epoch.toInt)
      m.getOrElse(src, d)
    }
    val v = StreamingCuratedPack.verdictsEpoched(spark, path)
      .select(col("epoch"), col("id"), col("group"), col("src_cum"),
        col("admitted"))
      .as[(Long, Long, String, Long, Boolean)].collect().toSeq
    assert(v.nonEmpty)
    // every verdict equals the per-source threshold rule for its epoch
    v.foreach { case (e, id, g, cum, adm) =>
      assert(adm === (cum <= budget(e, g)),
        s"doc $id ($g, epoch $e): src_cum=$cum vs budget=${budget(e, g)}")
    }
    // the pinned-low source must actually reject in epoch 0 AND admit
    // past its old cap in epoch 1 (fresh accounting under the re-pin)
    assert(v.exists(r => r._1 == 0L && r._3 == "src0" && !r._5),
      "src0 must reject against its own low epoch-0 budget")
    assert(v.exists(r => r._1 == 0L && r._3 == "src2" && r._5),
      "a default source must admit where the pinned one rejects")
    assert(v.filter(r => r._1 == 1L && r._3 == "src0" && r._5)
      .map(_._4).max > 30L,
      "the retarget must open fresh headroom for the re-pinned source")
    // the funnel books per-source rejections coherently with verdicts
    val f = StreamingCuratedPack.funnel(spark, path)
      .select(col("source"), col("n_admitted"), col("n_quota_rejected"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    Seq("src0", "src1", "src2").foreach { s =>
      assert(f(s)._1 === v.count(r => r._3 == s && r._5))
      assert(f(s)._2 === v.count(r => r._3 == s && !r._5))
    }
  }

  test("epoch'd whole-doc tapes: pre-raise greedy bins equal the flat wholeDoc run; the closed epoch is immutable; epoch 1 restarts bins and positions") {
    val flat = java.nio.file.Files.createTempDirectory("graft_scpA_").toString
    val ep = java.nio.file.Files.createTempDirectory("graft_scpB_").toString
    val sched = QuotaSchedule.retargets((0L, Quota), (2L, Quota * 10))
    def foldFlat(ids: Seq[Long], b: Long): Unit =
      StreamingCuratedPack.foldBatch(docsDf(ids), b, flat, words,
        MinScoreK, Quota, SeqLen, Shards, wholeDoc = true)
    def foldEp(ids: Seq[Long], b: Long): Unit =
      StreamingCuratedPack.foldBatch(docsDf(ids), b, ep, words,
        MinScoreK, sched, SeqLen, Shards, wholeDoc = true)
    foldFlat(1L to 20L, 0L); foldFlat(21L to 40L, 1L)
    foldEp(1L to 20L, 0L); foldEp(21L to 40L, 1L)
    def epochBins(e: Long) =
      StreamingCuratedPack.assignmentsEpoched(spark, ep)
        .filter(col("epoch") === e)
        .select(col("id"), col("shard"), col("pos"), col("bin"),
          col("n_tokens"))
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val pre = epochBins(0L)
    assert(pre === StreamingCuratedPack.assignments(spark, flat)
      .select(col("id"), col("shard"), col("pos"), col("bin"),
        col("n_tokens"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1),
      "pre-raise the epoch'd greedy tape must equal the flat wholeDoc run")
    foldEp(41L to 60L, 2L); foldEp(61L to 80L, 3L)
    assert(epochBins(0L) === pre,
      "a closed epoch's bin assignments are immutable forever")
    val e1 = epochBins(1L)
    assert(e1.nonEmpty && e1.forall(_._1 >= 41L))
    // a new tape: every shard's positions restart at 1, bins at 0
    e1.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).min === 1L)
      assert(rows.map(_._4).min === 0L)
    }
  }

  test("crash INSIDE the composed fold (admission committed, pack not) replays to the identical end state") {
    val path = java.nio.file.Files.createTempDirectory("graft_scp3_").toString
    fold(path, 1L to 20L, 0L)
    val once = streamedFragments(path)
    fold(path, 21L to 40L, 1L)
    val twice = streamedFragments(path)
    // simulate the window: batch 1's pack output vanishes (the fold
    // died between the admission write and the pack write); admission's
    // batch=1 verdicts stay durable
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(s"$path/pack/frags/batch=1"))
    assert(streamedFragments(path) === once, "window state visible")
    fold(path, 21L to 40L, 1L)
    assert(streamedFragments(path) === twice,
      "replay must converge to the committed composition")
  }
}
