package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.language.implicitConversions

/**
 * The composed stream face of the end-to-end pipeline (x158's deployment
 * shape): raw document micro-batches → benchmark DECONTAMINATION →
 * quality/budget ADMISSION → concat-and-chunk PACKING, as ONE attached
 * foreachBatch sink behind one frontier — the LLM-data-pipeline analog
 * of the reference's composed collect→evaluate→act loop
 * (`src/main/scala/TrinoAutoscaler.scala:24-32` composes fetch, metric
 * evaluation, and the resize action into the one poll loop a deployment
 * actually runs; here the stages a trainer actually consumes compose
 * the same way). A trainer reads final sequences behind the frontier
 * while raw docs are still arriving.
 *
 * Stage choice — why the admission is the x142 QUOTA gate, not the x150
 * evictive head: a packed fragment is immutable the moment its fold
 * commits (that immutability is the whole train-behind-the-frontier
 * contract), so the admission feeding the packer must be MONOTONE —
 * verdicts that never revoke. The first-come per-source token quota is
 * exactly that; an evictive head would retroactively unpack evicted
 * docs. Quality enters as a score floor: a doc below `minScoreK` never
 * reaches the quota. (A deployment that wants best-of curation runs the
 * x150/x151 head UPSTREAM as its own stream and feeds this pipeline the
 * head's final epoch — the x152/x154 pattern.)
 *
 * Composition mechanics: each stage reuses its standalone fold verbatim
 * — [[StreamingBudgetAdmission.foldBatch]] then
 * [[StreamingPack.foldBatch]] — against sub-trees of one state
 * path, so every exactly-once/replay/compaction property is inherited,
 * not re-proven. The decontamination screen is the stateless
 * [[StreamingDecontaminate]] Bloom-literal probe (one codegen'd loop
 * per doc, no state store). The packer's input is the fold's OWN
 * committed admission slice (`admission/verdicts/batch=<id>`, filtered
 * to admitted) — deterministic under replay because the admission fold
 * truncates-and-rewrites it from a state view that excludes itself.
 *
 * State layout under `path/`:
 *  - `admission/` — a full [[StreamingBudgetAdmission]] tree (verdicts
 *    ledger + totals);
 *  - `pack/`      — a full [[StreamingPack]] tree: the concat-chunk
 *    layout, or under `wholeDoc` the whole-doc greedy bins;
 *  - `fp/batch=<id>` — (opt-in `dedupExact`) the exact-dedup content
 *    fingerprint ledger: one (fp, keeper id) row per fingerprint ever
 *    kept, first-arrival-wins; a [[LedgerState]] table bucketed by
 *    `pmod(fp, K)` so the guard prunes to the batch's own fp buckets;
 *  - `bands/batch=<id>` — (opt-in `dedupNear`) the near-dup gate's band
 *    ledger: one (bkey, keeper id) row per MinHash LSH band bucket a
 *    KEPT doc occupies ([[graft.ext.Dedup.bandedSignatures]], bkey =
 *    band·mod + band_key); a [[LedgerState]] table bucketed by
 *    `pmod(xxhash64(bkey), K)` so the gate prunes to the batch's own
 *    band buckets;
 *  - `sem/batch=<id>` — (opt-in `dedupSem`) the SEMANTIC near-dup
 *    gate's vector ledger: one (bucket, keeper id, vec) row per KEPT
 *    doc, `bucket` its sign-random-projection signature
 *    ([[graft.ext.Similarity.bucketId]], `semPlanes` hyperplane bits in
 *    one long — Charikar, STOC 2002); the kept VECTOR rides in the row
 *    because semantic identity, unlike a band key, needs an exact
 *    cosine verify against the candidate. A [[LedgerState]] table
 *    bucketed by `pmod(xxhash64(bucket), K)` so the gate prunes to the
 *    batch's own probe buckets;
 *  - `funnel/batch=<id>` — CUMULATIVE per-source stage counts after the
 *    fold (arrived → clean → quality_ok → retired →
 *    dup_content/neardup/semdup/rearrived → admitted/quota_rejected +
 *    admitted tokens): the
 *    observability sheet a data owner reads. Dimension-sized,
 *    generation-superseded, retention-pruned like the sub-streams'
 *    totals. The four "already represented / near-represented" drop
 *    modes are SEPARATE columns because they are different upstream
 *    problems: `n_dup_content` (same fingerprint — a re-crawl or
 *    re-post), `n_neardup` (band collision — boilerplate or
 *    templating), `n_semdup` (embedding-cosine collision — paraphrase
 *    or translation-layer duplication the lexical gates can't see),
 *    `n_rearrived` (same doc id re-delivered — an upstream delivery
 *    bug). A funnel written by an earlier layout unions in with the
 *    newer columns null; their cumulative counts restart at the
 *    migration fold (documented additive migration, the only kind the
 *    funnel permits).
 *
 * Semantic gate monotonicity (stage 2.7, `dedupSem`): the same
 * first-arrival-wins shape as the band gate, one level up the
 * representation stack — a doc is dropped iff some ALREADY-KEPT doc
 * within Hamming ≤ 1 of its SRP signature verifies at exact cosine ≥
 * `semThreshold` (cross-batch, against the vector ledger,
 * partition-pruned to the batch's probe buckets), or some LOWER-ID
 * cross-batch survivor of its own batch does (within-batch; a
 * micro-batch is one arrival instant, so the id is the deterministic
 * tiebreak). Only kept docs' (signature, vector) rows are ledgered, so
 * verdicts never revoke: keeping doc d can only DROP later arrivals.
 * Unlike the band gate, two KEPT docs may share a bucket (cosine below
 * the threshold) — monotonicity never needed bucket exclusivity, only
 * that the kept set grows append-only. Within-batch chains drop
 * conservatively exactly as in the band gate (A<B<C with A~B, B~C
 * drops both B and C even where a sequential scan would re-admit C);
 * the error side is duplicates dropped, never duplicates kept twice.
 * Cost shape: semantic identity requires an exact cosine VERIFY per
 * candidate (a band key needs none), so candidates here are genuine
 * pairs — bounded by `semMaxBucket`: a candidate pair whose
 * kept/earlier endpoint sits in an over-populated base bucket
 * (embedding boilerplate: collapsed clusters, zero vectors) is skipped
 * outright, the [[graft.ext.Similarity.cosineNearDups]] degenerate-
 * bucket rule. Skipping only ADMITS (never revokes), so the cap trades
 * recall for a hard per-doc bound of (semPlanes+1)·semMaxBucket
 * cosines; the ledger itself stays append-only and bounded-listed by
 * [[LedgerState]] regardless. Threshold choice: `semThreshold` defaults
 * to [[graft.ext.Similarity.SemThresholdDefault]] (0.85) — for iid
 * random d-dim vectors cosine concentrates at 0 with σ = 1/√d, so at
 * d = 64 a 0.30 screen (≈2.4σ) collides unrelated pairs at ~0.8% each
 * and a fresh doc expects ~0.008·n random partners against an n-vector
 * kept set (noise-dominated at scale); 0.85 (6.8σ) admits only genuine
 * paraphrase-layer duplication. The full derivation lives on the
 * constant; clustered test fixtures pass their own explicit threshold.
 *
 * Near-dup stage monotonicity (why the band gate CAN compose where the
 * CC keeper cannot): the gate keeps a doc iff EVERY one of its band
 * buckets is fresh — no band collides with an already-KEPT doc's
 * ledgered bands (cross-batch) and the doc is the minimum id of every
 * bucket it occupies among its own batch's cross-batch survivors
 * (within-batch; a micro-batch is one arrival instant, so the id is
 * the deterministic tiebreak). Only KEPT docs' bands enter the ledger.
 * Verdicts therefore never revoke: keeping doc d can only DROP later
 * arrivals, never unseat a kept one — and because keeping requires all
 * buckets fresh, no two kept docs ever share a bucket, so there is no
 * later arrival that could "merge" two kept near-dup clusters the way
 * a CC edge does (the x20 keeper's revocation mode). Collision CHAINS
 * within one batch drop conservatively (A<B<C with A–B and B–C
 * collisions drops both B and C even though a sequential scan would
 * re-admit C): the kept set is still pairwise band-independent, and
 * conservatism is the right side to err on for a gate whose drops are
 * near-duplicates by construction. Cross-batch, a doc colliding ONLY
 * with previously DROPPED docs' bands is kept — dropped docs are not
 * in the ledger. Cost shape: the gate never materializes candidate
 * PAIRS (no bucket self-join), so a degenerate hot bucket costs
 * O(bucket), not O(bucket²) — no bucket cap needed, unlike
 * [[graft.ext.Dedup.candidatePairs]].
 *
 * Equivalence contract (the x167 oracle): the accumulated fragments
 * equal the BATCH composition over everything ingested in arrival
 * order — bloom-clean set → score floor → per-source running-quota
 * window in (arrival batch, id) order → one closed-form
 * [[graft.ext.Packing.packChunked]] pass over the admitted set in the
 * same order.
 *
 * Quota retargets — EPOCH'D TAPES (a multi-entry [[QuotaSchedule]],
 * x173): a fixed quota cannot simply be raised mid-stream, because the
 * packer's train-behind-the-frontier contract depends on admission
 * verdicts never revoking and fragments never moving — a raise would
 * re-admit quota-rejected docs whose rejection the tape's consumers
 * already observed, and a cut would revoke admissions already packed.
 * The deployment-honest shape is a quota SCHEDULE `(startFold, quota)*`
 * (per-source quotas ride the same entries, x180): at each retarget
 * fold the current pack epoch CLOSES (its fragments are immutable
 * forever — the trainer keeps reading them) and the next epoch opens
 * under `admission/epoch=<e>/` + `pack/epoch=<e>/` with FRESH
 * per-source accounting (running totals restart at zero under the new
 * quota; positions/sequences restart — a new tape). The
 * monotone-tape argument then holds PER EPOCH, which is exactly the
 * granularity a trainer consumes ("this pack run used quota Q from
 * fold a to fold b"). Docs are never re-charged across epochs: a doc
 * id that holds a verdict in ANY earlier epoch is dropped before the
 * new epoch's gate (one bucket-pruned anti-join per prior epoch;
 * retargets are control-plane-rare, so the prior-epoch union stays a
 * handful of ledger views) and books as `n_rearrived`. Quota-REJECTED
 * docs of an old epoch do not resurrect either — they hold (negative)
 * verdicts, and the stream never re-delivers content it already
 * verdicted; a deployment that wants old rejects reconsidered under a
 * raise re-plans those ids into the stream, which is a data-owner
 * decision, not an engine default. The dedup ledgers (`fp/`, `bands/`)
 * are epoch-INDEPENDENT: duplicate content stays duplicate across a
 * retarget. The schedule is a pure function of batchId, so replay
 * re-derives the same epoch and quota deterministically; single-entry
 * schedules keep the flat legacy layout, and mixing the two layouts
 * under one path fails loud in both directions.
 */
object StreamingCuratedPack {

  // the same for every caller: the retained generations of the
  // sub-folds' totals and of the funnel, and the salt of the shard hash
  // (the oracles hash `doc_id || ':ps'`)
  private val RetainGenerations = 3
  private val ShardSalt = ":ps"

  /** Attach the composed sink over a raw stream carrying (`doc_id`,
    * `source`, `text`, and `embedding` under `dedupSem`); every argument
    * is [[foldBatch]]'s. */
  def attach(
      docs: DataFrame,
      path: String,
      bloomWords: Array[Long],
      minScoreK: Long,
      quota: QuotaSchedule,
      seqLen: Long,
      numShards: Int,
      bloomBits: Long = 1L << 16,
      bloomK: Int = 4,
      bucketK: Int = 64,
      compactEvery: Int = 16,
      wholeDoc: Boolean = false,
      dedupExact: Boolean = false,
      dedupNear: Boolean = false,
      dedupSem: Boolean = false,
      semThreshold: Double = graft.ext.Similarity.SemThresholdDefault,
      semPlanes: Int = graft.ext.Similarity.SemPlanes,
      semMaxBucket: Int = graft.ext.Similarity.SemMaxBucket,
      retireSchedule: Map[String, Long] = Map.empty): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, path, bloomWords, minScoreK, quota, seqLen,
          numShards, bloomBits, bloomK, bucketK, compactEvery, wholeDoc,
          dedupExact, dedupNear, dedupSem, semThreshold, semPlanes,
          semMaxBucket, retireSchedule)
      }

  /** Once-per-JVM warning guard for [[checkSemThreshold]]. */
  private val warnedSemMeta =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Semantic-threshold PROVENANCE: the gate's verdicts depend on
    * `semThreshold`, so a stream resuming over sem state built under a
    * DIFFERENT threshold applies a different collision rule than the
    * one that built the kept set — reachable by default-drift alone
    * since the default moved 0.30 → [[graft.ext.Similarity
    * .SemThresholdDefault]] (0.85) in r18 (docs that collided at 0.30
    * now pass). The first fold writes `_THRESHOLD` next to the sem
    * ledger (parquet ignores `_`-files); later folds compare and WARN
    * once per JVM on mismatch, keeping the ORIGINAL value in place (it
    * records what built the ledger). Pre-provenance state (no meta)
    * adopts the current threshold — nothing to compare against. The
    * check never alters results; callers who meant the change ignore
    * the warning, the rest re-plan or pass the original threshold. */
  private def checkSemThreshold(
      spark: SparkSession, tbl: String, threshold: Double): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$tbl/_THRESHOLD")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) {
      val in = fs.open(p)
      val prev =
        try scala.io.Source.fromInputStream(in).mkString.trim
        finally in.close()
      if (scala.util.Try(prev.toDouble).toOption
            .exists(d => math.abs(d - threshold) > 1e-9) &&
          warnedSemMeta.add(tbl))
        System.err.println(
          s"[graft] WARNING: sem ledger $tbl was built under " +
            s"semThreshold=$prev but this stream resumes with " +
            s"semThreshold=$threshold — the semantic gate now applies a " +
            "different collision rule than the one that built the kept " +
            "set. Pass the original threshold, or re-plan into a fresh " +
            "state path if the change is intentional.")
    } else {
      val out = fs.create(p, true)
      try out.write(threshold.toString.getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** One composed fold — public so replay (foreachBatch re-delivering
    * after any subset of the stages' writes committed) is directly
    * spec-testable.
    *  - `bloomWords` is the benchmark's dense Bloom bitset
    *    ([[StreamingDecontaminate.bloomWords]], built batch-side once;
    *    `bloomBits`/`bloomK` its shape), `minScoreK` the 1e-6-grid
    *    quality floor.
    *  - `quota` is the per-source token budget: a plain `Long` for one
    *    quota throughout, or a [[QuotaSchedule]]. The fold resolves its
    *    epoch and budgets from the schedule (a pure function of batchId
    *    — replay-deterministic), runs the admission and pack stages
    *    against the epoch's own sub-trees, and anti-joins prior epochs'
    *    verdict ids so a retarget never re-charges or re-packs content
    *    an earlier epoch already verdicted. A source named in the
    *    epoch's map is admitted against its OWN quota (x180), every
    *    other source against the entry's default; a retarget of any
    *    source's budget closes the epoch like a scalar one. Single-entry
    *    schedules use the flat layout (`admission/`, `pack/`).
    *  - `seqLen` and `numShards` (the tape count) shape the packer;
    *    `wholeDoc` selects it: the concat-chunk tape (default) or the
    *    whole-doc greedy bins of at most `seqLen` tokens (x170, x181;
    *    read with [[assignments]]).
    *  - `dedupExact`/`dedupNear`/`dedupSem` switch on the exact-content,
    *    MinHash band and semantic gates (the semantic gate reads the
    *    `embedding` column); `retireSchedule` maps a source to the fold
    *    it retires at. */
  def foldBatch(
      batch: DataFrame,
      batchId: Long,
      path: String,
      bloomWords: Array[Long],
      minScoreK: Long,
      quota: QuotaSchedule,
      seqLen: Long,
      numShards: Int,
      bloomBits: Long = 1L << 16,
      bloomK: Int = 4,
      bucketK: Int = 64,
      compactEvery: Int = 16,
      wholeDoc: Boolean = false,
      dedupExact: Boolean = false,
      dedupNear: Boolean = false,
      dedupSem: Boolean = false,
      semThreshold: Double = graft.ext.Similarity.SemThresholdDefault,
      semPlanes: Int = graft.ext.Similarity.SemPlanes,
      semMaxBucket: Int = graft.ext.Similarity.SemMaxBucket,
      retireSchedule: Map[String, Long] = Map.empty): Unit = {
    require(numShards > 0, "numShards must be positive")
    require(minScoreK >= 0, "minScoreK must be non-negative")
    require(semPlanes >= 1 && semPlanes <= 62,
      "semPlanes must fit a non-negative long signature")
    val layout =
      if (wholeDoc) StreamingPack.Greedy(seqLen) else StreamingPack.Chunk(seqLen)
    val epochIdx = quota.entries.lastIndexWhere(_._1 <= batchId)
    val (_, budgets, defaultQuota) = quota.entries(epochIdx)
    val epoched = quota.entries.size > 1
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      val admPath =
        if (epoched) s"$path/admission/epoch=$epochIdx" else s"$path/admission"
      val packPath =
        if (epoched) s"$path/pack/epoch=$epochIdx" else s"$path/pack"
      // layout guards, both directions: an epoch'd schedule over a flat
      // legacy tree (or vice versa) must fail loud, not silently fork a
      // second accounting next to history it cannot see
      if (epoched && StreamState.exists(spark, s"$path/admission/verdicts"))
        throw new IllegalStateException(
          s"$path/admission holds a flat (single-quota) layout but the " +
            "supplied quota schedule has retargets: drain and re-plan the " +
            "stream into a fresh state path, or keep a single-entry schedule")
      if (!epoched && StreamState.exists(spark, s"$path/admission/epoch=0"))
        throw new IllegalStateException(
          s"$path/admission holds an epoch'd layout but the supplied " +
            "schedule has a single entry: pass the full quota schedule " +
            "this stream was planned with")
      // ONE in-batch id dedup up front (representative = struct min, the
      // sub-folds' rule) so every stage — including the funnel counts —
      // sees the same one row per id and the attribution is coherent.
      // With the semantic gate on, the row's vector rides in the
      // representative struct (arrays of atomics are orderable, so the
      // min stays total and deterministic).
      val repFields = Seq(col("source").cast("string").as("grp"),
        col("text").cast("string").as("txt")) ++
        (if (dedupSem) Seq(col("embedding").as("vec")) else Nil)
      val uniqCols = Seq(col("doc_id").as("id"), col("_rep.grp").as("source"),
        col("_rep.txt").as("text")) ++
        (if (dedupSem) Seq(col("_rep.vec").as("vec")) else Nil)
      // cuts(...) on every deep stage output below: the composed fold
      // issues ~15 actions, and with a full dedup stack each action's
      // plan would carry the bloom probe + quality + fingerprint +
      // MinHash + SRP expression trees through Catalyst analysis AGAIN
      // (persist caches data, not analysis — measured ~50 s/run
      // driver-side on x177, more than its Spark job time). On local
      // masters the cut is an eager localCheckpoint (flat downstream
      // plans); on a CLUSTER it is a durable parquet cut into the
      // fold's `_stage` scratch — lineage-free AND loss-recoverable
      // (the mode table lives on [[StageCuts]]). The whole fold body
      // runs under try/finally so a throwing fold releases its tracked
      // blocks and scratch deterministically.
      val cuts = new StageCuts(spark, Some(s"$path/_stage"))
      // Overlap INDEPENDENT per-fold actions (optimization guide §2.6:
      // actions are only sequential because the driver calls them
      // sequentially): each gate's ledger write + maintenance consumes
      // only frames the downstream stages never mutate, and the pack
      // sub-fold and the funnel aggregation consume the same committed
      // verdict slice without ordering between them — so they run on a
      // small pool while the main thread advances the stage chain. The
      // fold AWAITS every future before it returns (the stream's commit
      // must cover all writes) and before cuts.release() (a Durable-mode
      // release deletes scratch a late job could still be reading).
      // Crash-safety: concurrency widens the reachable crash states from
      // prefixes of the writes to any subset of the in-flight ones;
      // replay is exact for every subset because every state read
      // excludes the fold's own batch and every write deterministically
      // truncates-and-rewrites its own dir (the argument on
      // [[FoldAsync]]). The funnel generation written below is not a
      // commit marker: it can land before this fold's ledger and pack
      // writes, and no reader treats funnel generation N as proof that
      // they are durable — the next fold's prior-funnel read and
      // `funnel` read the funnel alone.
      val async = new FoldAsync(spark, "curated-pack")
      var mainOk = false
      try {
      val uniq = cuts.track(batch.groupBy(col("doc_id"))
        .agg(min(struct(repFields: _*)).as("_rep"))
        .select(uniqCols: _*))
      // stage 1: the Bloom screen (stateless literal probe; zero false
      // negatives — no benchmark n-gram run slips through).
      val clean = cuts(StreamingDecontaminate.withBloomHits(
          uniq, bloomWords, bits = bloomBits, k = bloomK)
        .filter(col("n_bloom_hits") === 0L))
      // stage 2: quality score + token count, score floor (plus, when
      // stage 2.5 is on, the exact-dedup content fingerprint — the x05
      // portable rolling hash over normalized text)
      val scored = cuts(clean.select(
          (Seq(col("id"), col("source"),
            round(graft.ext.TextAnalysis.qualityScore(col("text")) * 1000000, 0)
              .cast("long").as("score_k"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens")) ++
           (if (dedupExact)
              Seq(graft.ext.TextAnalysis.fingerprint(col("text")).as("_fp"))
            else Nil)): _*))
      val qualityOk = scored.filter(col("score_k") >= minScoreK)
      // stage 2.4 (opt-in): scheduled source RETIREMENT — drain-and-
      // freeze, the composed-face mirror of the group head's x174
      // contract. A source retired at fold k stops admitting from that
      // fold on: its arrivals drop here, BEFORE any dedup ledger or the
      // quota (nothing of a retired source is ever "kept" again, so no
      // ledger row, no verdict, no tape entry) — while everything it
      // packed before fold k stays frozen in the immutable tape a
      // trainer keeps reading. The schedule is a pure function of
      // batchId (replay-deterministic), EXPLICIT per source — absence
      // from the schedule means live, so an accidental omission cannot
      // silently freeze a source (the x174 fail-loud rationale).
      // Retirement is terminal by construction: post-retirement
      // arrivals leave no ledger row, so "resuming" could only
      // resurrect the pre-retirement past — re-plan into a fresh path
      // instead.
      // Null-safe on source: under three-valued logic a bare
      // !isin(...) evaluates to null for a null-source row and the
      // filter would silently drop it (booked as n_retired) whenever
      // ANY schedule is present — contradicting "absence from the
      // schedule means live". coalesce(..., true) keeps a null-source
      // row's fate identical with and without a schedule.
      val retiredNow = retireSchedule.filter(_._2 <= batchId).keys.toSeq.sorted
      val active =
        if (retiredNow.isEmpty) qualityOk
        else qualityOk.filter(
          coalesce(!col("source").isin(retiredNow: _*), lit(true)))
      // stage 2.5 (opt-in): exact-content dedup, FIRST-ARRIVAL-WINS —
      // one representative per fingerprint per batch (min id), then the
      // cross-batch guard off the fp ledger (a [[LedgerState]] table
      // bucketed by pmod(fp, K), so the guard prunes to the batch's own
      // fp buckets). Duplicate content must never charge the quota or
      // enter a tape twice. Monotone by construction (a kept
      // fingerprint stays kept), like the band and semantic gates
      // below. The near-dup CC keeper is not — a later arrival can MERGE
      // two clusters whose keepers are both already packed, revoking a
      // verdict the immutable tape has consumed (the same argument that
      // picked the quota gate over the evictive head).
      val admInput =
        if (!dedupExact) active
        else {
          val tbl = s"$path/fp"
          val firstInBatch = active.groupBy(col("_fp"))
            .agg(min(struct(col("id"), col("source"), col("score_k"),
              col("n_tokens"))).as("_r"))
            .select(col("_fp"), col("_r.id").as("id"),
              col("_r.source").as("source"), col("_r.score_k").as("score_k"),
              col("_r.n_tokens").as("n_tokens"))
          // sidecar fast path: most fingerprints are fresh in steady
          // state — they miss every run's Bloom and anti-join only the
          // bounded increments; hits exact-scan their pruned buckets
          val fresh = LedgerState.antiJoinSeen(spark, tbl, batchId,
            firstInBatch, "_fp", "fp")
          val kept = cuts(fresh)
          async("fp ledger") {
            kept.select(col("_fp").as("fp"), col("id"))
              .write.mode("overwrite").parquet(s"$tbl/batch=$batchId")
            LedgerState.maintain(spark, tbl, batchId, idCol = "fp",
              bucketK = bucketK, compactEvery = compactEvery)
          }
          kept.drop("_fp")
        }
      // stage 2.6 (opt-in): the monotone near-dup gate — FIRST-ARRIVAL-
      // WINS per MinHash LSH band bucket. A doc is kept iff every one of
      // its band buckets is fresh: no band in the kept-band ledger
      // (cross-batch, partition-pruned to the batch's own buckets), and
      // the doc is the min id of every bucket it occupies among this
      // batch's cross-batch survivors. Only kept docs' bands are
      // ledgered — the monotonicity proof is in the class doc. No pair
      // join anywhere: hot buckets cost O(bucket), not O(bucket²).
      val gated =
        if (!dedupNear) admInput
        else {
          val tbl = s"$path/bands"
          val bandRows = cuts(graft.ext.Dedup.bandedSignatures(
              admInput.select(col("id")).join(uniq, Seq("id")),
              idCol = "id", textCol = "text")
            .select(col("id"),
              (col("band").cast("long") * lit(graft.ext.TextAnalysis.HashMod)
                + col("band_key")).as("bkey"))
            .distinct())
          // surv feeds two actions (survBands' materialization and the
          // kept cut): track() runs the cross-batch guard subtree once
          val surv = cuts.track(
            if (!StreamState.exists(spark, tbl)) admInput
            else {
              // the sidecar fast path matters MOST here: the gate emits
              // ~grid×bands keys per batch, which touch every hash
              // bucket and degraded the pruned read to a full scan of
              // the accumulated band ledger (the r17 curatedsoak's one
              // growing per-fold term) — fresh bands now prove
              // themselves against the run Blooms and read only the
              // bounded increments
              val hit = LedgerState.semiJoinSeen(spark, tbl, batchId,
                  bandRows, "bkey", "bkey")
                .select(col("id")).distinct()
              admInput.join(hit, Seq("id"), "left_anti")
            })
          // survBands and losers are each consumed by TWO actions (the
          // kept cut and the ledger write) — track() materializes the
          // semi-join + window subtree once instead of re-running it,
          // with its broadcast builds and AQE stage-jobs, in the write
          // action's plan (guide §5: persist when reused and
          // recomputation costs more than the memory)
          val survBands = cuts.track(
            bandRows.join(surv.select("id"), Seq("id"), "left_semi"))
          val losers = cuts.track(survBands
            .withColumn("_mn", min(col("id")).over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("bkey"))))
            .filter(col("id") =!= col("_mn")).select(col("id")).distinct())
          val kept = cuts(surv.join(losers, Seq("id"), "left_anti"))
          async("band ledger") {
            survBands.join(losers, Seq("id"), "left_anti")
              .select(col("bkey"), col("id"))
              .write.mode("overwrite").parquet(s"$tbl/batch=$batchId")
            LedgerState.maintain(spark, tbl, batchId, idCol = "bkey",
              bucketK = bucketK, compactEvery = compactEvery)
          }
          kept
        }
      // stage 2.7 (opt-in): the monotone SEMANTIC near-dup gate —
      // FIRST-ARRIVAL-WINS per embedding neighborhood. A doc drops iff
      // an already-KEPT doc within Hamming ≤ 1 of its SRP signature
      // verifies at exact cosine ≥ semThreshold (cross-batch, vector
      // ledger pruned to the batch's probe buckets), or a LOWER-ID
      // cross-batch survivor of its own batch does. Only kept docs'
      // (signature, vector) rows are ledgered — monotonicity proof in
      // the class doc. Candidates are genuine pairs (semantic identity
      // needs the cosine verify), so the kept/earlier endpoint's base
      // bucket is capped at semMaxBucket: degenerate buckets are
      // SKIPPED (admitting, never revoking) — the cosineNearDups rule.
      val semGated =
        if (!dedupSem) gated
        else {
          val tbl = s"$path/sem"
          val cosine = graft.functions.VectorFunctions.vec_cosine _
          val sigs = cuts(gated.select(col("id"))
            .join(uniq.select(col("id"), col("vec")), Seq("id"))
            .withColumn("sig",
              graft.ext.Similarity.bucketId(col("vec"), semPlanes)))
          def probeArr = array((col("sig") +: (0 until semPlanes).map(j =>
            col("sig").bitwiseXOR(lit(1L << j)))): _*)
          // per-probe candidate join against a ledger slice + the
          // over-cap exclusion (degenerate buckets admit outright)
          def hitIds(probes: DataFrame, lv: DataFrame): DataFrame = {
            val over = lv.groupBy("bucket").agg(count(lit(1)).as("_c"))
              .filter(col("_c") > semMaxBucket).select("bucket")
            probes
              .join(lv.join(broadcast(over), Seq("bucket"), "left_anti"),
                Seq("bucket"))
              .filter(cosine(col("vec"), col("_kvec")) >= semThreshold)
              .select(col("id"))
          }
          // surv feeds two actions (svSigs' materialization and the
          // kept cut): track() runs the probe + cosine-verify guard
          // subtree once instead of per consumer
          val surv = cuts.track(
            if (!StreamState.exists(spark, tbl)) gated
            else {
              val probed = sigs.select(col("id"), col("vec"),
                explode(probeArr).as("bucket"))
              // sidecar freshness split at per-run granularity
              // ([[LedgerState.seenProbe]]): a probe bucket missing
              // every live run's Bloom can only match increment rows;
              // a hitting bucket reads only the runs whose OWN sidecar
              // it hit, each pruned to the hit hash buckets. Per-bucket
              // ledger populations (the over-cap rule) are unchanged by
              // the split: a bucket's rows live exactly in the runs
              // whose sidecar it hits (no false negatives) plus the
              // increments, so the counts a probed bucket sees are the
              // full-view counts.
              val hit = LedgerState.seenProbe(spark, tbl, batchId,
                  probed.select(col("bucket")).distinct(), "bucket",
                  "bucket") match {
                case Some(sp) if sp.allFresh =>
                  // no probe bucket hits any run sidecar: the seen-view
                  // leg would filter(lit(false)) to empty — candidates
                  // can only live in the increments, one leg, half the
                  // plan (the never-compacted bench drains and no-hit
                  // steady-state folds take this every time)
                  hitIds(probed, sp.increments
                    .select(col("bucket"), col("vec").as("_kvec")))
                    .distinct()
                case Some(sp) =>
                  val lvM = sp.seenView
                    .select(col("bucket"), col("vec").as("_kvec"))
                  val lvI = sp.increments
                    .select(col("bucket"), col("vec").as("_kvec"))
                  hitIds(probed.filter(sp.mightSeen), lvM)
                    .unionByName(hitIds(probed.filter(!sp.mightSeen), lvI))
                    .distinct()
                case None =>
                  val prune = LedgerState.batchBuckets(spark, tbl, batchId,
                    probed.select(col("bucket")).distinct(), "bucket")
                  val lv = LedgerState.view(spark, tbl, batchId,
                      idCol = "bucket", idPrune = prune)
                    .select(col("bucket"), col("vec").as("_kvec"))
                  hitIds(probed, lv).distinct()
              }
              gated.join(hit, Seq("id"), "left_anti")
            })
          val svSigs = cuts.track(
            sigs.join(surv.select("id"), Seq("id"), "left_semi"))
          val overB = svSigs.groupBy(col("sig").as("bucket"))
            .agg(count(lit(1)).as("_c"))
            .filter(col("_c") > semMaxBucket).select("bucket")
          val lhs = svSigs.select(col("id").as("_ia"), col("vec").as("_va"),
            explode(probeArr).as("bucket"))
          val rhs = svSigs.select(col("sig").as("bucket"),
              col("id").as("_ib"), col("vec").as("_vb"))
            .join(broadcast(overB), Seq("bucket"), "left_anti")
          val losers = lhs.join(rhs, Seq("bucket"))
            .filter(col("_ia") > col("_ib"))
            .filter(cosine(col("_va"), col("_vb")) >= semThreshold)
            .select(col("_ia").as("id")).distinct()
          val kept = cuts(surv.join(losers, Seq("id"), "left_anti"))
          async("sem ledger") {
            svSigs.join(kept.select("id"), Seq("id"), "left_semi")
              .select(col("sig").as("bucket"), col("id"), col("vec"))
              .write.mode("overwrite").parquet(s"$tbl/batch=$batchId")
            LedgerState.maintain(spark, tbl, batchId, idCol = "bucket",
              bucketK = bucketK, compactEvery = compactEvery)
            checkSemThreshold(spark, tbl, semThreshold)
          }
          kept
        }
      // stage 2.8 (epoch'd schedules only): drop ids verdicted by ANY
      // earlier epoch — a retarget must never re-charge or re-pack
      // content history already accounted for. One bucket-pruned
      // anti-join per prior epoch; retargets are control-plane-rare, so
      // this union is a handful of frozen ledger views, not a scan that
      // grows with stream age.
      val deliverable =
        if (epochIdx == 0) semGated
        else (0 until epochIdx).foldLeft(semGated) { (df, pe) =>
          LedgerState.antiJoinSeen(spark,
            s"$path/admission/epoch=$pe/verdicts", batchId, df, "id")
        }
      // stage 3: the monotone per-source quota gate (its own fold —
      // ledgered verdicts, re-arrival guard, bucketed compaction);
      // sources named in the epoch's budget map admit against their own
      // quota, the rest against the epoch default
      StreamingBudgetAdmission.foldBatchBudgets(deliverable, batchId,
        admPath, budgets, defaultQuota, "id", "source", "n_tokens",
        RetainGenerations, bucketK, compactEvery)
      // stage 4: pack THIS fold's committed admission slice — the
      // admission fold truncates-and-rewrites its batch dir from a
      // self-excluding state view, so the slice is replay-deterministic;
      // absent dir = the whole batch was re-arrivals or empty
      val verdDir = s"$admPath/verdicts/batch=$batchId"
      val newVerdicts =
        if (StreamState.exists(spark, verdDir))
          cuts.track(spark.read.parquet(verdDir)
            .select(col("id"), col("group"), col("tokens"), col("admitted")))
        else null
      if (newVerdicts != null) {
        val admitted = newVerdicts.filter(col("admitted"))
          .select(col("id"),
            pmod(graft.functions.HashExpressions.rolling_hash(
              concat(col("id").cast("string"), lit(ShardSalt))),
              lit(numShards.toLong)).as("shard"),
            col("tokens").as("n_tokens"))
        // the pack sub-fold and the funnel aggregation below both
        // consume the persisted verdict slice and write disjoint state
        // sub-trees — no ordering between them, so the pack fold runs
        // concurrently while the main thread computes the funnel
        async("pack fold") {
          StreamingPack.foldBatch(admitted, batchId, packPath, layout, "id",
            RetainGenerations, bucketK, compactEvery)
        }
      }
      // the cumulative funnel: prior generation + this batch's deltas
      // (every frame here is batch- or dimension-sized). The five
      // distinct drop modes between the quality floor and the verdicts
      // get their own columns: n_retired (source retired by schedule),
      // n_dup_content (fingerprint already kept), n_neardup (band
      // bucket already kept), n_semdup (embedding-cosine collision with
      // a kept doc), n_rearrived (doc id already held a verdict — the
      // admission fold's guard). None of them are quota rejections.
      // ONE union + ONE aggregation instead of eight per-stage
      // aggregates stitched with seven broadcast joins: each stage
      // frame is already cut (flat scan), so tagging its (source, 1)
      // rows and conditional-summing per tag computes every column in
      // a single exchange with ZERO join builds. The old shape paid
      // ~15 sub-jobs for the funnel action alone (measured via
      // FoldProbe: 8 aggregate legs + their broadcast builds), pure
      // per-fold constant at any scale — optimization guide §2.4
      // (remove shuffles outright) + §3 (don't join what one pass can
      // aggregate). Row set is unchanged: every stage is a subset of
      // uniq's sources, and verdict groups come from deliverable ⊆
      // uniq, so grouping the union by source yields exactly uniq's
      // source set, with n_arrived non-null as before.
      def leg(df: DataFrame, stage: String): DataFrame =
        df.select(col("source"), lit(stage).as("_stage"), lit(1L).as("_w"))
      val legs = Seq(leg(uniq, "arr"), leg(clean, "cln"),
        leg(qualityOk, "qok"), leg(active, "ret"), leg(admInput, "fp"),
        leg(gated, "band"), leg(semGated, "sem")) ++
        (if (newVerdicts == null) Nil
         else Seq(
           newVerdicts.select(col("group").as("source"),
             when(col("admitted"), "adm").otherwise("rej").as("_stage"),
             lit(1L).as("_w")),
           newVerdicts.filter(col("admitted"))
             .select(col("group").as("source"), lit("tok").as("_stage"),
               col("tokens").cast("long").as("_w"))))
      def st(stage: String) =
        coalesce(sum(when(col("_stage") === stage, col("_w"))), lit(0L))
      val batchCounts = legs.reduce(_.unionByName(_))
        .groupBy(col("source"))
        .agg(
          sum(when(col("_stage") === "arr", col("_w"))).as("n_arrived"),
          st("cln").as("n_clean"),
          st("qok").as("n_quality_ok"),
          (st("qok") - st("ret")).as("n_retired"),
          (st("ret") - st("fp")).as("n_dup_content"),
          (st("fp") - st("band")).as("n_neardup"),
          (st("band") - st("sem")).as("n_semdup"),
          (st("sem") - st("adm") - st("rej")).as("n_rearrived"),
          st("adm").as("n_admitted"),
          st("rej").as("n_quota_rejected"),
          st("tok").as("tokens_admitted"))
      // prior funnel generation via ONE filesystem listing + direct
      // single-dir read (generation id = dir name; every generation <
      // batchId is complete) — no per-fold max-aggregation job
      val priorFunnel: DataFrame =
        StreamState.latestGeneration(spark, s"$path/funnel", batchId)
          .map(mx => spark.read.parquet(s"$path/funnel/batch=$mx"))
          .orNull
      // allowMissingColumns: a prior funnel written by the pre-split
      // layout lacks n_dup_content/n_neardup — the additive migration
      // fills null and the coalesced sums restart those two counters at
      // the migration fold (class doc)
      val funnel =
        if (priorFunnel == null) batchCounts
        else batchCounts.unionByName(priorFunnel, allowMissingColumns = true)
          .groupBy(col("source"))
          .agg(sum(col("n_arrived")).as("n_arrived"),
            sum(col("n_clean")).as("n_clean"),
            sum(col("n_quality_ok")).as("n_quality_ok"),
            coalesce(sum(col("n_retired")), lit(0L)).as("n_retired"),
            coalesce(sum(col("n_dup_content")), lit(0L)).as("n_dup_content"),
            coalesce(sum(col("n_neardup")), lit(0L)).as("n_neardup"),
            coalesce(sum(col("n_semdup")), lit(0L)).as("n_semdup"),
            sum(col("n_rearrived")).as("n_rearrived"),
            sum(col("n_admitted")).as("n_admitted"),
            sum(col("n_quota_rejected")).as("n_quota_rejected"),
            sum(col("tokens_admitted")).as("tokens_admitted"))
      funnel.write.mode("overwrite").parquet(s"$path/funnel/batch=$batchId")
      StreamState.pruneGenerations(spark, s"$path/funnel", RetainGenerations)
      mainOk = true
      // await-then-release in `finally`: every async write must land
      // before the fold returns (the stream's commit covers them) and
      // before release() (Durable mode deletes scratch a late job could
      // still read); a throwing fold must not leak its tracked blocks.
      // An async failure fails the fold exactly like a sync one — but
      // never masks the main path's own exception.
      } finally {
        val failures = async.shutdownAwait()
        cuts.release()
        if (mainOk) failures.headOption.foreach(t => throw t)
      }
      ()
    }
  }

  /** The accumulated packed fragments — must equal one batch
    * [[graft.ext.Packing.packChunked]] pass over the composed chain's
    * admitted set in arrival order. */
  def fragments(spark: SparkSession, path: String): DataFrame =
    StreamingPack.fragments(spark, s"$path/pack")

  /** The per-sequence trainer sheet over the composed output. */
  def seqSheet(spark: SparkSession, path: String, seqLen: Long): DataFrame =
    StreamingPack.seqSheet(spark, s"$path/pack", seqLen)

  /** The accumulated whole-doc bin assignments of a `wholeDoc` pipeline
    * — one [[graft.ext.Packing.packGreedyOrdered]] pass over the
    * composed chain's admitted set in arrival order. */
  def assignments(spark: SparkSession, path: String): DataFrame =
    StreamingPack.assignments(spark, s"$path/pack")

  /** The accumulated admission verdicts (post-decontamination,
    * post-quality-floor docs only — earlier stages drop without a
    * verdict; their counts live in [[funnel]]). */
  def verdicts(spark: SparkSession, path: String): DataFrame =
    StreamingBudgetAdmission.verdicts(spark, s"$path/admission")

  /** The epochs opened so far under `dir`, in order. */
  private def epochs(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("epoch=")).map(_.stripPrefix("epoch=").toLong)
      .sorted
  }

  /** `read` of every epoch's sub-tree of `sub` (`pack` or `admission`),
    * tagged with its epoch index. */
  private def perEpoch(spark: SparkSession, path: String, sub: String)(
      read: String => DataFrame): DataFrame =
    epochs(spark, s"$path/$sub").map { e =>
      read(s"$path/$sub/epoch=$e").withColumn("epoch", lit(e))
    }.reduceOption(_.unionByName(_)).getOrElse(
      throw new IllegalStateException(
        s"no epoch'd $sub state under $path — a multi-entry quota " +
          s"schedule writes $sub/epoch=<e>; single-quota pipelines read " +
          "the flat readers"))

  /** Every epoch's accumulated fragments, tagged with its epoch index —
    * each epoch is one immutable tape packed under its own quota; a
    * closed epoch's rows never change again (the epoch'd-tape contract
    * in the class doc). */
  def fragmentsEpoched(spark: SparkSession, path: String): DataFrame =
    perEpoch(spark, path, "pack")(StreamingPack.fragments(spark, _))

  /** Every epoch's accumulated whole-doc bin assignments, tagged with
    * the epoch index — the [[assignments]] face of the epoch'd-tape
    * contract (x181): each epoch is its own greedy bin sequence (bins
    * and positions restart at the retarget), and a closed epoch's
    * assignments never change again. */
  def assignmentsEpoched(spark: SparkSession, path: String): DataFrame =
    perEpoch(spark, path, "pack")(StreamingPack.assignments(spark, _))

  /** Every epoch's admission verdicts, tagged with the epoch index. */
  def verdictsEpoched(spark: SparkSession, path: String): DataFrame =
    perEpoch(spark, path, "admission")(
      StreamingBudgetAdmission.verdicts(spark, _))

  /** The cumulative per-source funnel after the latest fold. Fails with
    * a descriptive error — not an opaque NPE — when the stream attached
    * but no fold has committed a funnel generation yet (mirrors
    * foldBatch's own isNullAt probe on the same table). */
  def funnel(spark: SparkSession, path: String): DataFrame =
    // newest generation by directory name — one filesystem listing and
    // a direct read of that single partition dir (no discovery over
    // every retained generation, no max-aggregation job)
    StreamState.latestGeneration(spark, s"$path/funnel", excludeBatch = -1L)
      .map(mx => spark.read.parquet(s"$path/funnel/batch=$mx"))
      .getOrElse(throw new IllegalStateException(
        s"no funnel state under $path — no composed fold has committed yet"))
}

/** The composed fold's token-quota schedule: entries `(startFold,
  * per-source quotas, default quota)`, the first at fold 0, start folds
  * strictly increasing. An entry governs the folds from its start to
  * the next entry's; a source named in its map is admitted against its
  * own quota, every other source against the default. A schedule of
  * more than one entry makes the pipeline epoch'd (the epoch'd-tape
  * contract on [[StreamingCuratedPack]]). */
final case class QuotaSchedule(entries: Seq[(Long, Map[String, Long], Long)]) {
  require(entries.nonEmpty && entries.head._1 == 0L,
    "quota schedule must start at fold 0")
  require(entries.map(_._1) == entries.map(_._1).sorted.distinct,
    "quota schedule start folds must be strictly increasing")
}

object QuotaSchedule {
  /** One quota for every source at every fold: a plain `Long` passes
    * wherever a schedule is expected. */
  implicit def constant(quota: Long): QuotaSchedule =
    QuotaSchedule(Seq((0L, Map.empty[String, Long], quota)))

  /** Scalar retargets: `(startFold, quota)` entries, no per-source
    * quotas. */
  def retargets(entries: (Long, Long)*): QuotaSchedule =
    QuotaSchedule(entries.map { case (f, q) => (f, Map.empty[String, Long], q) })
}
