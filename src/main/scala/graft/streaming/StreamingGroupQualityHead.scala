package graft.streaming

import graft.ext.Positional
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/**
 * Streaming evictive quality-budget head — maintain ONLINE what
 * [[graft.ext.Mixture.qualityBudgetHeadByGroup]] selects in batch:
 * "the best `budget(g)` tokens FROM EACH SOURCE ingested so far",
 * admissions per group in (score DESC, id ASC) order with the inclusive
 * running token total inside the group's budget. The online quadrant of
 * the budget family: x142 admits the FIRST tokens online, x143/x144
 * pick the BEST tokens in batch (globally / per source) — this keeps
 * the BEST tokens online, with late high-quality arrivals EVICTING
 * their own group's tail. After every fold the accumulated head must be
 * bit-identical to the batch operator over everything ingested. The
 * GLOBAL head (x150/x159, [[graft.ext.Mixture.qualityBudgetHead]]) is
 * the one-group case: [[StreamingQualityHead]] files every doc under a
 * single constant group and runs this fold unchanged.
 *
 * Why the fold can be exact with STRICTLY BOUNDED state — four
 * monotonicity facts of the tier arithmetic (tokens-above `prior` and
 * tier total `bt` only grow as the corpus grows):
 *  1. verdicts only degrade (admitted → evicted; rejected never
 *     re-admits), so the new head ⊆ old head ∪ arrivals;
 *  2. a tier that is 'full' now was full at every earlier prefix, so
 *     its members all sit in the old head;
 *  3. the frontier tier only moves UP the score grid — tiers below it
 *     stay rejected forever;
 *  4. WITHIN the frontier tier, inclusive sums are non-decreasing in
 *     id, so the tier's verdicts are an id-order PREFIX: everything
 *     the fold must remember about the tier's rejected docs compresses
 *     to ONE marker — the first rejected id (`cut`). An arrival past
 *     the cut is rejected outright (its prefix already overflows); an
 *     arrival before it needs only head ∪ batch for its exact sum.
 * Fact 4 is what keeps a degenerate all-one-score corpus from growing
 * corpus-sized state: without it the frontier tier's rejected roster
 * would have to persist whole.
 *
 * All four facts hold per group independently, because every group's
 * arithmetic (its tier histogram, its tokens-above `prior`, its budget)
 * is self-contained: a group's verdicts only degrade, its full tiers
 * stay full-or-better, its frontier only moves up its score grid, and
 * within its frontier tier the rejected roster compresses to ONE
 * per-group cut marker.
 *
 * ==Cell-partitioned head==
 * Facts 1–3 also bound WHICH (group, tier) cells a fold can touch: a
 * cell strictly above its group's best arrival score has unchanged
 * `prior` and `bt`, so neither its verdict nor its membership can
 * move. The head is therefore stored per CELL with per-cell
 * generations, and a fold rewrites only its CHANGED cells — arrival
 * cells that are not rejected, plus each group's frontier when it was
 * touched (it moved, or arrivals above it grew its `prior`). Per-fold
 * head write volume is proportional to the touched cells' membership,
 * NOT to the budget: at a production budget (10¹³ tokens ≈ 10⁹ docs) a
 * full-head rewrite would dominate every fold; here a low-score batch
 * writes nothing at all (its arrivals are rejected against the cut)
 * and a mid-score batch rewrites only the tiers below it. Only each
 * group's one frontier tier runs an exact running sum, via
 * [[Positional.withPerKeyRunningSum]]'s keyed two-phase layout (a
 * degenerate single-tier group never funnels one task; a hot group
 * cannot starve the others; with one group it is the
 * [[Positional.withGlobalRunningSum]] layout).
 *
 * Groups absent from `budgets` are OUTSIDE the curation (the batch
 * operator's inner-dimension-join contract): their docs get no arrival
 * verdict, no ledger row, and are dropped deterministically on every
 * (re)delivery — explicit budgets are the contract, exactly as in
 * batch.
 *
 * ==Dynamic budgets==
 * The budget map is read PER FOLD (`budgetsOf(batchId)`), so a
 * deployment can retarget the head mid-stream (a training run scaling
 * up or down; one global budget retargeted and the waterfill re-run, so
 * every per-source budget refreshes at once). Per group the two
 * directions are asymmetric:
 *  - a SHRINK needs nothing new: cell verdicts are recomputed from the
 *    full hist every fold, every membership a shrink can evict already
 *    sits in the head, and docs past the frontier cut only get worse —
 *    the incremental path is exact as-is;
 *  - a RAISE breaks fact 1 (verdicts can now UPGRADE): tiers that were
 *    rejected — whose membership was deliberately never kept — can
 *    re-enter. The fold detects the raise against the stored 'budget'
 *    rows and RESURRECTS the raised group's candidates from the
 *    arrivals ledger (the one append-only table that holds every doc
 *    ever), score-pruned to its now-non-rejected tiers, with its
 *    frontier cut guard disabled for that fold. Work is ∝ the new head
 *    + frontier tier (a ledger scan pruned by the tier predicate), the
 *    honest price of an infrequent control-plane event; the next steady
 *    fold resumes the bounded incremental path off the recomputed cut.
 * Re-admissions land in their own `readmissions/batch=<id>` ledger.
 * With dynamics, a doc can evict more than once (evict → readmit →
 * evict), so the evictions ledger may hold an id at several batches;
 * [[lifecycle]] is the dynamics-aware reader ([[ledger]]'s
 * admitted = admit ∧ never-evicted invariant holds only for constant
 * budgets). A budget change delivered alongside an empty-or-all-
 * rearrival batch takes effect at the next folding batch (raises are
 * detected by state diff, not by the batch that carried them).
 *
 * The GROUP SET itself may move in two explicit, monotone-history ways
 * (x169/x174): a group ADDED to the map starts fresh from its first
 * curated fold (its earlier arrivals were dropped without a ledger row
 * — nothing exists to resurrect), and a group named in the `retire` set
 * DRAINS-AND-FREEZES: it stops admitting (arrivals drop without a
 * ledger row from that fold on) while its final head stays readable
 * forever. Silent removal (absent from the map, not retired) stays
 * fail-loud, and so does re-budgeting a retired group.
 *
 * State layout under `path/` — per-`batch=<id>` OVERWRITE directories
 * (the [[StreamingWinnowIngest]] discipline: every read excludes the
 * fold's own batch, so replay after any crash window recomputes
 * identical frames and truncates-and-rewrites):
 *  - `meta/batch=<id>` — ONE groups × grid bounded (kind, grp, k1, v)
 *    table holding everything dimension-sized the fold carries across
 *    batches, written LAST (it is the generation's commit marker):
 *     - 'hist'    rows (grp, score → bt): per-cell token totals over
 *       everything ingested;
 *     - 'tiers'   rows (grp, score → gen): every currently-NONEMPTY
 *       cell mapped to the head generation holding its membership —
 *       the head's read index; tombstones are plain absences;
 *     - 'cut'     rows, at most one per group (grp, frontier score →
 *       first rejected id): fact 4's compression;
 *     - 'budget'  rows (grp → budget): the map in effect after this
 *       fold (the raise detector's reference point);
 *     - 'retired' rows (grp → final budget): the frozen groups.
 *    One table instead of four (r16): the frames are read together at
 *    every fold and are all grid-bounded, so splitting them bought four
 *    parquet round-trips and three extra driver collects per fold for
 *    no isolation. The per-fold tier arithmetic (hist merge, per-group
 *    cumulative prior, verdicts) runs DRIVER-side over the collected
 *    grid: a window over ≤ groups × grid rows is driver work, not a
 *    Spark job.
 *  - `head/batch=<id>` — the CHANGED cells' admitted rows
 *    (id, tokens, grp, score), one FLAT dir per generation: partition
 *    dirs per cell exploded into cells × generations directories that
 *    nothing partition-pruned (every read resolves through the
 *    tiers-map join), and at a few hundred cells one open of that tree
 *    cost ~57 listing/inference jobs; pre-r20 trees fail loud, see the
 *    layout guard. A cell's current membership lives in the generation
 *    the meta tiers map names — untouched cells keep pointing at older
 *    generations.
 *  - `arrivals/batch=<id>`  — append-only ledger (id, grp, score,
 *    tokens, admit) — the verdict each doc got ON ARRIVAL (also the
 *    cross-batch re-arrival guard, and the resurrection source for
 *    budget raises). A [[LedgerState]] ledger: every `compactEvery`
 *    folds its per-batch dirs rewrite into one checkpoint generation
 *    partitioned by `pmod(id, bucketK)` AND by score tier, so the
 *    guard's anti-join prunes to the batch's id buckets and a raise
 *    fold's resurrection prunes to its changed tiers (the exact
 *    (grp, score) cells are then refined by a broadcast semi-join —
 *    score alone is a superset across groups) — neither ever lists or
 *    scans the whole history tree.
 *  - `evictions/batch=<id>` — (id) evicted by this fold; at most one
 *    row per id ever under constant budgets (verdicts only degrade);
 *    raises can re-admit, so with dynamics an id may recur.
 *    Bucket-compacted like arrivals (no score level — read whole only
 *    by the lifecycle sheets). WRITTEN ONLY by folds whose driver-known
 *    changed/rejected cells touch a prior cell — a quiet fold skips the
 *    write entirely (the absent dir means what an empty dir meant, and
 *    a stream that never evicts never creates the table; the readers
 *    probe existence).
 *  - `readmissions/batch=<id>` — (id) re-admitted by this fold's
 *    budget raise. Bucket-compacted; written only by folds with raised
 *    groups (the steady fold skips the empty write — measured at
 *    ~100 ms of four-drain floor per skipped write-action).
 *
 * Retention: meta generations are superseded (every read targets the
 * single latest committed generation), so each fold prunes them to the
 * newest `retainGenerations` dirs ([[StreamState.pruneGenerations]];
 * ≥ 2 keeps the generation a crash-replay reads). Head generations are
 * reference-counted instead: a head `batch=<id>` dir is deleted once NO
 * retained tiers map references it (an untouched cell legitimately pins
 * a generation far older than the retention window). The
 * arrivals/evictions/readmissions ledgers keep every ROW forever (they
 * are history) but their DIRECTORIES compact ([[LedgerState.maintain]])
 * — without that, a 15 s trigger accrues ~5,800 dirs/day/table and
 * every fold's listing grows with stream age.
 *
 * Per-batch cost: the (group, tier) histogram of the ARRIVALS merged
 * into the stored grid-bounded hist; candidates = changed-cell head
 * rows ∪ arrivals (touched-cell- and batch-sized, never corpus- or even
 * budget-sized) joined to the broadcast cell verdicts; only each
 * group's frontier tier runs an exact running sum.
 *
 * Input columns: `doc_id`, `source` (the group), `score_k`, `n_tokens`.
 */
object StreamingGroupQualityHead {

  private val IdCol = "doc_id"
  private val GroupCol = "source"
  private val ScoreCol = "score_k"
  private val TokCol = "n_tokens"

  /** Attach the evictive-head sink over a stream carrying (doc_id,
    * source, score_k, n_tokens). `budgetsOf` is the budget-map SCHEDULE
    * (batchId → budgets; a fixed plan is `_ => budgets`): per group,
    * raises resurrect from the arrivals ledger and shrinks evict in
    * place — after every fold each group's head equals the batch
    * operator at THAT fold's budget. `retireOf` names the groups
    * retired from each fold on. Caller starts the writer with its own
    * checkpoint/trigger options; read results with [[ledger]] or
    * [[lifecycle]]. `retainGenerations` bounds the superseded meta
    * generation dirs kept on disk (≥ 2 — see
    * [[StreamState.pruneGenerations]]). */
  def attach(
      docs: DataFrame,
      path: String,
      budgetsOf: Long => Map[String, Long],
      retainGenerations: Int = 3,
      bucketK: Int = 64,
      compactEvery: Int = 16,
      retireOf: Long => Set[String] = _ => Set.empty): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, path, budgetsOf(batchId), retainGenerations,
          bucketK, compactEvery, retire = retireOf(batchId))
      }

  /** The full dimension-sized state at generation `gen` — ONE collect
    * over the groups × grid bounded meta table. The generation dir is
    * read DIRECTLY (its name IS the generation id — no need to discover
    * and filter the whole retained tree) with the schema served from
    * the [[StreamState.readStable]] cache, so the per-fold open pays
    * neither a partition-discovery listing of sibling generations nor a
    * schema-inference job. */
  private def metaAt(
      spark: SparkSession, path: String, gen: Long): Seq[(String, String, Long, Long)] =
    StreamState.readStable(spark, s"$path/meta#one", Seq(s"$path/meta/batch=$gen"))
      .select(col("kind"), col("grp"), col("k1").cast("long"),
        col("v").cast("long"))
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq

  /** The (grp, score → head generation) map stored at generation `gen`. */
  private def tiersAt(
      spark: SparkSession, path: String, gen: Long): Seq[(String, Long, Long)] =
    metaAt(spark, path, gen).collect { case ("tiers", g, s, hg) => (g, s, hg) }

  /** One-per-JVM guard against the pre-r20 head layout (`grp=<g>/
    * score=<s>` partition dirs inside each generation): that layout
    * exploded into groups × tiers × generations directories that
    * NOTHING partition-pruned (every read resolves through the tiers-
    * map join) — a measured ~57 listing/inference jobs per open at a
    * few hundred cells. Reading it with the flat-generation schema
    * would misparse, so fail loud. (A pre-merge global-head tree fails
    * earlier still: its meta table has no `grp` column for [[metaAt]]
    * to select.) */
  private val headLayoutOk = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def assertHeadLayout(spark: SparkSession, path: String, gen: Long): Unit =
    if (!headLayoutOk.contains(path)) {
      if (StreamState.hasChildWithPrefix(spark, s"$path/head/batch=$gen", "grp="))
        throw new IllegalStateException(
          s"$path holds a pre-r20 cell-partitioned group-head layout " +
            "(grp= dirs inside head generations): refusing to read it " +
            "with the flat-generation schema — drain and re-plan the " +
            "stream into a fresh state path")
      headLayoutOk.add(path); ()
    }

  /** The head rows a (grp, score → gen) map selects: ONLY the
    * referenced generation dirs (driver-known from the map) joined to
    * the broadcast map on (group, tier, generation). Rows from
    * superseded generations inside a referenced dir never match the
    * map. `grp`/`score` are DATA columns (flat generation dirs — see
    * [[assertHeadLayout]]); `batch` stays the generation partition
    * column via basePath. */
  private def headFor(
      spark: SparkSession, path: String,
      tiers: Seq[(String, Long, Long)]): DataFrame = {
    val gens = tiers.map(_._3).distinct.sorted
    assertHeadLayout(spark, path, gens.head)
    val mapDf = spark.createDataFrame(tiers).toDF("_mgrp", "_mscore", "_gen")
    StreamState.readStable(spark, s"$path/head#gen",
        gens.map(g => s"$path/head/batch=$g"), basePath = Some(s"$path/head"))
      .select(col("id"), col("tokens").cast("long").as("tokens"),
        col("grp").cast("string").as("grp"),
        col("score").cast("long").as("score"),
        col("batch").cast("long").as("_b"))
      .join(broadcast(mapDf),
        col("grp") === col("_mgrp") && col("score") === col("_mscore") &&
          col("_b") === col("_gen"))
      .select(col("id"), col("grp"), col("score"), col("tokens"))
  }

  /** One micro-batch's fold — public so crash-window replay is directly
    * spec-testable: re-folding must leave every state table
    * bit-identical. */
  def foldBatch(
      batch: DataFrame,
      batchId: Long,
      path: String,
      budgets: Map[String, Long],
      retainGenerations: Int = 3,
      bucketK: Int = 64,
      compactEvery: Int = 16,
      retire: Set[String] = Set.empty): Unit = {
    require(budgets.values.forall(_ >= 0), "budgets must be non-negative")
    require(retire.intersect(budgets.keySet).isEmpty,
      s"a group cannot be retired AND budgeted in the same fold: " +
        s"${retire.intersect(budgets.keySet).toSeq.sorted}")
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      val hasState = StreamState.exists(spark, s"$path/meta")
      // layout-migration guard: a state tree written by the pre-r16
      // four-table layout has hist/ but no meta/ — silently treating it
      // as hasState=false would re-initialize from empty while the old
      // ledger dirs stay under the same path, and every re-arrival
      // would ledger a duplicate row
      if (!hasState && StreamState.exists(spark, s"$path/hist"))
        throw new IllegalStateException(
          s"$path holds a pre-consolidation quality-head layout (hist/ " +
            "without meta/): refusing to re-initialize over it — drain " +
            "and re-plan the stream into a fresh state path")
      // dense integral gid per group (withPerKeyRunningSum's key
      // contract), deterministic across folds: sorted group order
      val gidOf: Map[String, Long] = budgets.keySet.toSeq.sorted
        .zipWithIndex.map { case (g, i) => g -> (i + 1).toLong }.toMap
      // in-batch id dedup: ONE representative ROW per id — max score,
      // ties to the smaller token count, then max group — never a
      // synthesized mix of two rows' fields
      val batchDocs = batch.groupBy(col(IdCol))
        .agg(max(struct(col(ScoreCol).cast("long").as("score"),
          (-col(TokCol).cast("long")).as("_ntok"),
          col(GroupCol).cast("string").as("grp"))).as("_rep"))
        .select(col(IdCol).as("id"), col("_rep.grp").as("grp"),
          col("_rep.score").as("score"), (-col("_rep._ntok")).as("tokens"))
      // curated groups only (the batch operator's inner-dimension-join
      // contract, as a literal IN filter: a broadcast join against the
      // budget map costs one broadcast job per fold), then the
      // cross-batch re-arrival guard
      val known = batchDocs.filter(col("grp").isin(budgets.keys.toSeq: _*))
      val arrivals =
        if (hasState)
          LedgerState.antiJoinSeen(spark, s"$path/arrivals", batchId,
            known, "id").persist()
        else known.persist()
      // independent state writes overlap from a small pool ([[FoldAsync]]
      // — optimization guide §2.6); the barrier() before the meta write
      // keeps the commit-marker ordering (meta lands only after the data
      // it indexes), and the fold returns only after every future landed
      val async = new FoldAsync(spark, "quality-head")
      var mainOk = false
      try {
      // ONE distributed agg + collect: the batch's (group, tier)
      // histogram — it DOUBLES as the emptiness probe (empty map ⟺
      // empty arrivals), replacing the old separate isEmpty action.
      // Everything downstream — hist merge, per-group cumulative prior,
      // verdicts — is driver arithmetic over groups × grid rows.
      val batchHist: Map[(String, Long), Long] =
        arrivals.groupBy(col("grp"), col("score"))
          .agg(sum(col("tokens")).as("bt")).collect()
          .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      if (batchHist.nonEmpty) {
        // latest PRIOR generation: filesystem-level so legitimately-empty
        // generations still count, own batch excluded (replay reads the
        // state as of the generation before it). Every gen < batchId is
        // committed — the stream replays an uncommitted batch before
        // advancing, and that batch IS this one.
        val priorGen: Option[Long] =
          StreamState.generations(spark, s"$path/meta").find(_ != batchId)
        // ONE collect: the whole groups × grid prior state
        val metaRows: Seq[(String, String, Long, Long)] =
          priorGen.map(g => metaAt(spark, path, g)).getOrElse(Seq.empty)
        val priorHist: Map[(String, Long), Long] =
          metaRows.collect { case ("hist", g, s, bt) => (g, s) -> bt }.toMap
        val priorTiers: Seq[(String, Long, Long)] =
          metaRows.collect { case ("tiers", g, s, hg) => (g, s, hg) }
        // stored per-group frontier cut markers: ≤1 per group
        val priorCut: Map[String, (Long, Long)] =
          metaRows.collect { case ("cut", g, s, cid) => g -> ((s, cid)) }.toMap
        // the budget map in effect at the prior generation — raised
        // groups flip onto the per-group ledger-resurrection path
        val priorBudgets: Map[String, Long] =
          metaRows.collect { case ("budget", g, _, b) => g -> b }.toMap
        val priorHead =
          if (priorTiers.isEmpty)
            arrivals.limit(0).select(col("id"), col("grp"), col("score"),
              col("tokens"))
          else headFor(spark, path, priorTiers)
        // Group-set dynamics: ADDING a group mid-stream is supported —
        // it "starts fresh from its first curated fold". Its earlier
        // arrivals were dropped WITHOUT a ledger row (explicit budgets
        // are the curation contract, exactly as in batch), so there is
        // deliberately nothing to resurrect: recovering them would
        // require the raw corpus, which the stream never stores. A new
        // group is NOT a raise (no stored budget to compare against) —
        // its first fold runs the ordinary arrival path.
        //
        // RETIRING a group (x174) is the drain-and-freeze contract a
        // deployment decommissioning a source actually wants: an
        // EXPLICITLY retired group stops admitting (its arrivals drop
        // without a ledger row from this fold on, exactly like a
        // never-curated group's) while its final head stays readable
        // forever — its hist/tiers/cut meta rows carry forward verbatim
        // and its head generations stay reference-pinned. Retirement
        // must be explicit (the `retire` set), NOT inferred from a
        // group's absence in `budgets`: an accidental omission would
        // otherwise silently freeze a live source — absence stays
        // fail-loud. Retirement is terminal: re-budgeting a retired
        // group fails loud too (its post-retirement arrivals were never
        // ledgered, so "resuming" would silently resurrect only the
        // pre-retirement past — re-plan into a fresh path instead).
        // Like a budget change, a retirement delivered alongside an
        // empty-or-all-rearrival batch takes effect at the next folding
        // batch (it is detected by state diff, not by the batch that
        // carried it).
        val priorRetired: Map[String, Long] =
          metaRows.collect { case ("retired", g, _, b) => g -> b }.toMap
        require(priorRetired.keySet.intersect(budgets.keySet).isEmpty,
          s"a RETIRED group cannot be re-budgeted (its post-retirement " +
            s"arrivals were never ledgered): " +
            s"${priorRetired.keySet.intersect(budgets.keySet).toSeq.sorted}")
        val newlyRetired = retire -- priorRetired.keySet
        require(newlyRetired.subsetOf(priorBudgets.keySet),
          s"only a currently-curated group can be retired: " +
            s"${(newlyRetired -- priorBudgets.keySet).toSeq.sorted} never held " +
            s"a budget under this state path")
        if (priorBudgets.nonEmpty)
          require(priorBudgets.keySet.subsetOf(budgets.keySet ++ retire),
            s"a curated group cannot be REMOVED mid-stream without an " +
              s"explicit retire (added is fine — it starts fresh): stored " +
              s"${priorBudgets.keySet.toSeq.sorted} vs supplied " +
              s"${budgets.keySet.toSeq.sorted} + retired ${retire.toSeq.sorted}")
        val retiredAll: Map[String, Long] =
          priorRetired ++ newlyRetired.map(g => g -> priorBudgets(g))
        val raisedGroups: Set[String] =
          budgets.collect { case (g, b) if priorBudgets.get(g).exists(b > _) => g }.toSet
        val newHist: Map[(String, Long), Long] =
          (priorHist.keySet ++ batchHist.keySet).iterator
            .map(c => c -> (priorHist.getOrElse(c, 0L) + batchHist.getOrElse(c, 0L)))
            .toMap
        // the x144 arithmetic: per-group tokens-above as prior, walked
        // down each group's score grid. Retired groups are SKIPPED —
        // their hist cells carry forward below but nothing re-evaluates
        // them (frozen verdicts are the retirement contract)
        val cumRows: Seq[(String, Long, Long, Boolean, Boolean, Long, Long)] =
          newHist.keys.toSeq.groupBy(_._1).toSeq.sortBy(_._1)
            .filter { case (g, _) => budgets.contains(g) }.flatMap {
            case (g, cells) =>
              val bud = budgets(g)
              var runAbove = 0L
              cells.map(_._2).sorted(Ordering[Long].reverse).map { s =>
                val bt = newHist((g, s))
                val prior = runAbove
                runAbove += bt
                (g, s, prior, prior + bt <= bud, prior >= bud, bud, gidOf(g))
              }
          }
        val verdicts: Map[(String, Long), (Boolean, Boolean)] =
          cumRows.map(r => (r._1, r._2) -> ((r._4, r._5))).toMap
        val frontier: Map[String, Long] =
          cumRows.collect { case (g, s, _, false, false, _, _) => g -> s }.toMap
        val arrivalCells: Set[(String, Long)] = batchHist.keySet
        // CHANGED cells — the only (group, tier) cells whose membership
        // can move: non-rejected arrival cells, plus each group's
        // frontier when it was TOUCHED — it moved up, or the group got
        // arrivals strictly above it (its `prior` grew, so its cut
        // slides down and its tail must evict even with no arrivals of
        // its own)
        // a RAISED group's every non-rejected cell may gain members the
        // head never kept — all of them are changed, resurrection comes
        // from the ledger slice at exactly those cells
        val changed: Set[(String, Long)] =
          arrivalCells.filterNot(c => verdicts(c)._2) ++
            frontier.collect { case (g, fs)
              if !priorCut.get(g).map(_._1).contains(fs) ||
                arrivalCells.exists { case (ag, as) => ag == g && as > fs }
              => (g, fs) } ++
            // toSeq first — Map.collect into (grp, score) pairs would
            // rebuild a Map keyed by grp and keep ONE cell per group
            // (the same trap rejDf documents below)
            verdicts.toSeq.collect {
              case ((g, s), (_, false)) if raisedGroups(g) => (g, s) }
        val changedDf = broadcast(
          spark.createDataFrame(changed.toSeq).toDF("grp", "score"))
        val baseCandidates = priorHead
          .join(changedDf, Seq("grp", "score"), "left_semi")
          .unionByName(arrivals.join(changedDf, Seq("grp", "score"), "left_semi"))
        val raisedCells = changed.filter { case (g, _) => raisedGroups(g) }
        // resurrection reads the compacted ledger PARTITION-pruned to
        // the raised cells' score tiers; the broadcast semi-join then
        // refines to the exact (grp, score) cells — the tier predicate
        // alone is a superset (another group's same-score rows)
        val candidates =
          if (raisedCells.isEmpty) baseCandidates
          else baseCandidates.unionByName(
              LedgerState.view(spark, s"$path/arrivals", batchId,
                  scorePrune = Some(("score", raisedCells.map(_._2))))
                .select(col("id"), col("grp").cast("string").as("grp"),
                  col("score").cast("long").as("score"),
                  col("tokens").cast("long").as("tokens"))
                .join(broadcast(spark.createDataFrame(raisedCells.toSeq)
                  .toDF("grp", "score")), Seq("grp", "score"), "left_semi"))
            .distinct()
        // the groups × grid verdict sheet enters the plan as a
        // broadcast literal frame — no lineage back to any state read
        val cumDf = broadcast(spark.createDataFrame(cumRows)
          .toDF("grp", "score", "_prior", "_full", "_rej", "_budget", "_gid"))
        val flagged = candidates.join(cumDf, Seq("grp", "score")).persist()
        try {
        val decidedFull = flagged.filter(col("_full"))
          .select(col("id"), col("grp"), col("score"), col("tokens"))
        val frontierAll = flagged.filter(!col("_full") && !col("_rej"))
          .select(col("id"), col("grp"), col("score"), col("tokens"),
            col("_prior"), col("_budget"), col("_gid"))
        // fact 4 per group: where the stored cut names the group's
        // CURRENT frontier tier, candidates at or past it are rejected
        // without computation
        // a raised group's stored cut was computed under the smaller
        // budget — its frontier recomputes whole off the ledger slice
        // and the rewritten cut re-arms the guard next fold
        val guards: Map[String, Long] = frontier.flatMap { case (g, fs) =>
          priorCut.get(g).collect {
            case (cs, cid) if cs == fs && !raisedGroups(g) => g -> cid
          }
        }
        // literal per-group predicates, not a join against a guard
        // frame: broadcasting driver-local rows costs a job whenever a
        // guard is set
        val preCut = guards.foldLeft(frontierAll) { case (df, (g, cid)) =>
          df.filter(col("grp") =!= g || col("id") < cid)
        }
        // staged variant: the helper's eager count() is skipped — the
        // fused stats action below materializes the running sum once;
        // both internal persists release in the fold's finally
        val (refinedBase, releaseRunningSum) = Positional.withPerKeyRunningSumStaged(
            preCut, Seq(col("id")), "_gid", "tokens", "_pfx")
        val refined = refinedBase
          .withColumn("_adm", col("_prior") + col("_pfx") <= col("_budget"))
        // persisted, NOT eagerly checkpointed: the consumers below
        // materialize it once into cache (the old eager localCheckpoint
        // paid a dedicated per-fold job); released in the finally
        val newHeadChanged = decidedFull
          .unionByName(refined.filter(col("_adm"))
            .select("id", "grp", "score", "tokens"))
          .persist()
        try {
        // ONE action replaces the old per-group rejected-min aggregate
        // AND the per-cell survivor count: per (grp, score, admitted)
        // min id over decided ∪ refined — an admitted cell's presence
        // is the survivor bit; the per-group min over rejected rows is
        // the cut
        val stats = decidedFull
          .select(col("grp"), col("score"), lit(true).as("_a"), col("id"))
          .unionByName(refined.select(col("grp"), col("score"),
            col("_adm").as("_a"), col("id")))
          .groupBy(col("grp"), col("score"), col("_a"))
          .agg(min(col("id")).as("_mn"))
          .collect()
        // per-group new cut: the first rejected id among the recomputed
        // slice, or the surviving guard. A frontier tier always HAS a
        // rejected doc (its last inclusive sum overflows the budget),
        // so the cut is defined for every frontier group.
        val rejMin: Map[String, Long] = stats
          .filter(r => !r.getBoolean(2))
          .groupBy(_.getString(0))
          .map { case (g, rs) => g -> rs.map(_.getLong(3)).min }
        val newCuts: Seq[(String, Long, Long)] = frontier.toSeq.map {
          case (g, fs) => (g, fs,
            math.min(rejMin.getOrElse(g, Long.MaxValue),
              guards.getOrElse(g, Long.MaxValue)))
        }
        val changedWithRows: Set[(String, Long)] = stats
          .filter(_.getBoolean(2))
          .map(r => (r.getString(0), r.getLong(1))).toSet
        val newTiers: Seq[(String, Long, Long)] =
          priorTiers.filter { case (g, s, _) =>
            !verdicts.get((g, s)).exists(_._2) && !changed.contains((g, s))
          } ++ changedWithRows.toSeq.sorted.map { case (g, s) => (g, s, batchId) }
        val arrOut = arrivals.join(
            newHeadChanged.select(col("id"), lit(true).as("admit")),
            Seq("id"), "left")
          .select(col("id"), col("grp"), col("score"), col("tokens"),
            coalesce(col("admit"), lit(false)).as("admit"))
        // evictions are possible only when a PRIOR cell changed or fell
        // to rejected — both driver-known sets, so the common quiet fold
        // (first fold, or arrivals that touch no prior cell) skips the
        // computation and the write outright; absence of `batch=<id>`
        // means "evicted nothing", exactly what an empty dir said
        // (NB: collect over the SEQ — Map.collect into (grp, score)
        // pairs would rebuild a Map keyed by grp and silently keep ONE
        // rejected tier per group)
        val rejCells: Seq[(String, Long)] =
          verdicts.toSeq.collect { case ((g, s), (_, true)) => (g, s) }
        val priorCells: Set[(String, Long)] =
          priorTiers.map(t => (t._1, t._2)).toSet
        val evictionPossible = priorCells.nonEmpty &&
          (changed.exists(priorCells) || rejCells.exists(priorCells))
        async("arrivals write") {
          arrOut.write.mode("overwrite").parquet(s"$path/arrivals/batch=$batchId")
        }
        if (evictionPossible) {
          // ONE semi-join against the union of the changed and rejected
          // cell sets (disjoint: a changed cell is never rejected) — a
          // two-leg union would run the priorHead subtree (generation
          // read + tiers-map broadcast join) twice per evicting fold
          // (profiled as x160's single largest job site: 27 jobs / 8.1 s
          // of job time over one 4-drain run)
          val evictCellsDf = broadcast(spark.createDataFrame(
              (changed ++ rejCells).toSeq)
            .toDF("grp", "score"))
          val evicted = priorHead
            .join(evictCellsDf, Seq("grp", "score"), "left_semi")
            .join(newHeadChanged.select("id"), Seq("id"), "left_anti")
            .select("id").distinct()
          async("evictions write") {
            evicted.write.mode("overwrite")
              .parquet(s"$path/evictions/batch=$batchId")
          }
        }
        // re-admissions: head members that were neither prior members of
        // their (changed) cell nor this batch's arrivals — non-empty
        // only on a fold with raised groups (the write is skipped on
        // every other fold)
        if (raisedCells.nonEmpty) {
          val readmitted = newHeadChanged.select("id")
            .join(arrivals.select("id"), Seq("id"), "left_anti")
            .join(priorHead.join(changedDf, Seq("grp", "score"), "left_semi")
              .select("id"), Seq("id"), "left_anti")
          async("readmissions write") {
            readmitted.write.mode("overwrite")
              .parquet(s"$path/readmissions/batch=$batchId")
          }
        }
        // flat generation dir, grp/score as DATA columns: a
        // partitionBy("grp", "score") tree explodes into cells ×
        // generations directories that NOTHING ever partition-prunes
        // (every read resolves through the tiers-map join); pre-r20
        // trees fail loud (see assertHeadLayout)
        if (changedWithRows.nonEmpty)
          async("head write") {
            newHeadChanged.select(col("id"), col("tokens"), col("grp"), col("score"))
              .write.mode("overwrite")
              .parquet(s"$path/head/batch=$batchId")
          }
        // the marker barrier: every data write this generation indexes
        // must be durable before the meta (commit-marker) write below
        async.barrier()
        // ONE dimension-sized write carries everything the next fold
        // reads back — written after the head data, it is the
        // generation's commit marker
        // retired groups' cut markers carry forward verbatim (frozen
        // state stays whole), alongside their terminal 'retired' rows
        val carriedCuts: Seq[(String, Long, Long)] =
          priorCut.toSeq.collect { case (g, (s, cid)) if retiredAll.contains(g) =>
            (g, s, cid) }
        val metaOut: Seq[(String, String, Long, Long)] =
          newHist.toSeq.sortBy(_._1).map { case ((g, s), bt) => ("hist", g, s, bt) } ++
            newTiers.map { case (g, s, hg) => ("tiers", g, s, hg) } ++
            (newCuts ++ carriedCuts).map { case (g, s, cid) => ("cut", g, s, cid) } ++
            budgets.toSeq.sortBy(_._1).map { case (g, b) => ("budget", g, 0L, b) } ++
            retiredAll.toSeq.sortBy(_._1).map { case (g, b) => ("retired", g, 0L, b) }
        spark.createDataFrame(metaOut).toDF("kind", "grp", "k1", "v")
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$path/meta/batch=$batchId")
        StreamState.pruneGenerations(spark, s"$path/meta", retainGenerations)
        async("ledger maintenance") {
          LedgerState.maintain(spark, s"$path/arrivals", batchId,
            scoreCol = Some("score"), bucketK = bucketK,
            compactEvery = compactEvery)
          Seq("evictions", "readmissions").foreach(t =>
            if (StreamState.exists(spark, s"$path/$t"))
              LedgerState.maintain(spark, s"$path/$t", batchId,
                bucketK = bucketK, compactEvery = compactEvery))
        }
        // the retained generation set is driver-known (just pruned), so
        // read exactly those dirs with the cached schema — this fold's
        // own meta write guarantees the list is non-empty
        val referenced: Set[Long] = StreamState.readStable(spark,
            s"$path/meta#one",
            StreamState.generations(spark, s"$path/meta")
              .map(g => s"$path/meta/batch=$g"))
          .filter(col("kind") === "tiers")
          .select(col("v").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSet + batchId
        StreamState.deleteGenerations(spark, s"$path/head",
          StreamState.generations(spark, s"$path/head").filterNot(referenced))
        mainOk = true
        } finally {
          newHeadChanged.unpersist(blocking = false)
          releaseRunningSum()
        }
        } finally flagged.unpersist(blocking = false)
      } else mainOk = true
      } finally {
        val failures = async.shutdownAwait()
        arrivals.unpersist(blocking = false)
        if (mainOk) failures.headOption.foreach(t => throw t)
      }
      ()
    }
  }

  /** The latest committed generation: the newest `meta` dir (written
    * after the head data it indexes), filesystem-level so
    * legitimately-empty generations count. */
  private def latestCommitted(spark: SparkSession, path: String): Long =
    StreamState.generations(spark, s"$path/meta").headOption.getOrElse(
      throw new IllegalStateException(
        s"no committed generation under $path (crash before the first " +
          "meta write? restart the stream to replay the batch)"))

  /** The current per-group head — must equal the admitted set of
    * [[graft.ext.Mixture.qualityBudgetHeadByGroup]] over everything
    * ingested, under the same budgets. */
  def head(spark: SparkSession, path: String): DataFrame = {
    val g = latestCommitted(spark, path)
    val tiers = tiersAt(spark, path, g)
    if (tiers.isEmpty) {
      import spark.implicits._
      Seq.empty[(Long, String, Long, Long)].toDF("id", "grp", "score", "tokens")
    } else headFor(spark, path, tiers)
  }

  /** Per-doc lifecycle sheet: group, arrival verdict, the batch that
    * evicted it (null if never), and FINAL membership read from the
    * current head state — `admitted = admit AND evict_batch IS NULL`
    * is the spec-pinned invariant. */
  def ledger(spark: SparkSession, path: String): DataFrame = {
    val arr = LedgerState.view(spark, s"$path/arrivals", exclude = -1L)
      .select(col("id"), col("grp"),
        col("abatch").as("arrival_batch"),
        col("score"), col("tokens"), col("admit"))
    // a stream that never evicted never created the table (empty fold
    // dirs are skipped, not written) — absence means zero evictions
    val withEv =
      if (!StreamState.exists(spark, s"$path/evictions"))
        arr.withColumn("evict_batch", lit(null).cast("long"))
      else arr.join(
        LedgerState.view(spark, s"$path/evictions", exclude = -1L)
          .groupBy(col("id"))
          .agg(min(col("abatch")).as("evict_batch")),
        Seq("id"), "left")
    withEv
      .join(head(spark, path).select(col("id"), lit(true).as("_m")), Seq("id"), "left")
      .select(col("id"), col("grp"), col("arrival_batch"), col("score"),
        col("tokens"), col("admit"), col("evict_batch"),
        coalesce(col("_m"), lit(false)).as("admitted"))
  }

  /** The dynamics-aware per-doc sheet for dynamic budgets: group,
    * arrival verdict, per-doc eviction/re-admission transition counts
    * across the budget epochs, and FINAL membership. (Constant budgets
    * degenerate it to [[ledger]]: n_evictions ≤ 1, n_readmissions = 0.) */
  def lifecycle(spark: SparkSession, path: String): DataFrame = {
    val arr = LedgerState.view(spark, s"$path/arrivals", exclude = -1L)
      .select(col("id"), col("grp"),
        col("abatch").as("arrival_batch"),
        col("score"), col("tokens"), col("admit"))
    // eviction/readmission tables exist only once a fold actually
    // evicted / re-admitted (empty fold dirs are skipped, not written)
    val withEv =
      if (!StreamState.exists(spark, s"$path/evictions"))
        arr.withColumn("n_evictions", lit(0L))
      else arr.join(
        LedgerState.view(spark, s"$path/evictions", exclude = -1L)
          .groupBy(col("id")).agg(count(lit(1)).as("n_evictions")),
        Seq("id"), "left")
    val withRe =
      if (!StreamState.exists(spark, s"$path/readmissions"))
        withEv.withColumn("n_readmissions", lit(0L))
      else withEv.join(
        LedgerState.view(spark, s"$path/readmissions", exclude = -1L)
          .groupBy(col("id")).agg(count(lit(1)).as("n_readmissions")),
        Seq("id"), "left")
    withRe
      .join(head(spark, path).select(col("id"), lit(true).as("_m")), Seq("id"), "left")
      .select(col("id"), col("grp"), col("arrival_batch"), col("score"),
        col("tokens"), col("admit"),
        coalesce(col("n_evictions"), lit(0L)).as("n_evictions"),
        coalesce(col("n_readmissions"), lit(0L)).as("n_readmissions"),
        coalesce(col("_m"), lit(false)).as("admitted"))
  }
}
