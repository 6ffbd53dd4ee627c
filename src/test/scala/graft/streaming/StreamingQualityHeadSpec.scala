package graft.streaming

import graft.SparkSpec
import graft.ext.Mixture
import org.apache.spark.sql.functions._

/** The evictive quality head must track the batch operator exactly:
  * after every fold, the stored head equals
  * [[Mixture.qualityBudgetHead]]'s admitted set over everything
  * ingested — late high-quality arrivals evict the tail, rejected docs
  * never re-admit, and replay of any crash window is idempotent. */
class StreamingQualityHeadSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, Long, Long)*) =
    rows.toSeq.toDF("doc_id", "score_k", "n_tokens")

  private def newPath() =
    java.nio.file.Files.createTempDirectory("graft_sqh_").toString

  /** Recursive delete of a generation dir. */
  private def rmGen(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    val f = new java.io.File(dir)
    if (f.exists()) rm(f)
  }

  private def headSet(path: String): Set[Long] =
    StreamingQualityHead.head(spark, path).select("id")
      .as[Long].collect().toSet

  private def batchAdmitted(all: Seq[(Long, Long, Long)], budget: Long): Set[Long] =
    Mixture.qualityBudgetHead(docs(all: _*), budget)
      .filter(col("admitted")).select("doc_id").as[Long].collect().toSet

  /** The cut rows of one meta generation: (score, cut_id). */
  private def cutAt(path: String, batch: Long): Seq[(Long, Long)] =
    spark.read.parquet(s"$path/meta")
      .filter(col("batch").cast("long") === batch && col("kind") === "cut")
      .select(col("k1").cast("long"), col("v").cast("long"))
      .as[(Long, Long)].collect().toSeq

  private val b0 = Seq((1L, 100L, 40L), (2L, 100L, 40L), (3L, 50L, 30L))
  private val b1 = Seq((4L, 200L, 50L))
  private val b2 = Seq((5L, 100L, 5L))

  test("fold-by-fold the head equals the batch operator; evictions and verdicts land in the ledger") {
    val path = newPath()
    StreamingQualityHead.foldBatch(docs(b0: _*), 0L, path, budget = 100L)
    assert(headSet(path) === batchAdmitted(b0, 100L))
    assert(headSet(path) === Set(1L, 2L))
    StreamingQualityHead.foldBatch(docs(b1: _*), 1L, path, budget = 100L)
    // doc 4 (score 200) evicts doc 2: tier 100 became the frontier and
    // doc 2's inclusive sum overflows the budget
    assert(headSet(path) === batchAdmitted(b0 ++ b1, 100L))
    assert(headSet(path) === Set(1L, 4L))
    StreamingQualityHead.foldBatch(docs(b2: _*), 2L, path, budget = 100L)
    // doc 5's 5 tokens WOULD fit by size, but id-order frontier
    // semantics reject it (ids 1 and 2 precede it in the tier)
    assert(headSet(path) === batchAdmitted(b0 ++ b1 ++ b2, 100L))
    assert(headSet(path) === Set(1L, 4L))
    val led = StreamingQualityHead.ledger(spark, path)
      .select("id", "arrival_batch", "admit", "evict_batch", "admitted")
      .as[(Long, Long, Boolean, Option[Long], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(led === Map(
      1L -> ((0L, true, None, true)),
      2L -> ((0L, true, Some(1L), false)),
      3L -> ((0L, false, None, false)),
      4L -> ((1L, true, None, true)),
      5L -> ((2L, false, None, false))))
    // the ledger invariant: final membership == admitted-and-never-evicted
    led.foreach { case (_, (_, adm, ev, fin)) =>
      assert(fin === (adm && ev.isEmpty))
    }
  }

  test("replaying a fully-committed batch is a no-op on every state table") {
    val path = newPath()
    StreamingQualityHead.foldBatch(docs(b0: _*), 0L, path, budget = 100L)
    StreamingQualityHead.foldBatch(docs(b1: _*), 1L, path, budget = 100L)
    def snap(sub: String) = spark.read.parquet(s"$path/$sub")
      .collect().map(_.toString).sorted.toSeq
    val before = Seq("meta", "head", "arrivals", "evictions")
      .map(s => s -> snap(s))
    StreamingQualityHead.foldBatch(docs(b1: _*), 1L, path, budget = 100L)
    before.foreach { case (sub, rows) =>
      assert(snap(sub) === rows, s"replay changed $sub")
    }
  }

  test("crash between the ledger writes and the generation writes replays to the clean state") {
    val clean = newPath()
    StreamingQualityHead.foldBatch(docs(b0: _*), 0L, clean, budget = 100L)
    StreamingQualityHead.foldBatch(docs(b1: _*), 1L, clean, budget = 100L)
    val crashed = newPath()
    StreamingQualityHead.foldBatch(docs(b0: _*), 0L, crashed, budget = 100L)
    StreamingQualityHead.foldBatch(docs(b1: _*), 1L, crashed, budget = 100L)
    // simulate the crash window: batch 1's arrivals+evictions committed,
    // head/meta not — delete the two generation dirs
    for (sub <- Seq("head", "meta"))
      rmGen(s"$crashed/$sub/batch=1")
    StreamingQualityHead.foldBatch(docs(b1: _*), 1L, crashed, budget = 100L)
    for (sub <- Seq("meta", "head", "arrivals", "evictions")) {
      val c = spark.read.parquet(s"$clean/$sub").collect().map(_.toString).sorted.toSeq
      val x = spark.read.parquet(s"$crashed/$sub").collect().map(_.toString).sorted.toSeq
      assert(x === c, s"crash-window replay diverged on $sub")
    }
  }

  test("budget 0 admits nothing and keeps empty-but-readable generations") {
    val path = newPath()
    StreamingQualityHead.foldBatch(docs(b0: _*), 0L, path, budget = 0L)
    StreamingQualityHead.foldBatch(docs(b1: _*), 1L, path, budget = 0L)
    assert(headSet(path) === Set.empty[Long])
    val led = StreamingQualityHead.ledger(spark, path)
    assert(led.filter(col("admit") || col("admitted")).count() === 0L)
    assert(led.count() === 4L)
  }

  test("a corpus under budget comes back fully admitted with no evictions") {
    val path = newPath()
    StreamingQualityHead.foldBatch(docs(b0: _*), 0L, path, budget = 100000L)
    StreamingQualityHead.foldBatch(docs(b1: _*), 1L, path, budget = 100000L)
    assert(headSet(path) === Set(1L, 2L, 3L, 4L))
    assert(StreamingQualityHead.ledger(spark, path)
      .filter(col("evict_batch").isNotNull).count() === 0L)
  }

  test("degenerate single-tier corpus: state stays bounded by the cut marker, verdicts stay exact") {
    val path = newPath()
    // 20 docs, one score tier, 10 tokens each, budget 35 → ids 1-3 fit
    StreamingQualityHead.foldBatch(
      docs((1L to 20L).map(i => (i, 7L, 10L)): _*), 0L, path, budget = 35L)
    assert(headSet(path) === Set(1L, 2L, 3L))
    // the whole rejected roster compresses to ONE cut row (id 4)
    assert(cutAt(path, 0L) === Seq((7L, 4L)))
    // arrivals past the cut are rejected outright — no state growth
    StreamingQualityHead.foldBatch(
      docs((21L to 30L).map(i => (i, 7L, 10L)): _*), 1L, path, budget = 35L)
    assert(headSet(path) === Set(1L, 2L, 3L))
    // an arrival BEFORE the cut inserts, evicts the tail, moves the cut down
    StreamingQualityHead.foldBatch(docs((0L, 7L, 10L)), 2L, path, budget = 35L)
    assert(headSet(path) === Set(0L, 1L, 2L))
    assert(headSet(path) === batchAdmitted(
      (0L to 30L).map(i => (i, 7L, 10L)), 35L))
    assert(cutAt(path, 2L) === Seq((7L, 3L)))
    val led = StreamingQualityHead.ledger(spark, path)
    assert(led.filter(col("evict_batch") === 2L).select("id").as[Long]
      .collect().toSeq === Seq(3L))
    // boundedness: every generation's head+cut rows ≤ budget-sized,
    // regardless of how many docs the tier has rejected
    assert(spark.read.parquet(s"$path/head").filter(col("batch") === 1).count() === 3L)
    assert(cutAt(path, 1L).length === 1)
  }

  test("tier-partitioned head: a fold rewrites only its changed tiers — untouched tiers pin their old generation") {
    val path = newPath()
    def headGens = StreamState.generations(spark, s"$path/head")
    StreamingQualityHead.foldBatch(docs(b0: _*), 0L, path, budget = 100L)
    assert(headGens === Seq(0L))
    // a low-score arrival past the cut: rejected outright, NO head
    // write at all — the fold's head write volume is zero
    StreamingQualityHead.foldBatch(docs((6L, 50L, 5L)), 1L, path, budget = 100L)
    assert(headGens === Seq(0L),
      "a rejected-only fold must not produce a head generation")
    assert(headSet(path) === batchAdmitted(b0 :+ ((6L, 50L, 5L)), 100L))
    // a mid-tier arrival (score 70, fits whole): ONLY its tier is
    // written in generation 2; tier 100 still reads from generation 0
    StreamingQualityHead.foldBatch(docs((7L, 70L, 10L)), 2L, path, budget = 100L)
    assert(headGens === Seq(2L, 0L))
    // r19 flat-generation layout: score is a data column — the
    // write-volume property (a fold rewrites ONLY its changed tiers)
    // is pinned on the generation's row contents
    val gen2Tiers = spark.read.parquet(s"$path/head/batch=2")
      .select("score").distinct().as[Long].collect().toSet
    assert(gen2Tiers === Set(70L),
      "generation 2 must carry ONLY the changed tier")
    assert(headSet(path) === Set(1L, 2L, 7L))
    assert(headSet(path) === batchAdmitted(
      b0 ++ Seq((6L, 50L, 5L), (7L, 70L, 10L)), 100L))
  }

  test("arrivals strictly ABOVE a surviving frontier slide its cut down: the tail evicts with no arrivals in the tier itself") {
    val path = newPath()
    // tier 90 full (50 ≤ 100); tier 80 frontier: doc 2 fits (80), doc 3
    // overflows (110) → head {1, 2}, cut (80, 3)
    StreamingQualityHead.foldBatch(
      docs((1L, 90L, 50L), (2L, 80L, 30L), (3L, 80L, 30L), (4L, 80L, 30L)),
      0L, path, budget = 100L)
    assert(headSet(path) === Set(1L, 2L))
    // doc 5 (score 95, 25 tokens) fits wholly inside the full tiers:
    // the frontier tier is STILL 80, but its prior grew 50→75 and doc
    // 2's inclusive sum now overflows (105) — it must evict even though
    // tier 80 got no arrivals and the frontier never moved
    StreamingQualityHead.foldBatch(docs((5L, 95L, 25L)), 1L, path, budget = 100L)
    assert(headSet(path) === batchAdmitted(
      Seq((1L, 90L, 50L), (2L, 80L, 30L), (3L, 80L, 30L), (4L, 80L, 30L),
        (5L, 95L, 25L)), 100L))
    assert(headSet(path) === Set(1L, 5L))
    assert(cutAt(path, 1L) === Seq((80L, 2L)))
    assert(StreamingQualityHead.ledger(spark, path)
      .filter(col("evict_batch") === 1L).select("id").as[Long]
      .collect().toSeq === Seq(2L))
  }

  test("generation retention: superseded meta/head prune to the window, ledgers keep history, crash-replay survives") {
    val path = newPath()
    // rising scores so every fold evicts: the head churns, generations
    // supersede each other, and the batch-operator equality stays load-bearing
    val batches = (0L until 6L).map(b =>
      Seq((b * 10 + 1, 50L + b, 10L), (b * 10 + 2, 50L + b, 10L)))
    batches.zipWithIndex.foreach { case (rows, b) =>
      StreamingQualityHead.foldBatch(docs(rows: _*), b.toLong, path,
        budget = 40L, retainGenerations = 2)
    }
    def gens(sub: String) = StreamState.generations(spark, s"$path/$sub")
    assert(gens("meta") === Seq(5L, 4L), "meta not pruned to the window")
    // head generations are reference-counted: the retained tiers maps
    // (gens 5 and 4) pin gens {5, 4, 3} — map 4 still points tier 53 at
    // its gen-3 rewrite — and everything older is deleted
    assert(gens("head") === Seq(5L, 4L, 3L),
      "head must keep exactly the generations the retained maps reference")
    assert(gens("arrivals") === (0L until 6L).reverse,
      "the arrivals ledger must keep full history")
    // folds 0-1 fit everything under the budget — nothing CAN evict, so
    // they skip the write (quiet folds write no eviction dir at all);
    // folds 2-5 each push a prior tier past the budget and must write
    assert(gens("evictions").length === 4)
    assert(gens("evictions") === Seq(5L, 4L, 3L, 2L),
      "every fold that could evict wrote its dir; no quiet fold did")
    assert(headSet(path) === batchAdmitted(batches.flatten, 40L))
    // ledger still reconstructs every doc's lifecycle from the full
    // arrivals history + the retained head generations
    assert(StreamingQualityHead.ledger(spark, path).count() === 12L)
    // crash-replay after pruning: batch 5's generation dirs vanish (the
    // crash window) — the retained generation 4 must reconstruct them
    for (sub <- Seq("head", "meta"))
      rmGen(s"$path/$sub/batch=5")
    StreamingQualityHead.foldBatch(docs(batches(5): _*), 5L, path,
      budget = 40L, retainGenerations = 2)
    assert(headSet(path) === batchAdmitted(batches.flatten, 40L))
    assert(gens("meta") === Seq(5L, 4L))
    assert(gens("head") === Seq(5L, 4L, 3L))
  }

  test("pruneGenerations: a 1,000-generation soak collapses to the retention window, idempotently") {
    val base = java.nio.file.Files.createTempDirectory("graft_prune_").toString
    (0 until 1000).foreach { g =>
      val d = new java.io.File(s"$base/batch=$g")
      d.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$base/batch=$g/part-00000"), Array[Byte](1))
    }
    // a non-generation child must survive untouched
    new java.io.File(s"$base/_metadata_dir").mkdirs()
    StreamState.pruneGenerations(spark, base, keep = 3)
    assert(StreamState.generations(spark, base) === Seq(999L, 998L, 997L))
    StreamState.pruneGenerations(spark, base, keep = 3)
    assert(StreamState.generations(spark, base) === Seq(999L, 998L, 997L))
    assert(new java.io.File(s"$base/_metadata_dir").exists())
    // a retention below the replay floor is refused outright
    intercept[IllegalArgumentException] {
      StreamState.pruneGenerations(spark, base, keep = 1)
    }
  }

  test("cross-batch re-arrival of an id no-ops (single arrival row, verdict unchanged)") {
    val path = newPath()
    StreamingQualityHead.foldBatch(docs(b0: _*), 0L, path, budget = 100L)
    StreamingQualityHead.foldBatch(
      docs((1L, 999L, 1L), (4L, 200L, 50L)), 1L, path, budget = 100L)
    val arr = spark.read.parquet(s"$path/arrivals")
      .filter(col("id") === 1L)
    assert(arr.count() === 1L)
    assert(arr.select("score").as[Long].head() === 100L,
      "re-arrival must not overwrite the original arrival verdict")
    assert(headSet(path) === Set(1L, 4L))
  }

  // ------------------------------------------------------------------
  // dynamic budget (raise = ledger resurrection; shrink = evict-only)
  // ------------------------------------------------------------------

  test("a budget raise re-admits evicted and rejected docs exactly; readmissions ledger names them") {
    val path = newPath()
    StreamingQualityHead.foldBatch(docs(b0: _*), 0L, path, budget = 100L)
    StreamingQualityHead.foldBatch(docs(b1: _*), 1L, path, budget = 100L)
    assert(headSet(path) === Set(1L, 4L)) // 2 evicted, 3 rejected
    StreamingQualityHead.foldBatch(docs(b2: _*), 2L, path, budget = 300L)
    // raise: batch head under 300 over everything = all five docs fit?
    // tokens 40+40+30+50+5 = 165 <= 300 → everything admitted
    assert(headSet(path) === batchAdmitted(b0 ++ b1 ++ b2, 300L))
    assert(headSet(path) === Set(1L, 2L, 3L, 4L, 5L))
    val re = spark.read.parquet(s"$path/readmissions")
      .select("id").as[Long].collect().toSet
    // 2 (evicted at 1) and 3 (rejected on arrival) resurrect; 5 is a
    // plain arrival of the raise fold, NOT a readmission
    assert(re === Set(2L, 3L))
  }

  test("fold-by-fold the head tracks the batch operator at THAT fold's budget, through raises and shrinks") {
    val rnd = new scala.util.Random(71)
    val batches = (0 until 5).map(b =>
      (1L to 30L).map(i => (b * 100L + i,
        (rnd.nextInt(6) * 50).toLong, (rnd.nextInt(40) + 1).toLong)))
    val budgets = Seq(200L, 200L, 800L, 300L, 900L) // steady, raise, shrink, raise
    val path = newPath()
    var seen = Seq.empty[(Long, Long, Long)]
    batches.zipWithIndex.foreach { case (b, i) =>
      seen ++= b
      StreamingQualityHead.foldBatch(docs(b: _*), i.toLong, path, budgets(i))
      assert(headSet(path) === batchAdmitted(seen, budgets(i)),
        s"fold $i diverged from the batch head at budget ${budgets(i)}")
    }
    // steady folds write empty readmissions; the raise folds may not
    val reByBatch = spark.read.parquet(s"$path/readmissions")
      .groupBy(col("batch").cast("long").as("b")).count()
      .as[(Long, Long)].collect().toMap
    assert(!reByBatch.contains(0L) && !reByBatch.contains(1L) && !reByBatch.contains(3L),
      s"steady/shrink folds must not readmit: $reByBatch")
  }

  test("degenerate single-tier corpus: a raise recomputes the cut off the ledger and re-arms fact 4") {
    val path = newPath()
    val tier = (1L to 40L).map(i => (i, 100L, 10L)) // one tier, 400 tokens
    StreamingQualityHead.foldBatch(docs(tier: _*), 0L, path, budget = 100L)
    assert(headSet(path) === (1L to 10L).toSet)
    assert(cutAt(path, 0L) === Seq((100L, 11L)))
    StreamingQualityHead.foldBatch(docs((41L, 100L, 10L)), 1L, path, budget = 250L)
    // raise to 250: ids 1..25 fit (250 tokens), cut moves DOWN to 26
    assert(headSet(path) === (1L to 25L).toSet)
    assert(cutAt(path, 1L) === Seq((100L, 26L)))
    // next steady fold rides the re-armed cut: a past-cut arrival rejects
    StreamingQualityHead.foldBatch(docs((50L, 100L, 10L)), 2L, path, budget = 250L)
    assert(headSet(path) === (1L to 25L).toSet)
  }

  test("replaying a committed RAISE fold is a no-op on every table, including readmissions and budget") {
    val path = newPath()
    StreamingQualityHead.foldBatch(docs(b0: _*), 0L, path, budget = 100L)
    StreamingQualityHead.foldBatch(docs(b1: _*), 1L, path, budget = 100L)
    StreamingQualityHead.foldBatch(docs(b2: _*), 2L, path, budget = 300L)
    def snap(sub: String) = spark.read.parquet(s"$path/$sub")
      .collect().map(_.toString).sorted.toSeq
    val tables = Seq("meta", "head",
      "arrivals", "evictions", "readmissions")
    val before = tables.map(s => s -> snap(s))
    StreamingQualityHead.foldBatch(docs(b2: _*), 2L, path, budget = 300L)
    before.foreach { case (sub, rows) =>
      assert(snap(sub) === rows, s"raise replay changed $sub")
    }
  }

  test("lifecycle sheet: eviction/readmission counts and final membership across budget epochs") {
    val path = newPath()
    StreamingQualityHead.foldBatch(docs(b0: _*), 0L, path, budget = 100L)
    StreamingQualityHead.foldBatch(docs(b1: _*), 1L, path, budget = 100L) // 2 evicted
    StreamingQualityHead.foldBatch(docs(b2: _*), 2L, path, budget = 300L) // 2,3 readmitted
    // shrink back to 100: head reverts to {1,4}; 2,3,5 evict
    StreamingQualityHead.foldBatch(docs((60L, 10L, 5L)), 3L, path, budget = 100L)
    assert(headSet(path) === Set(1L, 4L))
    val lc = StreamingQualityHead.lifecycle(spark, path)
      .select("id", "admit", "n_evictions", "n_readmissions", "admitted")
      .as[(Long, Boolean, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(lc(1L) === ((true, 0L, 0L, true)))
    assert(lc(2L) === ((true, 2L, 1L, false)))  // evict@1, readmit@2, evict@3
    assert(lc(3L) === ((false, 1L, 1L, false))) // rejected, readmit@2, evict@3
    assert(lc(4L) === ((true, 0L, 0L, true)))
    assert(lc(5L) === ((true, 1L, 0L, false)))  // admitted@2 (raised), evict@3
    assert(lc(60L) === ((false, 0L, 0L, false)))
  }

  test("layout-migration guard: a pre-consolidation hist/ tree without meta/ fails fast instead of re-initializing") {
    val path = newPath()
    new java.io.File(s"$path/hist/batch=0").mkdirs()
    val e = intercept[IllegalStateException] {
      StreamingQualityHead.foldBatch(docs((1L, 100L, 10L)), 1L, path, 100L)
    }
    assert(e.getMessage.contains("pre-consolidation"))
    // a pre-merge GLOBAL tree (one committed fold over b0 at budget 100,
    // its meta table (kind, k1, v) without the `grp` column) must fail
    // loud too — and write nothing for the new batch
    val old = newPath()
    Seq(("hist", 100L, 80L), ("hist", 50L, 30L), ("tiers", 100L, 0L),
        ("cut", 50L, 3L), ("budget", 0L, 100L))
      .toDF("kind", "k1", "v").coalesce(1).write.parquet(s"$old/meta/batch=0")
    Seq((1L, 40L, 100L), (2L, 40L, 100L)).toDF("id", "tokens", "score")
      .write.parquet(s"$old/head/batch=0")
    Seq((1L, 100L, 40L, true), (2L, 100L, 40L, true), (3L, 50L, 30L, false))
      .toDF("id", "score", "tokens", "admit").write.parquet(s"$old/arrivals/batch=0")
    val e2 = intercept[Exception] {
      StreamingQualityHead.foldBatch(docs(b1: _*), 1L, old, budget = 100L)
    }
    assert(e2.getMessage.contains("grp"), e2.getMessage)
    for (sub <- Seq("head", "arrivals", "meta"))
      assert(!new java.io.File(s"$old/$sub/batch=1").exists(),
        s"the refused fold wrote $sub/batch=1")
  }

  test("the single-group front's sheets keep the global column sets: no grp column leaks") {
    val path = newPath()
    def cols(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => f.name -> f.dataType.simpleString)
    val headCols = Seq("id" -> "bigint", "score" -> "bigint", "tokens" -> "bigint")
    // budget 0: the empty head is served from the literal empty frame
    StreamingQualityHead.foldBatch(docs(b0: _*), 0L, path, budget = 0L)
    assert(cols(StreamingQualityHead.head(spark, path)) === headCols)
    StreamingQualityHead.foldBatch(docs(b1: _*), 1L, path, budget = 100L)
    StreamingQualityHead.foldBatch(docs(b2: _*), 2L, path, budget = 50L)
    assert(cols(StreamingQualityHead.head(spark, path)) === headCols)
    assert(StreamingQualityHead.ledger(spark, path).columns.toSeq === Seq(
      "id", "arrival_batch", "score", "tokens", "admit", "evict_batch", "admitted"))
    assert(StreamingQualityHead.lifecycle(spark, path).columns.toSeq === Seq(
      "id", "arrival_batch", "score", "tokens", "admit", "n_evictions",
      "n_readmissions", "admitted"))
  }
}
