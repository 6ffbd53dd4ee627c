package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The stage-cut seam's three modes and its exception-safety contract:
  * Durable cuts round-trip frames bit-exactly through the scratch dir
  * and clean up (on release, and crash leftovers at construction);
  * tracked frames drop their blocks even when the fold throws — the
  * fold bodies run `release()` in a `finally`. */
class StageCutsSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath() =
    java.nio.file.Files.createTempDirectory("graft_cuts_").toString

  test("durable cuts: read-back equals input, downstream plan is a flat scan, release deletes the scratch") {
    val scratch = s"${freshPath()}/_stage"
    val cuts = new StageCuts(spark, scratch,
      forceMode = Some(StageCuts.Durable))
    val df = (1L to 100L).map(i => (i, s"d$i")).toDF("id", "v")
      .filter(col("id") % 3 =!= 0)
    val cut = cuts(df)
    assert(cut.orderBy("id").collect().toSeq ===
      df.orderBy("id").collect().toSeq)
    // the whole point of the durable cut: downstream plans analyze a
    // flat file scan, not the upstream expression tree
    assert(cut.queryExecution.optimizedPlan.toString.contains("Relation"),
      "a durable cut must hand downstream plans a file scan")
    assert(new java.io.File(scratch).exists())
    val second = cuts(df.select(col("id") * 2 as "id2"))
    assert(second.count() === 67L)
    cuts.release()
    assert(!new java.io.File(scratch).exists(),
      "release must delete the fold's scratch — all actions have run")
  }

  test("durable cuts: construction clears a crashed fold's scratch leftovers") {
    val scratch = s"${freshPath()}/_stage"
    val stale = new java.io.File(s"$scratch/stage-7")
    assert(stale.mkdirs())
    new StageCuts(spark, scratch, forceMode = Some(StageCuts.Durable))
    assert(!stale.exists(),
      "a stale higher-numbered stage from a crashed fold must not survive")
  }

  test("a throwing fold releases its tracked blocks (release runs in finally)") {
    val path = freshPath()
    // fold 0: healthy — creates verdicts + totals state
    StreamingBudgetAdmission.foldBatch(
      (1L to 10L).map(i => (i, "web", 5L)).toDF("doc_id", "source", "n_tokens"),
      0L, path, 100000L, bucketK = 4, compactEvery = 8)
    // corrupt the totals snapshot: fold 1 reads it AFTER tracking its
    // dedup frame, so the throw lands inside the fold body
    val totals = new java.io.File(s"$path/totals")
    totals.listFiles().foreach { g =>
      g.listFiles().foreach(f => assert(f.delete())); ()
    }
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception] {
      StreamingBudgetAdmission.foldBatch(
        (11L to 20L).map(i => (i, "web", 5L)).toDF("doc_id", "source", "n_tokens"),
        1L, path, 100000L, bucketK = 4, compactEvery = 8)
    }
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before,
      s"a throwing fold must not leak tracked blocks ($before -> $after)")
  }
}
