package graft.streaming

import graft.SparkSpec
import graft.ext.Packing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** StreamingPack, both layouts: folds over arrival batches must equal
  * one batch packChunked / packGreedyOrdered pass in arrival order, under
  * replay, crash windows, re-arrivals, tape gaps, and state retention. */
class StreamingChunkPackSpec extends SparkSpec {
  import spark.implicits._

  private val L = 64L
  private val chunk = StreamingPack.Chunk(L)
  private val greedy = StreamingPack.Greedy(L)

  private def mk(rows: Seq[(Long, Long, Long)]): DataFrame =
    rows.toDF("doc_id", "shard", "n_tokens")

  /** The batch reference: arrival order = (batch index, doc_id) per
    * shard, pos/fragments from the batch operator. */
  private def reference(batches: Seq[Seq[(Long, Long, Long)]]): Seq[Seq[Any]] = {
    val all = batches.zipWithIndex.flatMap { case (b, i) =>
      b.map(r => (r._1, r._2, r._3, i.toLong))
    }.filter(_._3 > 0L)
    val ordered = all.groupBy(_._2).toSeq.flatMap { case (_, ds) =>
      ds.sortBy(d => (d._4, d._1)).zipWithIndex
        .map { case ((id, sh, n, _), i) => (id, sh, i + 1L, n) }
    }
    Packing.packChunked(
        ordered.toDF("doc_id", "shard", "pos", "n_tokens"),
        L, Seq("shard"), orderCol = "pos")
      .select("doc_id", "shard", "pos", "seq", "frag_start", "frag_len", "doc_off")
      .orderBy("doc_id", "seq").collect().toSeq.map(_.toSeq)
  }

  private def streamed(path: String): Seq[Seq[Any]] =
    StreamingPack.fragments(spark, path)
      .select(col("id").as("doc_id"), col("shard"), col("pos"), col("seq"),
        col("frag_start"), col("frag_len"), col("doc_off"))
      .orderBy("doc_id", "seq").collect().toSeq.map(_.toSeq)

  test("three folds equal one batch packChunked pass in arrival order; zero-token docs carry nothing") {
    val rnd = new scala.util.Random(57)
    val batches = Seq(
      (1L to 30L).map(i => (i, i % 3, (rnd.nextInt(100) + 1).toLong)),
      (31L to 60L).map(i => (i, i % 3, if (i == 40L) 0L else (rnd.nextInt(100) + 1).toLong)),
      (61L to 90L).map(i => (i, i % 3, (rnd.nextInt(150) + 1).toLong)))
    val path = java.nio.file.Files.createTempDirectory("graft_scp_fb_").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingPack.foldBatch(mk(b), i.toLong, path, chunk)
    }
    val got = streamed(path)
    assert(got === reference(batches))
    // the zero-token doc holds no fragment and consumed no tape position
    assert(!got.exists(_.head == 40L))
  }

  test("replay of a committed batch is a no-op; crash window (frags committed, totals not) rebuilds identical state") {
    val b1 = (1L to 20L).map(i => (i, i % 2, 10L + i % 5))
    val b2 = (21L to 40L).map(i => (i, i % 2, 10L + i % 5))
    val path = java.nio.file.Files.createTempDirectory("graft_scp_rp_").toString
    StreamingPack.foldBatch(mk(b1), 0L, path, chunk)
    StreamingPack.foldBatch(mk(b2), 1L, path, chunk)
    val fragsOnce = streamed(path)
    val totalsOnce = spark.read.parquet(s"$path/totals")
      .orderBy("batch", "shard").collect().toSeq
    // retry after both writes committed: the re-arrival guard no-ops
    StreamingPack.foldBatch(mk(b2), 1L, path, chunk)
    assert(streamed(path) === fragsOnce)
    assert(spark.read.parquet(s"$path/totals")
      .orderBy("batch", "shard").collect().toSeq === totalsOnce)
    // crash window: frags/batch=1 durable, totals/batch=1 lost — the
    // replay must rewrite the SAME fragments and totals, never extend
    // the tape twice
    val fs = new java.io.File(s"$path/totals/batch=1")
    fs.listFiles().foreach(_.delete()); fs.delete()
    StreamingPack.foldBatch(mk(b2), 1L, path, chunk)
    assert(streamed(path) === fragsOnce)
    assert(spark.read.parquet(s"$path/totals")
      .orderBy("batch", "shard").collect().toSeq === totalsOnce)
    assert(fragsOnce === reference(Seq(b1, b2)))
  }

  test("a doc re-arriving in a LATER batch never re-enters a tape") {
    val b1 = Seq((1L, 0L, 50L), (2L, 0L, 50L))
    val b2 = Seq((2L, 0L, 50L), (3L, 0L, 50L)) // 2 re-arrives
    val path = java.nio.file.Files.createTempDirectory("graft_scp_ra_").toString
    StreamingPack.foldBatch(mk(b1), 0L, path, chunk)
    StreamingPack.foldBatch(mk(b2), 1L, path, chunk)
    val got = streamed(path)
    assert(got.count(_.head == 2L) === got.filter(_.head == 2L).map(_(3)).distinct.size)
    assert(got === reference(Seq(b1, Seq((3L, 0L, 50L)))))
  }

  test("a shard absent from a batch carries its tape forward unchanged") {
    val b1 = Seq((1L, 0L, 40L), (2L, 1L, 40L))
    val b2 = Seq((3L, 1L, 40L))              // shard 0 idle
    val b3 = Seq((4L, 0L, 40L))              // shard 0 resumes at offset 40
    val path = java.nio.file.Files.createTempDirectory("graft_scp_gap_").toString
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      StreamingPack.foldBatch(mk(b), i.toLong, path, chunk)
    }
    // doc 4 continues shard 0's tape: [40, 80) spans the 64 boundary
    val frag4 = streamed(path).filter(_.head == 4L)
    assert(frag4 === Seq(Seq(4L, 0L, 2L, 0L, 40L, 24L, 0L),
      Seq(4L, 0L, 2L, 1L, 0L, 16L, 24L)))
  }

  test("seq sheet: every sequence except each shard's last is final; an exactly-full last sequence is final too") {
    val b1 = Seq((1L, 0L, 64L), (2L, 0L, 40L), (3L, 1L, 64L)) // shard1 tape = exactly one seq
    val b2 = Seq((4L, 0L, 30L))
    val path = java.nio.file.Files.createTempDirectory("graft_scp_sheet_").toString
    StreamingPack.foldBatch(mk(b1), 0L, path, chunk)
    StreamingPack.foldBatch(mk(b2), 1L, path, chunk)
    val sheet = StreamingPack.seqSheet(spark, path, L)
      .select("shard", "seq", "n_frags", "n_doc_starts", "filled", "is_final")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // shard 0 tape: doc1 [0,64) doc2 [64,104) doc4 [104,134)
    assert(sheet((0L, 0L)) === ((1L, 1L, 64L, true)))  // full, final
    assert(sheet((0L, 1L)) === ((2L, 2L, 64L, true)))  // filled exactly by doc4's head
    assert(sheet((0L, 2L)) === ((1L, 0L, 6L, false)))  // last, still filling
    // shard 1's last sequence is exactly full → final despite being last
    assert(sheet((1L, 0L)) === ((1L, 1L, 64L, true)))
  }

  // ------------------------------------------------------------------
  // the Greedy layout (whole-doc bins; state = one open bin per shard)
  // ------------------------------------------------------------------

  private def greedyReference(batches: Seq[Seq[(Long, Long, Long)]]): Seq[Seq[Any]] = {
    val all = batches.zipWithIndex.flatMap { case (b, i) =>
      b.map(r => (r._1, r._2, r._3, i.toLong))
    }.filter(_._3 > 0L)
    val ordered = all.groupBy(_._2).toSeq.flatMap { case (_, ds) =>
      ds.sortBy(d => (d._4, d._1)).zipWithIndex
        .map { case ((id, sh, n, _), i) => (0L, sh, i + 1L, id, n) }
    }
    Packing.packGreedyOrdered(spark,
        ordered.toDF("epoch", "shard", "pos", "doc_id", "n_tokens"), L)
      .select(col("doc_id"), col("shard"), col("pos"), col("bin"),
        col("n_tokens"))
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
  }

  private def greedyStreamed(path: String): Seq[Seq[Any]] =
    StreamingPack.assignments(spark, path)
      .select(col("id").as("doc_id"), col("shard"), col("pos"), col("bin"),
        col("n_tokens"))
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)

  test("greedy: three folds equal one batch packGreedyOrdered pass in arrival order; open bins carry across batches") {
    val rnd = new scala.util.Random(63)
    val batches = Seq(
      (1L to 30L).map(i => (i, i % 3, (rnd.nextInt(50) + 1).toLong)),
      (31L to 60L).map(i => (i, i % 3, (rnd.nextInt(50) + 1).toLong)),
      (61L to 90L).map(i => (i, i % 3, (rnd.nextInt(80) + 1).toLong)))
    val path = java.nio.file.Files.createTempDirectory("graft_sgp_fb_").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingPack.foldBatch(mk(b), i.toLong, path, greedy)
    }
    assert(greedyStreamed(path) === greedyReference(batches))
  }

  test("greedy: carried bin continues exactly — a batch that never closes it adds to its acc; the next overflow closes it") {
    val b1 = Seq((1L, 0L, 30L))            // open bin 0: acc 30
    val b2 = Seq((2L, 0L, 20L))            // still bin 0: acc 50
    val b3 = Seq((3L, 0L, 20L), (4L, 0L, 10L)) // 3 overflows (50+20>64) → bin 1; 4 joins bin 1
    val path = java.nio.file.Files.createTempDirectory("graft_sgp_carry_").toString
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      StreamingPack.foldBatch(mk(b), i.toLong, path, greedy)
    }
    val got = greedyStreamed(path).map(r => r.head -> (r(2), r(3))).toMap
    assert(got(1L) === ((1L, 0L)))
    assert(got(2L) === ((2L, 0L)))
    assert(got(3L) === ((3L, 1L)))
    assert(got(4L) === ((4L, 1L)))
    assert(greedyStreamed(path) === greedyReference(Seq(b1, b2, b3)))
  }

  test("greedy: replay no-op; crash window (bins durable, totals lost) rebuilds identical state") {
    val b1 = (1L to 20L).map(i => (i, i % 2, 10L + i % 5))
    val b2 = (21L to 40L).map(i => (i, i % 2, 10L + i % 5))
    val path = java.nio.file.Files.createTempDirectory("graft_sgp_rp_").toString
    StreamingPack.foldBatch(mk(b1), 0L, path, greedy)
    StreamingPack.foldBatch(mk(b2), 1L, path, greedy)
    val binsOnce = greedyStreamed(path)
    val totalsOnce = spark.read.parquet(s"$path/totals")
      .orderBy("batch", "shard").collect().toSeq
    StreamingPack.foldBatch(mk(b2), 1L, path, greedy)
    assert(greedyStreamed(path) === binsOnce)
    assert(spark.read.parquet(s"$path/totals")
      .orderBy("batch", "shard").collect().toSeq === totalsOnce)
    val fs = new java.io.File(s"$path/totals/batch=1")
    fs.listFiles().foreach(_.delete()); fs.delete()
    StreamingPack.foldBatch(mk(b2), 1L, path, greedy)
    assert(greedyStreamed(path) === binsOnce)
    assert(spark.read.parquet(s"$path/totals")
      .orderBy("batch", "shard").collect().toSeq === totalsOnce)
    assert(binsOnce === greedyReference(Seq(b1, b2)))
  }

  // FoldAsync overlaps a fold's ledger and totals writes, so a crash can
  // leave ANY subset of batch N's two dirs on disk, not only a prefix:
  // re-folding N must converge to the uncrashed state from each
  Seq(("chunk", chunk, "frags"), ("greedy", greedy, "bins")).foreach {
    case (name, layout, ledger) =>
      test(s"$name: a crash leaving any subset of {ledger, totals} of batch N on disk replays to the uncrashed state") {
        val b0 = (1L to 12L).map(i => (i, i % 2, 9L + i % 7))
        // shard 1 idle in batch 1 (its totals carry), shard 2 new
        val b1 = (13L to 24L).map(i => (i, i % 2 * 2, 9L + i % 7))
        val path = java.nio.file.Files.createTempDirectory(s"graft_sp_sub_$name").toString
        StreamingPack.foldBatch(mk(b0), 0L, path, layout)
        StreamingPack.foldBatch(mk(b1), 1L, path, layout)
        def state = {
          val rows = LedgerState.view(spark, s"$path/$ledger", exclude = -1L)
          (rows.orderBy(rows.columns.map(col): _*).collect().toSeq,
            spark.read.parquet(s"$path/totals").orderBy("batch", "shard")
              .collect().toSeq)
        }
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        val once = state
        for (ledgerOnDisk <- Seq(true, false); totalsOnDisk <- Seq(true, false)) {
          if (!ledgerOnDisk) rm(new java.io.File(s"$path/$ledger/batch=1"))
          if (!totalsOnDisk) rm(new java.io.File(s"$path/totals/batch=1"))
          StreamingPack.foldBatch(mk(b1), 1L, path, layout)
          assert(state === once,
            s"ledger on disk: $ledgerOnDisk, totals on disk: $totalsOnDisk")
        }
      }
  }

  test("retention prunes totals generations; the fragment ledger keeps history and later folds stay exact") {
    val batches = (0L until 6L).map(b =>
      (b * 10 + 1 to b * 10 + 10).map(i => (i, i % 2, 7L)))
    val path = java.nio.file.Files.createTempDirectory("graft_scp_ret_").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingPack.foldBatch(mk(b), i.toLong, path, chunk, retainGenerations = 2)
    }
    val gens = StreamState.generations(spark, s"$path/totals")
    assert(gens.size <= 2 && gens.contains(5L),
      s"totals must prune to the retention window, got $gens")
    assert(StreamState.generations(spark, s"$path/frags").size === 6)
    assert(streamed(path) === reference(batches))
  }
}
