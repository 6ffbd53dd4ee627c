package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions.col

import java.nio.file.Files

/** [[FetchedFrame.strings]] reads what a `collect()` and `getAs[String]`
  * read, on any plan. */
class FetchedFrameSpec extends SparkSpec {
  import spark.implicits._

  private def viaCollect(frame: DataFrame, columns: String*): Seq[Seq[String]] =
    frame.collect().toSeq.map(r => columns.map(c => r.getAs[String](c)))

  private def read(frame: DataFrame, columns: String*): Seq[Seq[String]] =
    FetchedFrame.strings(frame, columns: _*).toSeq.map(_.toSeq)

  /** Jobs started by `body`, counted by job group. */
  private def jobs(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    GraftBridge.drainListeners(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private val frame = Seq(
    (1, "{\"attributes\":[]}", "n1", 2.5),
    (2, null, "n2", 0.0),
    (3, "x", null, 1.0),
    (4, null, null, 0.5)).toDF("id", "payload", "node", "extra")

  test("columns by name, in either order, beside other columns, nulls as null") {
    for (cols <- Seq(Seq("node", "payload"), Seq("payload", "node"), Seq("payload"), Seq("node")))
      assert(read(frame, cols: _*) === viaCollect(frame, cols: _*), cols)
    assert(read(frame, "node", "payload").map(_.head) === Seq("n1", "n2", null, null))
  }

  test("an empty frame reads as no rows") {
    val empty = frame.filter(col("id") < 0)
    assert(read(empty, "node", "payload") === Nil)
    assert(read(Seq.empty[(String, String)].toDF("node", "payload"), "payload") === Nil)
  }

  test("a local frame starts no job; a non-local frame runs its plan") {
    assert(jobs("fetched-local")(read(frame, "node", "payload")) === 0)
    val dir = Files.createTempDirectory("graft-fetched").resolve("t").toString
    frame.write.parquet(dir)
    val stored = spark.read.parquet(dir).filter(col("id") =!= 3).select("extra", "node", "payload")
    var got: Seq[Seq[String]] = Nil
    assert(jobs("fetched-parquet") { got = read(stored, "node", "payload") } > 0)
    assert(got.sortBy(_.mkString) === viaCollect(stored, "node", "payload").sortBy(_.mkString))
    assert(got.size === 3)
  }

  test("a non-string or missing column fails loudly, never reads as blank") {
    val numeric = Seq(("n1", 7L)).toDF("node", "payload")
    val e = intercept[IllegalArgumentException](FetchedFrame.strings(numeric, "node", "payload"))
    assert(e.getMessage.contains("payload"))
    intercept[IllegalArgumentException](FetchedFrame.strings(frame, "missing"))
  }
}
