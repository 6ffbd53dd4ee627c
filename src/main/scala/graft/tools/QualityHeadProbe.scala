package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Job-level anatomy of the evictive quality-head fold (optimization
  * guide §1) — the FoldProbe methodology pointed at
  * [[graft.streaming.StreamingGroupQualityHead]], the single fold
  * implementation behind x150/x151/x159/x160-class rows (~100 s of the
  * battery).
  *
  * Runs `foldBatch` directly on x150/x160-shaped batches from sf0.1 and
  * prints, per SQL-execution (= one fold ACTION), the job count and the
  * action's driver callsite (`callSite.short` from the job properties) —
  * so every job maps back to a foldBatch code line. `SPARK_GRAFT_QH_MODE`
  * = `global` (x150 shape, through the one-group front
  * [[graft.streaming.StreamingQualityHead]]) | `group` (x160 dynamic
  * shape, raise at fold 2).
  */
object QualityHeadProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val mode = sys.env.getOrElse("SPARK_GRAFT_QH_MODE", "global")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-qhprobe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val d = graft.sources.Tables.documents(spark, sfDir)
    val rows = d.select(col("doc_id"), col("source"),
        round(graft.ext.TextAnalysis.qualityScore(col("text")) * 1000000, 0)
          .cast("long").as("score_k"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .as[(Long, String, Long, Long)].collect().toSeq
    def batchDf(b: Long) = rows.filter(r => (r._1 / 4) % 4 == b)
      .toDF("doc_id", "source", "score_k", "n_tokens")

    // per-ACTION job counts keyed by (execId, callsite), in execution order
    case class E(var jobs: Int = 0, var site: String = "",
      var first: Long = 0, var last: Long = 0)
    val byExec = new java.util.concurrent.ConcurrentHashMap[String, E]()
    var jobCount = 0
    val l = new SparkListener {
      override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          // the driver callsite of the action that opened this execution:
          // first in-repo frame of the callsite details
          val site = s.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("QualityHeadProbe"))
            .getOrElse(s.description.take(60)).trim.take(90)
          val ee = byExec.computeIfAbsent(s.executionId.toString,
            _ => E(first = System.nanoTime()))
          ee.synchronized { if (ee.site.isEmpty) ee.site = site }
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        synchronized { jobCount += 1 }
        val p = Option(e.properties)
        val ex = p.flatMap(q => Option(q.getProperty("spark.sql.execution.root.id"))
            .orElse(Option(q.getProperty("spark.sql.execution.id"))))
          .getOrElse {
            // non-SQL (RDD-level) job: attribute by callsite, else by the
            // first stage's name + first in-repo frame of its details
            "none: " + p.flatMap(q => Option(q.getProperty("callSite.short")))
              .getOrElse {
                val si = e.stageInfos.headOption
                val nm = si.map(_.name.takeWhile(_ != '(')).getOrElse("?")
                val fr = si.flatMap(_.details.linesIterator
                  .find(_.contains("graft."))).getOrElse("").trim.take(70)
                s"$nm $fr"
              }
          }
        val ee = byExec.computeIfAbsent(ex, _ => E(first = System.nanoTime()))
        ee.synchronized { ee.jobs += 1; ee.last = System.nanoTime() }
      }
    }

    val path = java.nio.file.Files.createTempDirectory("graft_qhprobe_").toString
    val budgetsAvail = rows.groupBy(_._2).map { case (s, rs) => s -> rs.map(_._4).sum }
    def fold(b: Long): Unit = mode match {
      case "global" =>
        graft.streaming.StreamingQualityHead.foldBatch(
          batchDf(b).select("doc_id", "score_k", "n_tokens"), b, path,
          budget = 60000L)
      case "group" =>
        // x160 shape: per-source budgets, raise at fold 2
        val scale = if (b < 2L) 0.3 else 0.65
        val budgets = budgetsAvail.map { case (s, t) => s -> (t * scale).toLong }
        graft.streaming.StreamingGroupQualityHead.foldBatch(
          batchDf(b), b, path, budgets)
      case other => sys.error(s"unknown SPARK_GRAFT_QH_MODE $other")
    }

    fold(0) // warm-up: JIT + codegen + state bootstrap
    spark.sparkContext.addSparkListener(l)
    val t0 = System.nanoTime()
    (1L to 3L).foreach(fold)
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(l)
    Thread.sleep(500)
    import scala.jdk.CollectionConverters._
    val es = byExec.asScala.toSeq
      .sortBy(e => scala.util.Try(e._1.toLong).getOrElse(Long.MaxValue))
    println(f"qhprobe mode=$mode folds=1..3 wall=$wall%6.2f s jobs=$jobCount " +
      s"actions=${es.size}")
    es.foreach { case (id, e) =>
      println(f"  exec $id%4s jobs=${e.jobs}%3d " +
        f"span=${(e.last - e.first) / 1e6}%7.1f ms  ${e.site}")
    }
    // aggregate per callsite: where do the jobs come from?
    println("  -- by callsite --")
    es.groupBy { case (k, e) => if (k.startsWith("none")) k else e.site }.toSeq
      .map { case (s, xs) => (s, xs.size, xs.map(_._2.jobs).sum) }
      .sortBy(-_._3)
      .foreach { case (s, n, j) => println(f"  execs=$n%3d jobs=$j%4d  $s") }
    spark.stop()
  }
}
