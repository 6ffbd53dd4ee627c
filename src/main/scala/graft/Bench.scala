package graft

import org.apache.spark.sql.SparkSession

/**
 * Benchmark main (driver contract): times every SparkEntry query at
 * SPARK_GRAFT_SF_DIR and prints ONE JSON line
 * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
 *
 * Each query is materialized through the `noop` sink — unlike `count()`,
 * this computes every output column (count() lets Catalyst prune the
 * projections away and would time only the scan).
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JIT/codegen warm-up on the smallest fixture so per-query timings
    // measure the plan, not first-call JVM compilation.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // A failed query records its elapsed time NEGATED (sentinel) and its
    // name in "failed" — a fast failure must not look like a fast success.
    // SPARK_GRAFT_ONLY=q1,q2 restricts the battery (iteration aid; the
    // driver runs the full set). SPARK_GRAFT_RUNS=N (default 3) runs each
    // query N times and reports the per-query MEDIAN — single-shot timings
    // on this box have documented ±40% noise (PERF.md), which burned two
    // rounds on regression adjudication; medians make timings comparable
    // across rounds.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt.max(1)
    val selected = SparkEntry.queries.filter { case (k, _) => only.forall(_.contains(k)) }
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // Between runs (outside the timing): drop cached blocks left by
      // operators that persist() internally (near-dup pipelines). Each
      // query is standalone; leftover blocks from predecessors only add
      // storage pressure and evict-churn to successors.
      spark.catalog.clearCache()
      (elapsed, ok)
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    // Between QUERIES (never inside a timing): force a full GC and let
    // the JVM settle. A heavy neighbor (x17's PPJoin) otherwise leaves
    // GC debt + dangling shuffle state that inflated its successors by
    // 3-6x in the round-6 battery (x20 read 8.3 s in-battery vs 1.6 s
    // isolated). System.gc() also lets the ContextCleaner reap shuffle
    // files whose RDDs are now unreachable. The settle time is NOT in
    // the reported metric — the JSON total is the sum of query medians.
    def settle(): Unit = {
      spark.catalog.clearCache()
      System.gc(); System.gc()
      Thread.sleep(sys.env.getOrElse("SPARK_GRAFT_SETTLE_MS", "300").toLong)
    }
    // Prior committed battery (read BEFORE this run overwrites the
    // file): the reference the self-adjudication below compares against.
    val priorQueries: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/root/repo/BENCH_LOCAL.json")), "UTF-8")
        val qstart = txt.indexOf("\"queries\":{")
        if (qstart < 0) Map.empty
        else {
          val body = txt.substring(qstart + 11, txt.indexOf("}", qstart))
          "\"([^\"]+)\":(-?[0-9.]+)".r.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      } catch { case _: Throwable => Map.empty }
    // PARTIAL-RESULT insurance: round 19's driver battery was killed by
    // the harness timeout (rc 124) with ZERO queries recorded — the
    // whole round's bench evidence was lost even though most rows had
    // finished. If the JVM gets SIGTERM'd mid-battery, this hook prints
    // the SAME one-line JSON over the queries that DID complete, marked
    // "partial":true and "aborted":"signal", so a timeout degrades to a
    // partial battery instead of nothing; an exception that escapes the
    // battery prints the same line with its class in "aborted". It
    // formats strings only (no Spark calls — Spark's own shutdown hook is
    // stopping the context concurrently) and never touches
    // BENCH_LOCAL.json (a partial run must not clobber the authoritative
    // committed record).
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Boolean)]()

    /** The battery and the adjudications, with each query recorded in
      * `done` as it completes. */
    def battery(): (Seq[(String, Double, Boolean)], String) = {
      val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        settle()
        val trials = (1 to runs).map(_ => timeOnce(name, fn))
        val ok = trials.forall(_._2)
        val m = median(trials.map(_._1))
        done.add((name, if (ok) m else -m, ok))
        (name, if (ok) m else -m, ok)
      }
      // SELF-ADJUDICATING battery: every mover vs the prior committed
      // battery (>1.5x AND >0.8s — the adjudication bar three rounds
      // re-derived by hand for x76-class battery-context noise) re-runs
      // AT BATTERY END after a settle, and
      // the JSON records both numbers. An end-of-battery median-of-3
      // approximates the isolated re-bench: the noise mode is GC debt +
      // storage pressure from heavy NEIGHBORS mid-battery, which is gone
      // once the battery has drained and settle() has run. A mover whose
      // isolated median stays high is a real regression; one that returns
      // to the prior band was context noise — the artifact now carries
      // its own verdict. Full-battery runs only (iteration slices have no
      // authoritative prior).
      val adjudications =
        if (only.nonEmpty) Seq.empty
        else results.flatMap { case (name, v, ok) =>
          priorQueries.get(name) match {
            case Some(p) if ok && p > 0 && v > p * 1.5 && v - p > 0.8 =>
              settle()
              val fn = selected(name)
              val iso = median((1 to 3).map(_ => timeOnce(name, fn)._1))
              Seq((name, v, p, iso))
            case _ => Seq.empty
          }
        }
      val adjJson = adjudications.map { case (k, v, p, iso) =>
        "\"" + k + "\":" + f"""{"battery":$v%.3f,"prior":$p%.3f,"isolated_median":$iso%.3f}"""
      }.mkString("{", ",", "}")
      (results, adjJson)
    }
    // The main path, an exception escaping the battery and the hook race
    // on this one flag, so exactly one JSON line is printed.
    val printed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def printPartial(aborted: String): Unit =
      if (printed.compareAndSet(false, true)) {
        import scala.jdk.CollectionConverters._
        println(jsonFor(done.asScala.toSeq.sortBy(_._1), "{}", sfDir, Some(aborted)))
        System.out.flush()
      }
    java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() => printPartial("signal")))
    val (results, adjJson) =
      try battery()
      catch { case e: Throwable => printPartial(e.getClass.getName); throw e }
    val json = jsonFor(results, adjJson, sfDir)
    // the shutdown hook won the race (a signal after the battery): it has
    // printed the partial line and the JVM is going down
    if (!printed.compareAndSet(false, true)) return
    // The driver's record keeps only the last 2000 chars of output — too
    // short for the full per-query map at 110+ queries. Persist the full
    // JSON as a repo artifact so per-query baselines never depend on
    // scraping a truncated tail (PERF.md points here). FULL-battery runs
    // only — a SPARK_GRAFT_ONLY iteration run must not clobber the
    // authoritative record.
    if (only.isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("/root/repo/BENCH_LOCAL.json"),
        (json + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    println(json)
    spark.stop()
  }

  /** The one JSON line. `aborted` marks a partial line over the queries
    * that completed: `"signal"` when the JVM shuts down mid-battery, or
    * the class of the exception that escaped the battery. */
  def jsonFor(rs: Seq[(String, Double, Boolean)], adjJson: String, sfDir: String,
      aborted: Option[String] = None): String = {
    val qs = rs.map { case (k, v, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val failed = rs.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = rs.collect { case (_, v, true) => v }.sum
    val p = aborted.fold("")(a => "\"partial\":true,\"aborted\":\"" + a + "\",")
    f"""{"metric":"total",$p"value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failed,"adjudications":$adjJson,"sf":"$sfDir"}"""
  }
}
