package perfbench

import graft.SparkEntry
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** What a workload hands back: its set-up times, correctness failures,
  * descriptive numbers, which layer timings partition an op's wall time,
  * and the result directories to check against each row's oracle. */
final case class WorkloadRun(
    setupS: Seq[Double],
    failures: Seq[String],
    info: Map[String, Any],
    covering: Set[String],
    oracle: Map[String, Seq[String]] = Map.empty)

/** One benchmark run in one JVM on `local[cores]` with one closed-loop
  * caller. Arguments: `--workload --inputs --work --out --seconds --trace
  * --cores`. Writes `<out>/jvm_result.json` with every op's wall time
  * (and, traced, its layer and Spark numbers); the Python runner turns it
  * into metrics and runs the DuckDB oracles. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val traced = opt("trace") == "1"
    val seconds = opt("seconds").toDouble
    val cores = opt("cores")
    val work = opt("work")
    val out = opt("out")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val rec = new Recorder(traced)
      val counters = if (traced) {
        val c = new SparkCounters
        spark.sparkContext.addSparkListener(c)
        Some(c)
      } else None
      val run = workload match {
        case "control_ticks" => ControlTicks.run(spark, opt("inputs"), seconds, rec)
        case "curation_stream" =>
          CurationStream.run(spark, opt("inputs"), work, out, seconds, rec)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      counters.foreach(_ => PerfbenchBridge.drainListeners(spark.sparkContext))
      val ops = rec.ops.map { o =>
        Map("kind" -> o.kind, "measured" -> o.measured, "wall_ms" -> o.wallMs, "cpu_ms" -> o.cpuMs, "ok" -> o.ok, "items" -> o.items,
          "pass" -> o.pass, "gc_ms" -> o.gcMs, "layers" -> o.layers,
          "spark" -> counters.map(_.forOp(o)))
      }
      val result = Map(
        "workload" -> workload, "cores" -> cores.toInt, "traced" -> traced,
        "setup_s" -> run.setupS, "ops" -> ops, "failures" -> run.failures,
        "info" -> run.info, "covering" -> run.covering.toSeq.sorted,
        "oracle" -> run.oracle,
        "oracle_sql" -> run.oracle.keys.map(k => k -> SparkEntry.oracleSql(k)).toMap,
        "peak_rss_mb" -> peakRssMb)
      Files.write(Paths.get(out, "jvm_result.json"),
        Json.render(result).getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  /** The JVM's resident-set high-water mark (Linux `VmHWM`). */
  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
}
