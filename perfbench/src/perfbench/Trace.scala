package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One measured op (a tick, an arrival batch, a batch row): its wall
  * interval and the time of each timed layer call made for it. */
final class Op(val kind: String, val index: Int, val measured: Boolean) {
  var startMs = 0L
  var endMs = 0L
  var wallMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0L
  var ok = true
  /** Work items the op handled: node payloads, documents or input rows. */
  var items = 0.0
  /** The pass over the workload's input that the op belongs to. */
  var pass = 0
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(layer: String, ms: Double): Unit = layers(layer) = layers.getOrElse(layer, 0.0) + ms
}

/** Benchmark-side spans of one run. Layer spans are timed only when
  * tracing is on, so the untraced run measures the bare calls. */
final class Recorder(val traced: Boolean) {
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  private var running: Option[Op] = None
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcTotal: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Runs one op, closed loop; a thrown error marks the op failed.
    * Warm-up ops (`measured = false`) are checked but not timed into
    * the metrics. */
  def op[T](kind: String, measured: Boolean = true)(body: => T): (Op, Option[T]) = {
    val o = new Op(kind, ops.size, measured)
    running = Some(o)
    val gc0 = gcTotal
    o.startMs = System.currentTimeMillis()
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $kind #${o.index} failed: $e")
        o.ok = false
        None
    }
    o.wallMs = (System.nanoTime() - t0) / 1e6
    o.cpuMs = (os.getProcessCpuTime - cpu0) / 1e6
    o.endMs = System.currentTimeMillis()
    o.gcMs = gcTotal - gc0
    running = None
    ops += o
    (o, r)
  }

  /** A timed call into one layer from inside the running op. */
  def span[T](layer: String)(body: => T): T =
    if (!traced || running.isEmpty) body
    else {
      val t0 = System.nanoTime()
      try body finally running.foreach(_.add(layer, (System.nanoTime() - t0) / 1e6))
    }

  /** A standalone call of one layer on an op's inputs, made after the op
    * (traced runs only): it stands in for a call the program makes inside
    * the op where the benchmark cannot wrap it. */
  def probe[T](layer: String, op: Op)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally op.add(layer, (System.nanoTime() - t0) / 1e6)
  }
}

/** Spark-side counters of the traced run. Ops run one at a time and
  * nothing else submits jobs, so a job or task belongs to the op whose
  * wall interval contains its start. */
final class SparkCounters extends SparkListener {
  private final case class Task(stage: Int, launch: Long, finish: Long,
      shuffleBytes: Long, spillBytes: Long)
  private val jobStarts = mutable.ArrayBuffer.empty[Long]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobStarts += e.time }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    val t = Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))
    synchronized { tasks += t }
  }

  /** Per-op Spark numbers: jobs, stages and tasks started, summed task
    * time, the wall time with no task running (driver planning and
    * scheduling), shuffle and spill bytes, and the worst task skew
    * (longest over mean task time) among the op's stages that ran two or
    * more tasks for 50 ms or more in total. */
  def forOp(o: Op): Map[String, Double] = synchronized {
    val in = (t: Long) => t >= o.startMs && t <= o.endMs
    val ts = tasks.filter(t => in(t.launch)).toSeq
    val busy = ts.map(t => (t.launch, t.finish)).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, end), (s, f)) =>
        if (f <= end) (acc, end)
        else (acc + f - s.max(end), f)
      }._1
    val skew = ts.groupBy(_.stage).values
      .map(_.map(t => (t.finish - t.launch).toDouble))
      .filter(d => d.size >= 2 && d.sum >= 50)
      .map(d => d.max / (d.sum / d.size))
      .foldLeft(1.0)(_ max _)
    Map(
      "jobs" -> jobStarts.count(in).toDouble,
      "stages" -> ts.map(_.stage).distinct.size.toDouble,
      "tasks" -> ts.size.toDouble,
      "task_ms" -> ts.map(t => (t.finish - t.launch).toDouble).sum,
      "driver_gap_ms" -> (o.wallMs - busy).max(0.0),
      "shuffle_bytes" -> ts.map(_.shuffleBytes.toDouble).sum,
      "spill_bytes" -> ts.map(_.spillBytes.toDouble).sum,
      "max_task_skew" -> skew)
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = (lo + 1).min(s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON rendering for the result files. */
object Json {
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
