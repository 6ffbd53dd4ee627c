package graft.obs

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}

import scala.collection.mutable

/** Where the Spark work of a stretch of program code went, job by job —
  * the program's one `SparkListener` (the fold probe and `ScaleProbe`
  * read it).
  *
  * For each job started while attached it records the root SQL
  * execution (one per `Dataset` action; a job outside SQL is its own
  * action), a site — the job description when the caller set one, else
  * the first in-repo frame of the job's callsite (preferring frames
  * outside the tools and the stage-cut helper, whose jobs belong to the
  * fold line that cut), else that of its SQL execution's callsite (an
  * adaptive query stage job starts on a planner thread, whose stack holds
  * no in-repo frame), else the result stage's name — the stages that
  * ran and their tasks, summed task run, CPU and GC milliseconds, and
  * the job's own start-to-end wall. Each task's duration is kept for
  * the max/median skew observable. Every read first drains the listener
  * bus, so it sees every event of the work that has returned.
  */
final class ExecutionProfile private (sc: SparkContext) extends SparkListener {
  import ExecutionProfile._

  private final class Job(val action: String, val site: String,
      val startMs: Long) {
    var endMs = startMs
    var stages, tasks = 0
    var taskMs, cpuMs, gcMs = 0L
    def cost: Cost = Cost(1, stages, tasks, taskMs, cpuMs, gcMs, endMs - startMs)
  }
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val running = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val durations = mutable.ArrayBuffer.empty[Long]
  private val executionSite = mutable.HashMap.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      inRepoFrame(Seq(s.details)).foreach(f =>
        synchronized { executionSite(s.executionId.toString) = f })
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).filter(_.nonEmpty)
    val action = prop("spark.sql.execution.root.id")
      .orElse(prop("spark.sql.execution.id")).getOrElse(s"job ${e.jobId}")
    synchronized {
      val site = prop("spark.job.description")
        .orElse(inRepoFrame(prop("callSite.long").toSeq ++ e.stageInfos.map(_.details)))
        .orElse(prop("spark.sql.execution.id").flatMap(executionSite.get))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
        .getOrElse("?")
      val j = new Job(action, site, e.time)
      jobs += j
      running(e.jobId) = j
      // a stage listed by several jobs (an AQE query stage, then the
      // result job that skips it) runs under the first
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    durations += e.taskInfo.duration
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.cpuMs += m.executorCpuTime / 1000000
      j.gcMs += m.jvmGCTime
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.remove(e.jobId).foreach { j =>
      j.endMs = e.time
      stageJob.filterInPlace((_, owner) => owner ne j)
    }
  }

  private def drained[T](read: => T): T = {
    GraftBridge.drainListeners(sc)
    synchronized(read)
  }

  /** Stop recording; the numbers read so far stay readable. */
  def detach(): Unit = {
    GraftBridge.drainListeners(sc)
    sc.removeSparkListener(this)
  }

  def total: Cost = drained(jobs.map(_.cost).foldLeft(Cost.zero)(_ + _))

  /** One row per action, in start order: its site is its first job's,
    * its span runs from its first job's start to its last job's end. */
  def byAction: Seq[Action] = drained {
    val of = jobs.groupBy(_.action)
    jobs.map(_.action).distinct.toSeq.map { id =>
      val js = of(id)
      Action(id, js.head.site, js.map(_.cost).reduce(_ + _),
        js.map(_.endMs).max - js.head.startMs)
    }
  }

  /** One row per site, most jobs first. */
  def bySite: Seq[Site] = drained {
    jobs.groupBy(_.site).map { case (s, js) =>
      Site(s, js.map(_.action).distinct.size, js.map(_.cost).reduce(_ + _))
    }.toSeq.sortBy(s => (-s.cost.jobs, s.site))
  }

  /** The longest and the median task duration: one straggler task that
    * owns a hot key shows as max ≫ median, a plan gone quadratic as
    * both growing. */
  def taskMaxAndMedianMs: (Long, Long) = drained {
    if (durations.isEmpty) (0L, 0L)
    else { val s = durations.sorted; (s.last, s(s.size / 2)) }
  }

  /** The totals, the skew pair, then the 25 heaviest sites and every
    * action, one per line. */
  def report: Seq[String] = {
    val (mx, med) = taskMaxAndMedianMs
    s"total ${total.show} maxTask=${mx}ms medTask=${med}ms" +:
      (bySite.take(25).map(s => f"  site   actions=${s.actions}%4d ${s.cost.show}  ${s.site}") ++
        byAction.map(a => f"  action ${a.id}%8s ${a.cost.show} span=${a.spanMs}%6d ms  ${a.site}"))
  }
}

object ExecutionProfile {
  private def inRepoFrame(callsites: Seq[String]): Option[String] = {
    val frames = callsites.flatMap(_.linesIterator.map(_.trim))
      .filter(_.startsWith("graft."))
    frames.find(f => !f.startsWith("graft.tools.") &&
      !f.startsWith("graft.streaming.StageCuts")).orElse(frames.headOption)
  }

  /** Summed work of a set of jobs; `jobMs` sums each job's own wall. */
  final case class Cost(jobs: Int, stages: Int, tasks: Int, taskMs: Long,
      cpuMs: Long, gcMs: Long, jobMs: Long) {
    def +(o: Cost): Cost = Cost(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, taskMs + o.taskMs, cpuMs + o.cpuMs, gcMs + o.gcMs,
      jobMs + o.jobMs)
    def show: String = f"jobs=$jobs%4d stages=$stages%4d tasks=$tasks%5d " +
      f"task=${taskMs / 1e3}%7.2fs cpu=${cpuMs / 1e3}%7.2fs " +
      f"gc=${gcMs / 1e3}%6.2fs jobWall=${jobMs / 1e3}%7.2fs"
  }
  object Cost { val zero: Cost = Cost(0, 0, 0, 0L, 0L, 0L, 0L) }
  final case class Action(id: String, site: String, cost: Cost, spanMs: Long)
  final case class Site(site: String, actions: Int, cost: Cost)

  /** Start recording every job `spark` runs from now until [[detach]]. */
  def attach(spark: SparkSession): ExecutionProfile = {
    val p = new ExecutionProfile(spark.sparkContext)
    spark.sparkContext.addSparkListener(p)
    p
  }
}
