package graft.obs

import graft.SparkSpec

/** The shared execution listener: jobs land on the label (job
  * description) or in-repo callsite of the action that ran them, a
  * one-stage action's task count is its frame's partition count, and a
  * detached profile stops counting. Every read of the profile drains
  * the listener bus first, so the spec reads right after its actions. */
class ExecutionProfileSpec extends SparkSpec {
  private def labelled(label: String)(body: => Unit): Unit = {
    spark.sparkContext.setJobDescription(label)
    try body finally spark.sparkContext.setJobDescription(null)
  }
  private def drain(partitions: Int): Unit =
    spark.range(0L, 1000L, 1L, partitions).write.format("noop")
      .mode("overwrite").save()

  test("jobs are attributed per label, tasks equal partitions, detach stops counting") {
    val profile = ExecutionProfile.attach(spark)
    labelled("seven")(drain(7))
    labelled("three")(drain(3))
    drain(2)

    val sites = profile.bySite.map(s => s.site -> s).toMap
    assert(sites.keySet.contains("seven") && sites.keySet.contains("three"))
    assert(sites("seven").cost.jobs >= 1 && sites("three").cost.jobs >= 1)
    assert(sites("seven").cost.tasks === 7)
    assert(sites("three").cost.tasks === 3)
    assert(sites("seven").actions === 1 && sites("three").actions === 1)
    // an unlabelled action falls back to its first in-repo frame
    val unlabelled = sites.keySet -- Set("seven", "three")
    assert(unlabelled.size === 1, sites.keySet)
    assert(unlabelled.head.startsWith("graft.obs.ExecutionProfileSpec"),
      unlabelled.head)
    assert(sites(unlabelled.head).cost.tasks === 2)
    assert(profile.byAction.map(_.site) ===
      Seq("seven", "three", unlabelled.head))
    assert(profile.total.tasks === 12)
    val (max, median) = profile.taskMaxAndMedianMs
    assert(max >= median && median >= 0L)

    profile.detach()
    val before = profile.total
    labelled("after")(drain(5))
    assert(profile.total === before)
    assert(!profile.bySite.exists(_.site == "after"))
  }
}
