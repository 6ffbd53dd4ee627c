package graft

import org.apache.spark.sql.SparkSession

/** The program's one SparkSession factory (every `main` builds its
  * session here). The session runs on `master`, by default
  * `local[N]` with N = `SPARK_GRAFT_CPUS`, else the caller's
  * `defaultCpus`, with N shuffle partitions, the UI off and UTC session
  * time. Those are the only values it sets that differ from Spark's
  * defaults (adaptive execution is on by default), and a `-Dspark.*`
  * system property wins over each, so an experiment can say
  * `-Dspark.sql.shuffle.partitions=8` or
  * `-Dspark.sql.adaptive.enabled=false` without a knob of its own. */
object Sessions {
  def apply(app: String, defaultCpus: Int,
      master: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val defaults = Seq("spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
      .filterNot { case (k, _) => sys.props.contains(k) }
    val spark = (defaults ++ master.map("spark.master" -> _))
      .foldLeft(SparkSession.builder().appName(app)) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
