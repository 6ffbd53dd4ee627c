package graft.sources

import graft.model.NodeInfo
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.optimizer.{CollapseProject, ConvertToLocalRelation}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Metric-fetcher strategy (SURVEY.md §2.1 S1-S4, S9).
 *
 * The reference selects between a coordinator-REST fetcher and a local-JMX
 * fetcher by config string and rejects unknown names
 * (metrics/TrinoJmx.scala:24-33); its trait contract (`:8-22`) is the
 * per-tick scrape of memory / query-stats / required-workers / per-node
 * CPU. Here the contract is "produce this tick's raw frames"; production
 * impls do driver-side HTTP in `foreachBatch` (SURVEY.md §2.1 S1), the
 * test impl replays fixture frames. Each payload degrades to empty on
 * fetch failure rather than aborting the tick (TrinoJmxRest.scala:130).
 *
 * A frame may have any plan. The tick reads a frame built from driver
 * data (`Seq(...).toDF(...)`, `createDataFrame(rows).toDF(...)`: a
 * projection, filter or limit over a local relation) from its analyzed
 * plan, with no optimizer pass, no physical plan and no Spark job; it
 * runs any other plan (see [[FetchedFrame]]).
 */
trait MetricsFetcher {
  def name: String

  /** Raw mbean payload frame for one tick: (node: string, payload: json
    * string of {"attributes": [{name, value}]}). */
  def fetchPayloads(spark: SparkSession): DataFrame

  /** Node topology frame: the /v1/node | /v1/autoscale list. */
  def fetchNodeList(spark: SparkSession): DataFrame

  /** Coordinator query-stats payload for the tick (the QueryManager
    * mbean scrape the reference's idle/activity gates read —
    * metrics/TrinoJmxRest.scala query-stats fetch): a 1-row (payload)
    * frame. Default = blank payload; [[graft.Autoscaler]] treats a blank
    * as "assume active" — a fetcher that cannot see query stats must
    * never fabricate an idle signal (idle triggers shrink-to-min). The
    * blank is a local frame, which the tick reads without planning it. */
  def fetchQueryStats(spark: SparkSession): DataFrame = blank(spark)

  /** Coordinator ClusterSizeMonitor payload — the required-workers gauge
    * the reference reads as a scaling hint and expands to ahead of the
    * cooldown gate (metrics/TrinoJmxRest.scala:106-109,
    * scaling/ScalingManager.scala:34-36). A 1-row (payload) frame; blank
    * payload = no hint (parses to 0, which never exceeds `running`). */
  def fetchRequiredWorkers(spark: SparkSession): DataFrame = blank(spark)

  private def blank(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq("").toDF("payload")
  }
}

object MetricsFetcher {
  /** S9 — strategy dispatch by name; unknown → IllegalArgumentException
    * (preserved verbatim from metrics/TrinoJmx.scala:29-32). A
    * `coordinatorUrl` selects the live-socket [[RestFetcher]] for the
    * "rest" strategy; a `jmxUrl` selects the live JMX-RMI
    * [[JmxRmiFetcher]] for the "emr" (coordinator-local) strategy;
    * without either, both strategies replay fixtures. */
  def apply(name: String,
            coordinatorUrl: Option[String] = None,
            user: String = graft.GraftConfig.default.trinoUser,
            password: String = graft.GraftConfig.default.trinoPassword,
            jmxUrl: Option[String] = None): MetricsFetcher =
    name.toLowerCase match {
      case "emr"  => jmxUrl
        .map(new JmxRmiFetcher(_, user = user, password = password))
        .getOrElse(new FixtureFetcher("emr"))
      case "rest" => coordinatorUrl
        .map(new RestFetcher(_, user, password))
        .getOrElse(new FixtureFetcher("rest"))
      case other  => throw new IllegalArgumentException(
        s"Unsupported metrics fetcher: $other (expected 'emr' or 'rest')")
    }
}

/** The driver-side read of a fetched frame's string columns, for the
  * control loop's tick. It reads each named column at its ordinal from
  * the frame's internal rows: no SQL execution is posted and no row goes
  * through a generated `Row` deserializer.
  *
  * A local frame is read from its analyzed plan, with no optimizer pass
  * and no physical plan: Spark's own `CollapseProject` and
  * `ConvertToLocalRelation` fold its projections (and a filter or limit)
  * into a `LocalRelation`, whose rows are the data. Every fetcher the
  * tick meets builds such a frame, a `Project` over a `LocalRelation`:
  * [[RestFetcher]], [[JmxRmiFetcher]], [[FixtureFetcher]], the blank
  * defaults of [[MetricsFetcher]] and the benchmark's fleet fetcher
  * (`createDataFrame(rows).toDF(...)`). A `MetricsFetcher` may return any
  * `DataFrame`, so a plan that does not fold to a local relation runs its
  * physical plan (`executeCollect`), which may start Spark jobs. */
private[graft] object FetchedFrame {

  /** Each row's values of `columns`, in that order; a null reads as
    * null. A missing column or one that is not a string fails here. */
  def strings(frame: DataFrame, columns: String*): Array[Array[String]] = {
    val ordinals = columns.map { c =>
      val i = frame.schema.fieldIndex(c)
      frame.schema(i).dataType match {
        case _: StringType => i
        case t => throw new IllegalArgumentException(
          s"fetched column $c is ${t.simpleString}, not a string")
      }
    }.toArray
    val rows = local(frame.queryExecution.analyzed)
      .getOrElse(frame.queryExecution.executedPlan.executeCollect().toSeq)
    rows.iterator.map { row =>
      ordinals.map(i => if (row.isNullAt(i)) null else row.getUTF8String(i).toString)
    }.toArray
  }

  /** The rows of `plan` if Spark's local-relation rules fold it to one.
    * A pass folds one operator into the relation below it, so a chain of
    * operators takes a pass per level; a pass that folds nothing ends it. */
  @scala.annotation.tailrec
  private def local(plan: LogicalPlan): Option[Seq[InternalRow]] =
    ConvertToLocalRelation(CollapseProject(plan)) match {
      case r: LocalRelation => Some(r.data)
      case folded if !folded.fastEquals(plan) => local(folded)
      case _ => None
    }
}

/**
 * S1/S2 — the live REST scrape (reference: metrics/TrinoJmxRest.scala):
 * GET with basic auth and a 5 s timeout (`:26`), per-request
 * fall-back-to-empty so one dead node degrades its own payload instead of
 * aborting the tick (`:122-131`). HTTP happens on the DRIVER — the node
 * list is cluster-sized (hundreds of rows), a control-plane fetch per
 * SURVEY.md §2.1; the resulting frames then flow through the distributed
 * pipeline like any other source.
 *
 * @param coordinatorUrl e.g. "http://coordinator:8889" — also determines
 *                       the scheme/port used for per-node scrapes when
 *                       `nodePort` is not given (reference builds node
 *                       URLs from TrinoRestSchema/TrinoServerPort,
 *                       TrinoJmxRest.scala:92)
 */
class RestFetcher(
    coordinatorUrl: String,
    user: String = "trino",
    password: String = "",
    nodePort: Option[Int] = None,
    timeoutSeconds: Long = 5) extends MetricsFetcher {

  override val name: String = "rest"

  private val JmxPath = "v1/jmx/mbean"
  private val OsMBean = "java.lang:type=OperatingSystem"
  private val QueryMBean = "trino.execution:name=QueryManager"
  private val SizeMBean = "trino.execution:name=ClusterSizeMonitor"
  private val timeout = java.time.Duration.ofSeconds(timeoutSeconds)
  private val parsedUrl = new java.net.URI(coordinatorUrl)
  private val scheme = Option(parsedUrl.getScheme).getOrElse("http")
  private val port = nodePort.getOrElse(
    if (parsedUrl.getPort > 0) parsedUrl.getPort else 8889)
  private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(timeout)
    .build()

  private def request(url: String): java.net.http.HttpRequest = {
    val auth = java.util.Base64.getEncoder.encodeToString(
      s"$user:$password".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(timeout)
      .header("Authorization", s"Basic $auth")
      .GET().build()
  }

  /** GET with basic auth; any non-2xx / connect / timeout / parse failure
    * → None (the reference's `fallbackTo(Map.empty)`). */
  private def get(url: String): Option[String] =
    try {
      val resp = client.send(request(url), java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() / 100 == 2) Some(resp.body()) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Concurrent GETs — the per-node scrapes are independent, and issuing
    * them serially would spend (dead nodes × timeout) of the 15 s tick
    * budget; the reference's future-based scrape is concurrent for the
    * same reason (TrinoJmxRest.scala:91-104). */
  private def getAll(urls: Seq[String]): Seq[Option[String]] = {
    val futures = urls.map { u =>
      try client.sendAsync(request(u), java.net.http.HttpResponse.BodyHandlers.ofString())
      catch { case scala.util.control.NonFatal(_) => null }
    }
    futures.map { f =>
      if (f == null) None
      else
        try {
          val resp = f.get(timeoutSeconds + 1, java.util.concurrent.TimeUnit.SECONDS)
          if (resp.statusCode() / 100 == 2) Some(resp.body()) else None
        } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Worker hosts from the coordinator's /v1/node list — the
    * scheme-slash-host-colon regex extraction of TrinoJmxRest.scala:66-71,
    * done driver-side on the raw JSON (Jackson ships with Spark). */
  private[sources] def nodeHosts(): Seq[String] = {
    val body = get(s"$coordinatorUrl/v1/node").getOrElse("[]")
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(body)
      (0 until root.size()).flatMap { i =>
        val uri = root.get(i).path("uri").asText("")
        "//([^:/]+)".r.findFirstMatchIn(uri).map(_.group(1))
      }.filter(_.nonEmpty)
    } catch { case scala.util.control.NonFatal(_) => Nil }
  }

  /** One mbean payload per node; a node that fails to answer contributes
    * an EMPTY payload ([[JmxJson.attributes]] reads it as no attributes
    * and the tick's CPU gate drops the node — reference behavior at
    * TrinoJmxRest.scala:130). */
  override def fetchPayloads(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val hosts = nodeHosts()
    val bodies = getAll(hosts.map(h => s"$scheme://$h:$port/$JmxPath/$OsMBean"))
    hosts.zip(bodies.map(_.getOrElse(""))).toDF("node", "payload")
  }

  /** Active-WORKER hosts from /v1/autoscale — the EMR/local-JMX
    * strategy's node discovery (reference: TrinoJmxEmr.scala:78-90
    * filters nodeRole=worker, nodeState=active and plucks the host out
    * of the node URI). Distinct from [[nodeHosts]], which serves the
    * pure-REST strategy's /v1/node view including the coordinator. */
  private[sources] def autoscaleWorkerHosts(): Seq[String] = {
    val body = get(s"$coordinatorUrl/v1/autoscale").getOrElse("[]")
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(body)
      (0 until root.size()).flatMap { i =>
        val n = root.get(i)
        if (n.path("nodeRole").asText("").equalsIgnoreCase("worker") &&
            n.path("nodeState").asText("").equalsIgnoreCase("active"))
          "//([^:/]+)".r.findFirstMatchIn(n.path("nodeURI").asText(""))
            .map(_.group(1)).filter(_.nonEmpty)
        else None
      }
    } catch { case scala.util.control.NonFatal(_) => Nil }
  }

  /** Per-WORKER OS-mbean scrape for the EMR/local-JMX strategy: even
    * when query stats ride JMX-RMI, per-worker CPU can only come over
    * REST (the coordinator's JMX registry knows nothing about worker
    * CPUs — reference: TrinoJmxEmr.getClusterNodesCpuStats scrapes each
    * worker's OperatingSystem mbean over HTTP). Failed nodes degrade to
    * empty payloads; the tick's `ProcessCpuLoad` gate drops them (the reference's
    * `if (m.isEmpty) None` drop at TrinoJmxEmr.scala:91). */
  private[sources] def fetchWorkerPayloads(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val hosts = autoscaleWorkerHosts()
    val bodies = getAll(hosts.map(h => s"$scheme://$h:$port/$JmxPath/$OsMBean"))
    hosts.zip(bodies.map(_.getOrElse(""))).toDF("node", "payload")
  }

  /** S4 — the /v1/autoscale EmrNodeStatus list as a NodeInfo frame;
    * a fetch failure yields the empty frame, not an aborted tick. */
  override def fetchNodeList(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val body = get(s"$coordinatorUrl/v1/autoscale").getOrElse("[]")
    NodeListSource.parse(Seq(body).toDF("body"))
  }

  /** Coordinator QueryManager mbean (running/queued gauges); blank on
    * failure → the loop assumes active rather than idle-shrinking. */
  override def fetchQueryStats(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val body = get(s"$coordinatorUrl/$JmxPath/$QueryMBean").getOrElse("")
    Seq(body).toDF("payload")
  }

  /** ClusterSizeMonitor mbean (required-workers scaling hint); blank on
    * failure → no hint, never a fabricated expansion. */
  override def fetchRequiredWorkers(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val body = get(s"$coordinatorUrl/$JmxPath/$SizeMBean").getOrElse("")
    Seq(body).toDF("payload")
  }
}

/** Replay fetcher: serves deterministic in-memory payloads — the
  * test/simulation strategy. */
class FixtureFetcher(override val name: String) extends MetricsFetcher {

  override def fetchPayloads(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("node-1", """{"attributes":[{"name":"ProcessCpuLoad","value":0.72},{"name":"AvailableProcessors","value":8}]}"""),
      ("node-2", """{"attributes":[{"name":"ProcessCpuLoad","value":0.35},{"name":"AvailableProcessors","value":8}]}"""),
      ("node-3", "not json at all") // exercises the empty-map fallback
    ).toDF("node", "payload")
  }

  override def fetchNodeList(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      NodeInfo("i-1", "http://172.31.1.47:8889/v1/status", "worker", "active", "414"),
      NodeInfo("i-2", "http://172.31.1.48:8889/v1/status", "worker", "active", "414"),
      NodeInfo("i-3", "http://172.31.1.49:8889/v1/status", "coordinator", "active", "414"),
      NodeInfo("i-4", "http://172.31.1.50:8889/v1/status", "worker", "inactive", "414")
    ).toDF()
  }

  override def fetchQueryStats(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq("""{"attributes":[{"name":"RunningQueries","value":3},
           |{"name":"QueuedQueries","value":1},
           |{"name":"AbandonedQueries.FiveMinute.Count","value":0.2},
           |{"name":"CanceledQueries.FiveMinute.Count","value":0.0},
           |{"name":"CompletedQueries.FiveMinute.Count","value":4.7},
           |{"name":"FailedQueries.FiveMinute.Count","value":0.5},
           |{"name":"SubmittedQueries.FiveMinute.Count","value":5.1},
           |{"name":"FailedQueries.OneMinute.Count","value":0.1}]}""".stripMargin)
      .toDF("payload")
  }

  override def fetchRequiredWorkers(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq("""{"attributes":[{"name":"RequiredWorkers","value":0}]}""")
      .toDF("payload")
  }
}

/** S3/S4 — node-list JSON parsing: coordinator response body →
  * NodeInfo frame (reference: metrics/TrinoJmxEmr.scala:114-123,
  * models/EmrNodeStatus.scala:3-10), with F1 role/state filtering and P3
  * host extraction fused in. */
object NodeListSource {
  val NodeSchema: StructType = StructType(Seq(
    StructField("nodeId", StringType),
    StructField("nodeURI", StringType),
    StructField("nodeRole", StringType),
    StructField("nodeState", StringType),
    StructField("nodeVersion", StringType)))

  /** Parse a frame of raw JSON node-list bodies (one array per row). */
  def parse(raw: DataFrame, jsonCol: String = "body"): DataFrame =
    raw.select(explode(from_json(col(jsonCol), ArrayType(NodeSchema))).as("n"))
      .select("n.*")

  /** F1 + P3: active workers with their host extracted from the URI
    * (reference: TrinoJmxEmr.scala:74-85). */
  def activeWorkerHosts(nodes: DataFrame): DataFrame =
    nodes
      .filter(lower(col("nodeRole")) === "worker" && lower(col("nodeState")) === "active")
      .withColumn("host", JmxJson.extractHost(col("nodeURI")))
      .filter(length(col("host")) > 0)
}
