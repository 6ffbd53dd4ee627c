package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import javax.management.remote.{JMXConnector, JMXConnectorFactory, JMXServiceURL}
import javax.management.{MBeanServerConnection, ObjectName}
import scala.util.control.NonFatal

/**
 * S2 — the LOCAL JMX fetcher: coordinator-side mbean scrape over the
 * JMX-RMI connector (reference: metrics/TrinoJmxEmr.scala:29-37 connects
 * `service:jmx:rmi:///jndi/rmi://localhost:9080/jmxrmi` and reads gauges
 * via `MBeanServerConnection.getAttribute`). The "emr" strategy's live
 * transport — used when the autoscaler runs ON the coordinator host and
 * the JMX registry is reachable without HTTP.
 *
 * Emits the SAME (node, payload) attribute-list JSON frames as
 * [[RestFetcher]], so everything downstream (the driver-side
 * [[JmxJson.attributes]] reader the tick uses, its typed gauge reads, the
 * decision cascade) is transport-agnostic — one reader for both
 * strategies.
 *
 * Failure posture mirrors the REST fetcher: any connect/read failure
 * degrades that payload to empty (→ no attributes → zero-fill /
 * assume-active downstream), never an aborted tick; the connector is
 * re-established on the next scrape after a failure.
 *
 * PER-WORKER CPU STILL RIDES REST: the coordinator-local JMX registry
 * exposes only the coordinator's own OperatingSystem mbean, and a CPU
 * cascade driven by coordinator CPU would step-shrink a busy cluster
 * whose coordinator idles. The reference's local-JMX transport has the
 * same split (TrinoJmxEmr.getClusterNodesCpuStats: /v1/autoscale node
 * discovery + per-worker OS-mbean HTTP scrape, while memory/query/size
 * gauges ride the RMI connector) — so [[fetchPayloads]] and
 * [[fetchNodeList]] delegate to an embedded [[RestFetcher]] pointed at
 * the coordinator (`restBase`, default localhost — this strategy runs ON
 * the coordinator host), and only the coordinator-scoped gauges
 * (QueryManager, ClusterSizeMonitor) use the JMX connector.
 */
class JmxRmiFetcher(
    serviceUrl: String = "service:jmx:rmi:///jndi/rmi://localhost:9080/jmxrmi",
    restBase: String = "http://localhost:8889",
    user: String = "trino",
    password: String = "",
    nodePort: Option[Int] = None,
    restTimeoutSeconds: Long = 5) extends MetricsFetcher {

  override val name: String = "emr"

  private val rest =
    new RestFetcher(restBase, user, password, nodePort, restTimeoutSeconds)

  private val QueryMBean = "trino.execution:name=QueryManager"
  private val SizeMBean = "trino.execution:name=ClusterSizeMonitor"

  private var connector: Option[JMXConnector] = None

  private def connection(): Option[MBeanServerConnection] = synchronized {
    try {
      if (connector.isEmpty)
        connector = Some(JMXConnectorFactory.connect(new JMXServiceURL(serviceUrl)))
      connector.map(_.getMBeanServerConnection)
    } catch {
      case NonFatal(_) => connector = None; None
    }
  }

  def close(): Unit = synchronized {
    connector.foreach(c => try c.close() catch { case NonFatal(_) => () })
    connector = None
  }

  /** Scan every readable NUMERIC/boolean attribute of one mbean into the
    * shared attribute-list JSON shape (the REST endpoint's response
    * shape, which the whole parse path consumes). Non-numeric attributes
    * are skipped — the reference reads only numeric gauges, and numbers
    * need no JSON string escaping. */
  /** Render one numeric attribute as a JSON member — FINITE values only:
    * a NaN/Infinity gauge (idle-coordinator decayed stats, containerized
    * CpuLoad) interpolated raw would make the whole payload unparseable
    * JSON, zero-filling every gauge downstream into a false idle. */
  private def jsonAttr(n: String, v: Any): Option[String] = v match {
    case d: java.lang.Double if d.isNaN || d.isInfinite => None
    case f: java.lang.Float if f.isNaN || f.isInfinite => None
    case v: java.lang.Number => Some(s"""{"name":"$n","value":$v}""")
    case v: java.lang.Boolean => Some(s"""{"name":"$n","value":${if (v) 1 else 0}}""")
    case _ => None
  }

  private[sources] def payloadOf(objName: String): String = {
    connection() match {
      case None => ""
      case Some(mbs) =>
        try {
          val on = new ObjectName(objName)
          val names =
            // a PERMANENTLY absent mbean (older engine without the
            // ClusterSizeMonitor) is an empty payload, NOT a connection
            // failure — it must not tear down the connector the other
            // two per-tick scrapes share
            try mbs.getMBeanInfo(on).getAttributes
              .filter(_.isReadable).map(_.getName)
            catch { case _: javax.management.InstanceNotFoundException =>
              Array.empty[String] }
          val attrs = names.flatMap { n =>
            try jsonAttr(n, mbs.getAttribute(on, n))
            catch {
              // connection-level failure mid-scan: rethrow so the outer
              // handler tears the connector down NOW — swallowing it
              // per-attribute would emit {"attributes":[]} (zero-filled
              // gauges) and defer reconnect by a whole degraded tick
              case io: java.io.IOException => throw io
              // attribute-level failure (unsupported / unreadable gauge):
              // skip the one gauge, keep the payload
              case NonFatal(_) => None
            }
          }
          s"""{"attributes":[${attrs.mkString(",")}]}"""
        } catch {
          case NonFatal(_) => close(); "" // reconnect next scrape
        }
    }
  }

  /** Per-WORKER OS scrape over REST (see class doc): /v1/autoscale
    * active-worker discovery + per-node mbean GET. A failed worker
    * degrades to an empty payload the tick drops with its
    * `ProcessCpuLoad` gate; an unreachable coordinator
    * degrades to the EMPTY FRAME (no samples this tick), never to a
    * fabricated 0%-CPU coordinator row. */
  override def fetchPayloads(spark: SparkSession): DataFrame =
    rest.fetchWorkerPayloads(spark)

  /** The /v1/autoscale node list over REST — same source the per-worker
    * CPU discovery uses. */
  override def fetchNodeList(spark: SparkSession): DataFrame =
    rest.fetchNodeList(spark)

  override def fetchQueryStats(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(payloadOf(QueryMBean)).toDF("payload")
  }

  override def fetchRequiredWorkers(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(payloadOf(SizeMBean)).toDF("payload")
  }
}
