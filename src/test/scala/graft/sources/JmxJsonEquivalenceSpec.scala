package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

import scala.util.Random

/** The driver-side reader against the Spark expression it replaced
  * (`from_json` → `map_from_entries` → `cast`, kept here as the oracle),
  * on the domain where that expression does not throw: the fetcher
  * fixtures, the JSON-level damage shapes of the benchmark's malformed
  * payloads, and seeded well-formed payloads on a 1/1024 value grid.
  * There the reader must give the same presence and the same typed
  * values, and so must [[JmxJson.parsePayloads]]. */
class JmxJsonEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val OracleSchema = StructType(Seq(
    StructField("attributes", ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("value", StringType)))))))

  /** The replaced expression: attribute map with an empty-map fallback,
    * the presence gate, and the zero-filled cast per field. */
  private def oracle(df: DataFrame, fields: Seq[(String, (String, DataType))],
      keepWhenPresent: Option[String]): DataFrame = {
    val attrs: Column = coalesce(
      map_from_entries(from_json(col("payload"), OracleSchema).getField("attributes")), map())
    val withMap = df.withColumn("__attrs", attrs)
    val gated = keepWhenPresent.foldLeft(withMap)((acc, a) =>
      acc.filter(element_at(col("__attrs"), a).isNotNull))
    fields.foldLeft(gated) { case (acc, (out, (attr, t))) =>
      acc.withColumn(out, coalesce(element_at(col("__attrs"), attr).cast(t), lit(0).cast(t)))
    }.drop("__attrs")
  }

  private val Fields = Seq(
    "cpu" -> (("ProcessCpuLoad", DoubleType)),
    "cores" -> (("AvailableProcessors", LongType)),
    "running" -> (("RunningQueries", LongType)),
    "queued" -> (("QueuedQueries", LongType)),
    "completed5m" -> (("CompletedQueries.FiveMinute.Count", DoubleType)),
    "failed1m" -> (("FailedQueries.OneMinute.Count", DoubleType)),
    "required" -> (("RequiredWorkers", LongType)))

  /** Payloads of the fixtures the fetcher specs serve. */
  private def fixtures: Seq[String] = {
    val fixture = new FixtureFetcher("rest", None)
    val frames = Seq(fixture.fetchPayloads(spark), fixture.fetchQueryStats(spark),
      fixture.fetchRequiredWorkers(spark))
    // the fixture-directory shape: gauges rendered by a Spark string cast
    val fromEvents = Seq(0.0, 1.0, 37.0, 144.5, 199.0, 0.02).toDF("value").select(
      to_json(struct(array(struct(lit("ProcessCpuLoad").as("name"),
        (col("value") / 200.0).cast("string").as("value"))).as("attributes"))))
    (frames.map(_.select("payload")) :+ fromEvents).flatMap(_.as[String].collect()) ++ Seq(
      // RestFetcherSpec / JmxRmiFetcherSpec worker OS mbean
      """{"attributes":[{"name":"ProcessCpuLoad","value":0.42},
        |               {"name":"AvailableProcessors","value":8}]}""".stripMargin,
      // JmxRmiFetcherSpec QueryManager and ClusterSizeMonitor, as the
      // fetcher renders them (the NaN and string attributes are skipped)
      """{"attributes":[{"name":"RunningQueries","value":2},{"name":"QueuedQueries","value":0},""" +
        """{"name":"CompletedQueries.FiveMinute.Count","value":3.5},""" +
        """{"name":"FailedQueries.FiveMinute.Count","value":0.25}]}""",
      """{"attributes":[{"name":"RequiredWorkers","value":7}]}""",
      """{"attributes":[]}""", "")
  }

  /** The JSON-level damage shapes of the benchmark's malformed payloads. */
  private val Malformed = Seq(
    """{"attributes": [{"name": "ProcessCpuLoad", "val""",
    "<html><body>502 Bad Gateway</body></html>",
    """{"attrs": [{"name": "ProcessCpuLoad", "value": 0.5}]}""",
    """{"attributes": [{"name": "AvailableProcessors", "value": 16}]}""",
    """{"attributes": null}""")

  /** Well-formed payloads: distinct names, values on the 1/1024 grid as
    * JSON numbers or numeric strings, integral counts, some nulls. */
  private def seeded(seed: Int, count: Int): Seq[String] = {
    val rng = new Random(seed)
    (1 to count).map { _ =>
      val attrs = Fields.map(_._2).filter(_ => rng.nextInt(3) > 0).map { case (name, t) =>
        val v = t match {
          case DoubleType => (math.round(rng.nextDouble() * 4096) / 1024.0).toString
          case _          => rng.nextInt(64).toString
        }
        name -> (rng.nextInt(6) match {
          case 0 => s""""$v""""
          case 1 => "null"
          case _ => v
        })
      }
      PayloadFuzz.mbean(rng.shuffle(attrs))
    }
  }

  test("the reader and parsePayloads match the replaced Spark expression where it does not throw") {
    val payloads = fixtures ++ Malformed ++ seeded(1, 300) ++ seeded(2, 300)
    val df = payloads.zipWithIndex.map(_.swap).toDF("id", "payload")
    val cols = "id" +: Fields.map(_._1)
    def rows(frame: DataFrame): Map[Int, Seq[Any]] =
      frame.select(cols.map(col): _*).collect().map(r => r.getInt(0) -> r.toSeq.tail).toMap
    for (gate <- None +: Seq("ProcessCpuLoad", "RunningQueries", "RequiredWorkers").map(Some(_))) {
      val want = rows(oracle(df, Fields, gate))
      assert(want.size > payloads.size / 4, s"gate $gate keeps too few rows to compare")
      val frameFace = rows(JmxJson.parsePayloads(df, "payload", Fields.toMap, gate))
      payloads.zipWithIndex.foreach { case (p, i) =>
        val a = JmxJson.attributes(p)
        val reader = Option.when(gate.forall(a.isPresent))(
          Fields.map { case (_, (attr, t)) => a.gauge(attr, t).orZero(if (t == DoubleType) 0.0 else 0L) })
        assert(reader === want.get(i), s"reader, gate $gate, payload $p")
        assert(frameFace.get(i) === want.get(i), s"parsePayloads, gate $gate, payload $p")
      }
    }
  }

  test("on the oracle's domain no gauge read faults") {
    (fixtures ++ Malformed ++ seeded(3, 300)).foreach { p =>
      val a = JmxJson.attributes(p)
      Fields.foreach { case (_, (attr, t)) =>
        assert(a.gauge(attr, t) != JmxJson.Gauge.Fault, s"$attr in $p")
      }
    }
  }
}
