package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Row}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/**
 * The JMX/REST ingestion edge (SURVEY.md §2.3, P1-P4).
 *
 * The reference parses mbean JSON payloads of shape
 * `{"attributes": [{"name": "...", "value": <any>}]}` into a
 * `Map[name -> value]` on the driver (reference:
 * metrics/TrinoJmxRest.scala:122-131, metrics/models/Attribute.scala:3),
 * then projects typed fields with zero-fill defaults (`getOrElse(..., 0)`,
 * TrinoJmxRest.scala:33-58). [[attributes]] is that map, read with
 * Jackson on the driver, and [[Attributes.double]] / [[Attributes.long]]
 * are the typed reads. The control loop's tick reads its payloads
 * through them directly; [[parsePayloads]] is the same reader behind a
 * UDF, for callers that hold a frame.
 *
 * The fault rule, in one place:
 *  - a blank payload, non-JSON, a missing or null `attributes` list, or
 *    an entry whose name is null or not a string gives no attribute;
 *  - a null value counts as absent;
 *  - a name that appears twice reads as its last occurrence (the
 *    reference's `.toMap`);
 *  - a double gauge accepts a JSON number or a numeric string; NaN and
 *    ±Infinity (also by overflow) are faults;
 *  - a long gauge accepts an integral value within `Long` range, as a
 *    JSON number or a numeric string (`8` and `8.0` read as 8); `8.5`,
 *    `"n/a"`, `true`, objects and overflow are faults;
 *  - any other value is a fault.
 * What a fault means is the caller's: the tick drops a node whose CPU
 * gauge faults, reads query stats with any faulty field as
 * `QueryActivity.AssumeActive`, and reads a faulty core count or
 * required-workers hint as 0.
 */
object JmxJson {

  private val mapper = new ObjectMapper()

  /** A typed read of one attribute under the fault rule. */
  sealed trait Gauge[+A] {
    /** The value, only for a clean reading. */
    def reading: Option[A] = this match {
      case Gauge.Reading(v) => Some(v)
      case _                => None
    }
    /** Zero-fill: an absent or faulty gauge reads as `zero`. */
    def orZero[B >: A](zero: B): B = reading.getOrElse(zero)
    /** An absent gauge reads as `zero`; a fault is `None`. */
    def zeroFilled[B >: A](zero: B): Option[B] =
      if (this == Gauge.Fault) None else Some(orZero(zero))
  }

  object Gauge {
    final case class Reading[+A](value: A) extends Gauge[A]
    case object Absent extends Gauge[Nothing]
    case object Fault extends Gauge[Nothing]
  }

  /** One payload's attributes by name; null values are already dropped. */
  final case class Attributes(values: Map[String, JsonNode]) {
    def isPresent(name: String): Boolean = values.contains(name)

    def double(name: String): Gauge[Double] = read(name) { v =>
      val d =
        if (v.isNumber) v.doubleValue()
        else if (v.isTextual) java.lang.Double.parseDouble(v.textValue())
        else Double.NaN
      if (d.isNaN || d.isInfinite) Gauge.Fault else Gauge.Reading(d)
    }

    def long(name: String): Gauge[Long] = read(name) { v =>
      if (v.isNumber) Gauge.Reading(v.decimalValue().longValueExact())
      else if (v.isTextual)
        Gauge.Reading(new java.math.BigDecimal(v.textValue().trim).longValueExact())
      else Gauge.Fault
    }

    /** [[double]] or [[long]] by Spark type, for [[parsePayloads]]. */
    def gauge(name: String, t: DataType): Gauge[Any] = t match {
      case DoubleType => double(name)
      case LongType   => long(name)
      case other      => throw new IllegalArgumentException(s"no gauge reader for $other")
    }

    // a value that does not convert (an unparseable number string, a
    // fraction or an out-of-range long) is a fault, never an exception
    private def read[A](name: String)(typed: JsonNode => Gauge[A]): Gauge[A] =
      values.get(name) match {
        case None    => Gauge.Absent
        case Some(v) =>
          try typed(v)
          catch { case NonFatal(_) => Gauge.Fault }
      }
  }

  val NoAttributes: Attributes = Attributes(Map.empty)

  /** P1 — one mbean payload → its attributes, under the fault rule above.
    * Never throws: whatever fails to parse degrades to no attributes, the
    * reference's fallback-to-empty (TrinoJmxRest.scala:130; SURVEY.md §4
    * failure degradation). */
  def attributes(payload: String): Attributes =
    if (payload == null || payload.isBlank) NoAttributes
    else
      try {
        val list = mapper.readTree(payload).path("attributes")
        if (!list.isArray) NoAttributes
        else
          Attributes(list.elements().asScala
            .filter(e => e.path("name").isTextual)
            .map(e => e.get("name").textValue() -> e.path("value"))
            .toMap // last occurrence wins; null values drop after it
            .filter { case (_, v) => !v.isNull && !v.isMissingNode })
      } catch { case NonFatal(_) => NoAttributes }

  // P3 — regex host extraction from a node status URI (reference:
  // TrinoJmxRest.scala:65-70, pattern  .*//(.*):.*  ); non-matching rows
  // yield "" and are filtered by the caller (F4).
  def extractHost(uri: Column): Column = regexp_extract(uri, ".*//(.*):.*", 1)

  /** P4 — JSON path pluck (reference: Config.scala:105-108
    * `(data \\ "jobFlowId")`). */
  def jsonPluck(json: Column, path: String): Column =
    get_json_object(json, path)

  /** P1+P2 over a frame of raw mbean payloads: [[attributes]] and the
    * typed reads behind one UDF. `fields` maps output column name →
    * (attribute name, `DoubleType` or `LongType`); each column zero-fills
    * an absent or faulty gauge. `keepWhenPresent` keeps only the rows
    * whose named attribute is present and, where a field reads it, reads
    * without a fault — the caller's "this gauge was actually scraped"
    * gate, distinguishing a degraded or malformed payload (which would
    * otherwise zero-fill EVERY field) from a genuine zero reading. */
  def parsePayloads(
      df: DataFrame,
      jsonCol: String,
      fields: Map[String, (String, DataType)],
      keepWhenPresent: Option[String] = None): DataFrame = {
    val spec = fields.toSeq
    val zeros: Seq[Any] = spec.map {
      case (_, (_, DoubleType)) => 0.0
      case (_, (_, LongType))   => 0L
      case (out, (_, t)) =>
        throw new IllegalArgumentException(s"field $out: no gauge reader for $t")
    }
    val schema = StructType(StructField("keep", BooleanType, nullable = false) +:
      spec.indices.map(i => StructField(s"f$i", spec(i)._2._2, nullable = false)))
    val read = udf(new UDF1[String, Row] {
      override def call(payload: String): Row = {
        val a = attributes(payload)
        val gauges = spec.map { case (_, (attr, t)) => a.gauge(attr, t) }
        val keep = keepWhenPresent.forall(g => a.isPresent(g) &&
          spec.zip(gauges).forall { case ((_, (attr, _)), v) => attr != g || v != Gauge.Fault })
        Row.fromSeq(keep +: gauges.zip(zeros).map { case (g, z) => g.orZero(z) })
      }
    }, schema)
    val withRead = df.withColumn("__read", read(col(jsonCol)))
    val gated =
      if (keepWhenPresent.isEmpty) withRead else withRead.filter(col("__read").getField("keep"))
    spec.indices.foldLeft(gated) { (acc, i) =>
      acc.withColumn(spec(i)._1, col("__read").getField(s"f$i"))
    }.drop("__read")
  }
}
