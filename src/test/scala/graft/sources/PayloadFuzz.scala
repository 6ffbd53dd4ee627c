package graft.sources

import graft.model.QueryActivity

import scala.util.Random

/** Seeded mbean payloads, each with what the [[JmxJson]] fault rule says
  * it holds, written down independently of the reader: the specs check
  * the reader, the frame face and the tick against these labels. */
object PayloadFuzz {

  /** A node's OS-mbean payload: the CPU reading the tick must keep (None:
    * the node drops out of the window) and the core count it publishes. */
  final case class NodePayload(payload: String, cpu: Option[Double], cores: Long)

  def mbean(attrs: Seq[(String, String)]): String =
    attrs.map { case (n, v) => s"""{"name":"$n","value":$v}""" }
      .mkString("""{"attributes":[""", ",", "]}")

  /** A CPU value on the 1/1024 grid, so window sums are exact. */
  def gridValue(rng: Random, lo: Double = 0.0, hi: Double = 1.0): Double =
    math.round((lo + rng.nextDouble() * (hi - lo)) * 1024) / 1024.0

  /** JSON value texts that are faults for a double gauge. */
  val DoubleFaults: Seq[String] = Seq("\"n/a\"", "true", "false", "\"NaN\"",
    "\"Infinity\"", "\"-Infinity\"", "1e400", "-1e400", """{"v":0.5}""", "[0.5]", "\"\"")

  /** JSON value texts that are faults for a long gauge. */
  val LongFaults: Seq[String] = Seq("8.5", "\"8.5\"", "\"n/a\"", "true",
    "99999999999999999999", "\"-99999999999999999999\"", "1e30", """{"v":8}""", "[8]")

  /** Whole payloads that hold no attribute: blank, damaged or shapeless. */
  val Shapeless: Seq[String] = Seq("", "   ", "<html><body>502 Bad Gateway</body></html>",
    "not json at all", "null", "42", "[]", """{"attributes":null}""", """{"attributes":{}}""",
    """{"attrs":[{"name":"ProcessCpuLoad","value":0.5}]}""",
    """[{"attributes":[{"name":"ProcessCpuLoad","value":0.5}]}]""",
    """{"attributes":[{"name":"ProcessCpuLoad","value":NaN}]}""")

  private def pick[A](rng: Random, xs: Seq[A]): A = xs(rng.nextInt(xs.length))

  /** A clean CPU value text and its reading: a JSON number or a numeric
    * string. */
  private def cleanCpu(rng: Random, lo: Double, hi: Double): (String, Double) = {
    val v = gridValue(rng, lo, hi)
    rng.nextInt(4) match {
      case 0 => (s""""$v"""", v)
      case 1 => (s"""" $v """", v)
      case _ => (v.toString, v)
    }
  }

  /** A core-count value text and what it reads as (a fault reads 0). */
  private def coresValue(rng: Random): (String, Long) = {
    val c = pick(rng, Seq(8L, 16L, 32L))
    rng.nextInt(8) match {
      case 0 => (s"$c.0", c)
      case 1 => (s""""$c"""", c)
      case 2 => (pick(rng, LongFaults), 0L)
      case 3 => ("null", 0L)
      case _ => (c.toString, c)
    }
  }

  /** Noise entries that never name a gauge the tick reads. */
  private def noise(rng: Random): Seq[String] = Seq.fill(rng.nextInt(3))(pick(rng, Seq(
    """{"name":null,"value":0.1}""", """{"name":7,"value":0.1}""", """{"value":0.1}""",
    """{"name":"SystemCpuLoad","value":true}""", """{"name":"SystemCpuLoad","value":"n/a"}""",
    """{"name":"ProcessCpuTime","value":{"a":[1,2]}}""", "17", "\"x\"", "null")))

  /** One node payload; about `faultShare` of them fault or drop out. */
  def node(rng: Random, lo: Double = 0.0, hi: Double = 1.0, faultShare: Double = 0.4): NodePayload = {
    val (cores, coresTruth) = coresValue(rng)
    val coresEntry = Seq(s"""{"name":"AvailableProcessors","value":$cores}""")
    def entries(cpu: String, extra: Seq[String] = Nil) = rng.shuffle(
      s"""{"name":"ProcessCpuLoad","value":$cpu}""" +: (coresEntry ++ noise(rng) ++ extra))
    def payload(es: Seq[String]) = es.mkString("""{"attributes":[""", ",", "]}")
    if (rng.nextDouble() >= faultShare) {
      val (cpu, v) = cleanCpu(rng, lo, hi)
      // a duplicate whose LAST occurrence is clean still reads clean
      if (rng.nextInt(5) == 0) {
        val es = (s"""{"name":"ProcessCpuLoad","value":${pick(rng, DoubleFaults)}}""" +:
          rng.shuffle(coresEntry ++ noise(rng))) :+ s"""{"name":"ProcessCpuLoad","value":$cpu}"""
        NodePayload(payload(es), Some(v), coresTruth)
      } else NodePayload(payload(entries(cpu)), Some(v), coresTruth)
    } else {
      val (cleanText, _) = cleanCpu(rng, lo, hi)
      rng.nextInt(6) match {
        case 0 => NodePayload(payload(entries(pick(rng, DoubleFaults))), None, coresTruth)
        case 1 => NodePayload(payload(entries("null")), None, coresTruth)
        case 2 => NodePayload(payload(rng.shuffle(coresEntry ++ noise(rng))), None, coresTruth)
        case 3 => // duplicate name: the last occurrence is a fault or null
          val es = (s"""{"name":"ProcessCpuLoad","value":$cleanText}""" +:
            rng.shuffle(coresEntry ++ noise(rng))) :+
            s"""{"name":"ProcessCpuLoad","value":${pick(rng, "null" +: DoubleFaults)}}"""
          NodePayload(payload(es), None, coresTruth)
        case 4 => // truncated anywhere: never valid JSON
          val whole = payload(entries(cleanText))
          NodePayload(whole.take(rng.nextInt(whole.length)), None, 0L)
        case _ => NodePayload(pick(rng, Shapeless), None, 0L)
      }
    }
  }

  /** Query-stats payloads with the activity the tick must read. */
  val QueryStats: Seq[(String, QueryActivity)] = {
    val idle = QueryActivity(0, 0, 0, 0, 0, 0, 0)
    Seq(
      (mbean(Seq("RunningQueries" -> "2", "QueuedQueries" -> "1",
        "FailedQueries.OneMinute.Count" -> "0.25")), QueryActivity(2, 1, 0, 0, 0, 0, 0, 0.25)),
      (mbean(Seq("RunningQueries" -> "0", "QueuedQueries" -> "0")), idle),
      (mbean(Seq("RunningQueries" -> "0.0", "QueuedQueries" -> "\"0\"",
        "CompletedQueries.FiveMinute.Count" -> "\"0.5\"")), idle.copy(completed5m = 0.5)),
      (mbean(Seq("RunningQueries" -> "0", "RunningQueries" -> "3")), idle.copy(running = 3)),
      (mbean(Seq("RunningQueries" -> "\"n/a\"", "QueuedQueries" -> "0")), QueryActivity.AssumeActive),
      (mbean(Seq("RunningQueries" -> "null", "QueuedQueries" -> "0")), QueryActivity.AssumeActive),
      (mbean(Seq("RunningQueries" -> "0", "QueuedQueries" -> "true")), QueryActivity.AssumeActive),
      (mbean(Seq("RunningQueries" -> "0", "QueuedQueries" -> "0",
        "CompletedQueries.FiveMinute.Count" -> "\"NaN\"")), QueryActivity.AssumeActive),
      (mbean(Seq("RunningQueries" -> "4294967296", "QueuedQueries" -> "0")),
        QueryActivity.AssumeActive),
      (mbean(Seq("QueuedQueries" -> "0")), QueryActivity.AssumeActive),
      ("", QueryActivity.AssumeActive),
      ("""{"attributes":[{"name":"RunningQueries","val""", QueryActivity.AssumeActive))
  }

  /** Required-workers payloads with the hint the tick must read. */
  val Required: Seq[(String, Int)] = Seq(
    (mbean(Seq("RequiredWorkers" -> "9")), 9),
    (mbean(Seq("RequiredWorkers" -> "\"12\"")), 12),
    (mbean(Seq("RequiredWorkers" -> "\"n/a\"")), 0),
    (mbean(Seq("RequiredWorkers" -> "9.5")), 0),
    (mbean(Seq("RequiredWorkers" -> "4294967305")), 0),
    (mbean(Seq("RequiredWorkers" -> "null")), 0),
    ("<html></html>", 0),
    ("", 0))

  /** Arbitrary damage to a payload: a cut, a spliced run of JSON-ish
    * characters, or a dropped character. */
  def mangle(rng: Random, s: String): String = {
    if (s.isEmpty) return s
    val i = rng.nextInt(s.length)
    rng.nextInt(3) match {
      case 0 => s.take(i)
      case 1 => s.take(i) + Seq.fill(1 + rng.nextInt(6))(pick(rng, "{}[]\":,0.e-\\ntu\u0000é")).mkString + s.drop(i)
      case _ => s.take(i) + s.drop(i + 1)
    }
  }
}
