package graft.decide

import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp
import scala.util.Random

/** [[MetricSummary.ofSamples]] against its former body, kept here
  * verbatim as the oracle. The readings are arbitrary doubles, not on a
  * dyadic grid, so a mean equals the oracle's bit for bit only when its
  * samples are summed in the oracle's order: newest tick first, the
  * samples of a duplicated cell in arrival order. */
class OfSamplesEquivalenceSpec extends AnyFunSuite {

  private val NewestFirst: Ordering[Timestamp] = Ordering.fromLessThan(_ after _)

  /** The window summary as the control loop computed it before the
    * hash-map passes: a `groupMap` keyed by (node, ts). */
  private def oracle(samples: Seq[(Timestamp, String, Double)], n: Int): Option[(MetricSummary, Timestamp)] = {
    require(n > 0, s"window of $n ticks")
    if (samples.isEmpty) None
    else {
      val stamps = samples.map(_._1).distinct
      val newest = stamps.filter(_ != null).sorted(NewestFirst)
      val maxTs = newest.headOption.orNull
      val summary =
        if (stamps.size < n) MetricSummary.Cold
        else {
          // a null ts or node matches no cell (a null ts sorts last, as
          // `ORDER BY ts DESC` puts it), so it reads as a 0.0 sample
          val ticks = (newest ++ stamps.filter(_ == null)).take(n)
          val cells = samples.filter(s => s._1 != null && s._2 != null)
            .groupMap(s => (s._2, s._1))(_._3)
          val universe = samples.collect { case (ts, node, _) if maxTs != null && ts == maxTs => node }
            .distinct
          val avgs = universe.map { node =>
            val values = ticks.flatMap(ts => cells.getOrElse((node, ts), Seq(0.0)))
            node -> values.sum / values.size
          }.toMap
          MetricSummary(isCold = false, avgs, universe.count(_ != null))
        }
      Some((summary, maxTs))
    }
  }

  private val N = 4
  private val T0 = 1700000000000L

  /** A fresh stamp object for frame `i` (equal stamps are never the same
    * object, as across scrapes). */
  private def stamp(i: Int): Timestamp = new Timestamp(T0 + i * 15000L)

  /** A ring of `frames` scrape frames, newest last, as its rows. */
  private def ring(rnd: Random, frames: Int, nodes: Int = 6, churn: Boolean = false,
      dups: Boolean = false, sharedTs: Boolean = false, nullTs: Boolean = false,
      nullNode: Boolean = false, subMillis: Boolean = false): Seq[(Timestamp, String, Double)] = {
    val pool = (0 until nodes).map(i => s"d$i")
    val shared = if (frames > 1) rnd.nextInt(frames - 1) + 1 else -1
    val rows = (0 until frames).flatMap { i =>
      val ts =
        if (sharedTs && i == shared) stamp(i - 1)
        else if (subMillis) { val t = stamp(0); t.setNanos(i * 1000); t } // one millisecond, apart by nanos
        else stamp(i)
      val frame = if (churn) pool.filter(_ => rnd.nextDouble() < 0.6) else pool
      frame.map(node => (ts, node, rnd.nextDouble()))
    }
    def pick() = rows(rnd.nextInt(rows.size))
    def mix(extra: Seq[(Timestamp, String, Double)]) =
      extra.foldLeft(rows)((acc, r) => acc.patch(rnd.nextInt(acc.size + 1), Seq(r), 0))
    if (rows.isEmpty) rows
    else {
      val withDups = if (dups) mix(Seq.fill(5) { val r = pick(); (r._1, r._2, rnd.nextDouble()) }) else rows
      val withNullTs = if (nullTs) withDups ++ Seq((null, pick()._2, rnd.nextDouble()), (null, null, rnd.nextDouble())) else withDups
      if (nullNode) {
        val newest = withNullTs.flatMap(r => Option(r._1)).maxBy(_.getTime)
        withNullTs ++ Seq((newest, null, rnd.nextDouble()), (pick()._1, null, rnd.nextDouble()))
      } else withNullTs
    }
  }

  private def assertSame(name: String, rows: Seq[(Timestamp, String, Double)], n: Int = N): Option[Boolean] = {
    val got = MetricSummary.ofSamples(rows, n)
    val want = oracle(rows, n)
    assert(got === want, s"$name: $rows")
    for ((g, _) <- got; (w, _) <- want; (node, mean) <- w.oneMinuteAvg)
      assert(java.lang.Double.doubleToLongBits(g.oneMinuteAvg(node)) ===
        java.lang.Double.doubleToLongBits(mean), s"$name: $node")
    got.map(_._1.isCold)
  }

  test("ofSamples equals its former body on seeded rings, bit for bit") {
    val rnd = new Random(20261020L)
    val cases = (1 to 20).flatMap { _ =>
      Seq(
        "shorter than n" -> ring(rnd, rnd.nextInt(N - 1) + 1, churn = true),
        "exactly n" -> ring(rnd, N),
        "longer than n" -> ring(rnd, N + 1 + rnd.nextInt(4), churn = true),
        "node churn" -> ring(rnd, N, churn = true),
        "duplicate (node, ts) cells" -> ring(rnd, N + 1, churn = true, dups = true),
        "frames sharing a ts, n distinct" -> ring(rnd, N + 1, churn = true, sharedTs = true),
        "frames sharing a ts, cold" -> ring(rnd, N, sharedTs = true),
        "a null ts fills the window" -> ring(rnd, N - 1, churn = true, nullTs = true),
        "null ts past n" -> ring(rnd, N + 2, nullTs = true, dups = true),
        "null node" -> ring(rnd, N, churn = true, nullNode = true),
        "everything at once" -> ring(rnd, N + 2, churn = true, dups = true, sharedTs = true,
          nullTs = true, nullNode = true),
        "stamps apart by nanos" -> ring(rnd, N + 1, churn = true, subMillis = true))
    } ++ Seq(
      "empty window" -> Nil,
      "only null stamps" -> Seq((null, "d0", 0.5), (null, null, 0.25)))
    val outcomes = cases.map { case (name, rows) => assertSame(name, rows) }
    // the seeded cases reach every outcome: cold, warm and no window
    assert(outcomes.toSet === Set(Some(true), Some(false), None))
    // a one-tick window over only null stamps is warm with no universe
    assertSame("only null stamps, n = 1", Seq((null, "d0", 0.5)), n = 1)
  }

  test("ofSamples equals its former body on a 1,000-node, 4-frame ring") {
    val rnd = new Random(7L)
    val rows = ring(rnd, N, nodes = 1000, churn = true, dups = true)
    assert(rows.size > 2000)
    assert(assertSame("fleet", rows) === Some(false))
  }
}
