package perfbench

import org.apache.spark.sql.Row

/** Checks of the benchmark's own arithmetic that need no Spark session.
  * Exits non-zero on the first failure.
  */
object SelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) { System.err.println(s"selftest failed: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    // percentile rule: the highest percentile with at least 10 samples beyond it
    check(Stats.supportedPercentile(100).contains(90), "100 samples support p90")
    check(Stats.supportedPercentile(99).contains(89), "99 samples support p89, not p90")
    check(Stats.supportedPercentile(1000).contains(99), "1000 samples support p99")
    check(Stats.supportedPercentile(11).contains(9), "11 samples support p9")
    check(Stats.supportedPercentile(10).isEmpty, "10 samples support no tail")
    val hundred = (1 to 100).map(_.toDouble)
    check(Stats.percentile(hundred, 90) == 90.0, "nearest-rank p90 of 1..100")
    check(Stats.tail(hundred).contains(90 -> 90.0), "tail of 1..100 is p90 = 90")
    check(hundred.count(_ > Stats.percentile(hundred, 90)) == 10, "10 samples beyond p90")

    // self time: the parent's span minus the union of its clipped children
    check(Stats.selfTime(0, 10, Seq((1, 3), (2, 5), (8, 12), (-1, 0.5))) == 3.5, "self time of a fixed tree")
    check(Stats.selfTime(0, 10, Nil) == 10.0, "self time without children")
    val rng = new scala.util.Random(7)
    (0 until 2000).foreach { _ =>
      val s = rng.nextDouble() * 10
      val e = s + rng.nextDouble() * 10
      val kids = Seq.fill(rng.nextInt(6)) {
        val a = rng.nextDouble() * 25 - 5
        (a, a + rng.nextDouble() * 8)
      }
      val self = Stats.selfTime(s, e, kids)
      check(self >= 0 && self <= e - s + 1e-9, s"self time $self outside [0, ${e - s}]")
    }

    // the row digest ignores row order and rounds away summation order
    val rows = Seq(Row(1L, "a", 0.1 + 0.2), Row(2L, null, Seq(1, 2)), Row(3L, "c", Map("k" -> 1)))
    check(Stats.rowDigest(rows) == Stats.rowDigest(rows.reverse), "digest is order-independent")
    check(Stats.rowDigest(Seq(Row(0.30000000000000004))) == Stats.rowDigest(Seq(Row(0.3))),
      "digest rounds doubles")
    check(Stats.rowDigest(rows) != Stats.rowDigest(rows.take(2)), "digest sees a missing row")

    // throttling is a pure function of the request's place: 1 in 25 per
    // partition, and always the first batch of partition 0
    val keys = for (p <- 0 until 400; b <- 0 until 25) yield (p, b)
    check(keys.count { case (p, b) => WireModel.wan.throttles(p, b) } == keys.size / 25,
      "exactly 1 in 25 batches of each partition")
    check(WireModel.wan.throttles(0, 0), "partition 0's first batch is throttled")
    check(!WireModel.instant.throttles(0, 0), "the instant model never throttles")
    println("selftest ok")
  }
}
