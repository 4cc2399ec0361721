package perfbench

/** Small, pure helpers the benchmark's own tests exercise directly. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Highest whole percentile of `n` samples that still has at least
    * `minBeyond` samples strictly above its rank: a tail figure is only
    * reported where the run has enough samples to support it.
    */
  def supportedPercentile(n: Int, minBeyond: Int = 10): Option[Int] =
    (99 to 1 by -1).find(p => n - rank(n, p) >= minBeyond)

  /** 1-based nearest rank of percentile `p` among `n` samples, in exact
    * integer arithmetic (0.9 * 100 is not 90 in floating point).
    */
  private def rank(n: Int, p: Int): Int = ((p.toLong * n + 99) / 100).toInt

  /** Nearest-rank percentile `p` of `samples`. */
  def percentile(samples: Seq[Double], p: Int): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    val s = samples.sorted
    s((rank(s.size, p) - 1).max(0))
  }

  /** The highest percentile the samples support (see
    * [[supportedPercentile]]), with its value; None below 11 samples.
    */
  def tail(samples: Seq[Double]): Option[(Int, Double)] =
    supportedPercentile(samples.size).map(p => p -> percentile(samples, p))

  /** Time inside [start, end] not covered by any of `children`: a span's
    * self time. Children are clipped to the parent and their overlaps are
    * counted once, so the result lies in [0, end - start].
    */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double = {
    val clipped = children.map { case (s, e) => (s max start, e min end) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = curE max e
      else { covered += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) covered += curE - curS
    (end - start) - covered
  }

  /** Order-independent digest of result rows: the wrapping sum of a 64-bit
    * hash of each row's canonical text. Doubles are rounded to 9
    * significant digits so that summation order inside the engine cannot
    * change the digest.
    */
  def rowDigest(rows: Seq[org.apache.spark.sql.Row]): String = {
    def canon(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
      case f: Float => canon(f.toDouble)
      case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
      case a: Array[_] => a.map(canon).mkString("[", ",", "]")
      case other => other.toString
    }
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val t = canon(r)
      val h1 = scala.util.hashing.MurmurHash3.stringHash(t, 0x5eed)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(t, 0xbeef)
      acc + ((h1.toLong << 32) | (h2.toLong & 0xffffffffL))
    }
    f"$sum%016x"
  }
}
