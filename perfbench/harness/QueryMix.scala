package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import Main.{Args, Metric, Result, ms}

/** query_mix: one client in a closed loop over four rows of the query
  * surface, against a fixed corpus. Each pass issues every row once, in an
  * order shuffled by the seed, so every run has the same request mix.
  *
  * The serve row (dd_incr_neardup_serve) is bound by the driver; the graph
  * and identity rows (one per iterative kernel: peeling, weighted
  * relaxation, connected components) by job barriers.
  */
object QueryMix {

  val rows: Seq[String] = Seq("dd_incr_neardup_serve", "graph_kcore",
    "graph_shortest_weighted", "id_resolution_cc")

  val rowMetrics: Seq[String] = Seq("ms", "jobs", "stages", "task_ms", "driver_only_ms",
    "shuffle_read_bytes")

  private lazy val fns: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    SparkEntry.queries ++ SparkEntry.benchQueries

  final case class Expected(count: Long, digest: Option[String])

  private def expectations(a: Args): Map[String, Expected] =
    rows.map { r =>
      val e = a.expect.path("queries").path(r)
      require(!e.isMissingNode, s"no recorded output for $r")
      r -> Expected(e.get("count").asLong,
        Option(e.get("digest")).filterNot(_.isNull).map(_.asText))
    }.toMap

  final case class Req(row: String, pass: Int, startNs: Long, endNs: Long,
      rows: Seq[Row], error: Option[String]) {
    def wallMs: Double = ms(endNs - startNs)
  }

  private def request(spark: SparkSession, dir: String, row: String, pass: Int): Req = {
    val t0 = System.nanoTime()
    val (out, err) =
      try (fns(row)(spark, dir).collect().toSeq, None)
      catch { case e: Exception => (Nil, Some(e.toString)) }
    Req(row, pass, t0, System.nanoTime(), out, err)
  }

  /** Why a request failed its output check, if it did. */
  def mismatch(r: Req, e: Expected): Option[String] =
    r.error.map(x => s"${r.row}: $x").orElse {
      val digest = Stats.rowDigest(r.rows)
      if (r.rows.size != e.count) Some(s"${r.row}: ${r.rows.size} rows, expected ${e.count}")
      else if (e.digest.exists(_ != digest)) Some(s"${r.row}: digest $digest, expected ${e.digest.get}")
      else None
    }

  private def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(rows)

  /** Stands up a session over a private copy of the corpus: the program
    * caches its serve fixtures per corpus path, so each set-up builds them
    * anew. One untimed request per row builds fixtures and warms the JIT.
    */
  private def setUp(a: Args, jvmStartMs: Long): (SparkSession, Seq[Double], String) = {
    var dir = ""
    val (spark, times) = Main.setUp(Main.SetupReps, jvmStartMs) { i =>
      dir = s"${a.work}/corpus-$i"
      Main.copyTree(Paths.get(a.expect.get("corpus").asText), Paths.get(dir))
      val s = Main.startSession(a.cores, a.work)
      rows.foreach(r => request(s, dir, r, -1))
      s
    }
    (spark, times, dir)
  }

  def run(a: Args, jvmStartMs: Long): Result = {
    val exp = expectations(a)
    val (spark, setupTimes, dir) = setUp(a, jvmStartMs)
    try {
      val probe = new Probe
      val tracer = new Tracer(System.nanoTime())
      val reqs = Main.buf[Req]
      val counts = Main.buf[(Req, Counts, Double)]
      val passWall = Main.buf[(Boolean, Double)]
      val w0 = System.nanoTime()
      val cpu0 = Main.cpuMs()
      var pass = 0
      val minPasses = if (a.trace) 2 else 1 // a traced run needs one pass of each kind
      while (pass < minPasses || Main.fits(w0, passWall.last._2, a.seconds)) {
        // traced runs alternate untraced and traced passes: the difference
        // of their walls is the tracing overhead
        val tracedPass = a.trace && pass % 2 == 1
        if (tracedPass) probe.attach(spark)
        val passSpan = tracer.reserve()
        val p0 = System.nanoTime()
        order(a.seed, pass).foreach { row =>
          if (tracedPass) {
            val c0 = probe.snapshot(spark)
            val m0 = System.currentTimeMillis()
            val r = request(spark, dir, row, pass)
            val m1 = System.currentTimeMillis()
            val d = probe.snapshot(spark) - c0
            val jobs = probe.jobIntervals(m0, m1).map { case (s, e) => (s.toDouble, e.toDouble) }
            val driverOnly = Stats.selfTime(m0.toDouble, m1.toDouble, jobs)
            tracer.add(row, passSpan, s"q-$pass-$row", r.startNs, r.endNs,
              d.toMap + ("driver_only_ms" -> driverOnly))
            counts += ((r, d, driverOnly))
            reqs += r
          } else reqs += request(spark, dir, row, pass)
        }
        val p1 = System.nanoTime()
        tracer.put(passSpan, if (tracedPass) "pass" else "pass (untraced)", 0, s"q-$pass", p0, p1, Map.empty)
        passWall += ((tracedPass, ms(p1 - p0)))
        if (tracedPass) probe.detach(spark)
        pass += 1
      }
      val wallS = (System.nanoTime() - w0) / 1e9
      val cpuPerReq = (Main.cpuMs() - cpu0) / reqs.size
      val problems = reqs.toSeq.flatMap(r => mismatch(r, exp(r.row)))
      problems.distinct.take(10).foreach(p => System.err.println(s"[perfbench] output check: $p"))
      val env: Map[String, Any] = Map("corpus" -> a.expect.get("corpus_name").asText,
        "passes" -> pass, "requests" -> reqs.size, "setup_runs_s" -> setupTimes,
        "row_p50_ms" -> rows.map(r => r -> Stats.median(reqs.filter(_.row == r).map(_.wallMs).toSeq)).toMap,
        "problems" -> problems.distinct.take(10).toSeq,
        "latency_tail_ms" -> Stats.tail(reqs.map(_.wallMs).toSeq).map { case (p, v) => Map(s"p$p" -> v) })
      val metrics =
        if (!a.trace) {
          // the rows' latencies differ by 4x, so a median over the mixed
          // requests would jump between rows; combine per-row medians
          val rowMedians = rows.map(r => Stats.median(reqs.filter(_.row == r).map(_.wallMs).toSeq))
          Seq(Metric("setup_s", Stats.median(setupTimes), "s"),
            Metric("throughput_per_s", reqs.size / wallS, "1/s"),
            Metric("latency_ms", Stats.geomean(rowMedians), "ms"),
            Metric("cpu_ms_per_op", cpuPerReq, "ms"),
            Metric("peak_rss_mb", Main.peakRssMb(), "MB"))
        } else {
          def med(xs: Seq[Double]) = Stats.median(xs)
          val perRow = rows.flatMap { row =>
            val cs = counts.filter(_._1.row == row).toSeq
            Seq(
              s"queries.$row.ms" -> med(cs.map(_._1.wallMs)),
              s"queries.$row.jobs" -> med(cs.map(_._2.jobs.toDouble)),
              s"queries.$row.stages" -> med(cs.map(_._2.stages.toDouble)),
              s"queries.$row.task_ms" -> med(cs.map(_._2.taskMs.toDouble)),
              s"queries.$row.driver_only_ms" -> med(cs.map(_._3)),
              s"queries.$row.shuffle_read_bytes" -> med(cs.map(_._2.shuffleRead.toDouble)))
          }
          // engine totals per pass: one request of each row
          val perPass = counts.groupBy(_._1.pass).values.map { cs =>
            (cs.map(_._2).reduce(_ + _), cs.map(_._3).sum)
          }.toSeq
          val (tr, un) = passWall.partition(_._1)
          val layers = Etl.etlLayerNames.map(_ -> 0.0) ++ perRow ++ Etl.sparkMetrics(perPass) ++
            Seq("trace.overhead_ms" -> (med(tr.map(_._2).toSeq) - med(un.map(_._2).toSeq)))
          layers.map { case (k, v) => Metric(k, v, Main.unitOf(k)) }
        }
      Result(problems.isEmpty, reqs.size, problems.size, metrics, env, tracer.all)
    } finally spark.stop()
  }

  /** Records each row's output on the corpus, for the expected file. A row
    * whose digest changes between repeats is recorded by count alone.
    */
  def record(spark: SparkSession, dir: String, repeats: Int): Map[String, Expected] =
    rows.map { row =>
      val outs = (0 until repeats).map(_ => request(spark, dir, row, 0))
      outs.flatMap(_.error).headOption.foreach(e => sys.error(s"$row failed: $e"))
      val digests = outs.map(o => Stats.rowDigest(o.rows)).distinct
      val counts = outs.map(_.rows.size).distinct
      require(counts.size == 1, s"$row returns ${counts.mkString("/")} rows across repeats")
      row -> Expected(counts.head.toLong, if (digests.size == 1) Some(digests.head) else None)
    }.toMap
}

/** Writes the expected query outputs for a corpus directory:
  * `Record <corpus-dir> <out.json> <cores> <repeats>`.
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(dir, out, cores, repeats) = args
    val spark = Main.startSession(cores.toInt, Files.createTempDirectory("perfbench-record").toString)
    try {
      val rec = QueryMix.record(spark, dir, repeats.toInt)
      val doc = QueryMix.rows.map { r =>
        r -> Map("count" -> rec(r).count, "digest" -> rec(r).digest.orNull)
      }.toMap
      Files.write(Paths.get(out), Main.mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsBytes(Main.toJava(doc)))
    } finally spark.stop()
  }
}
