package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.model.Model
import graft.sinks.Sinks
import graft.sources.Sources
import Main.{Args, Metric, Result, ms}

/** The two E-T-L workloads.
  *
  * etl_amplitude: Amplitude export -> Mixpanel, acked at once (engine-bound).
  * load_wan: Mixpanel staging -> Mixpanel through a modelled uplink
  * (sink-bound: batching, retry and backoff, HTTP concurrency).
  *
  * Untraced runs loop full `Pipeline.run`s for the window. Traced runs
  * loop rounds of cumulative prefixes (extract; + transform; + shaping;
  * the full run) so each layer's self time is the difference between
  * neighbouring prefixes.
  */
object Etl {

  private val opts = Map("project_id" -> "perfbench", "auth" -> "cGVyZmJlbmNoOg==",
    "token" -> "perfbench-token")

  final case class Expected(events: Long, profiles: Long, merges: Long, corrupt: Long) {
    def records: Long = events + profiles + merges
  }

  private def expected(j: com.fasterxml.jackson.databind.JsonNode) =
    Expected(j.get("events").asLong, j.get("profiles").asLong, j.get("merges").asLong,
      j.get("corrupt").asLong)

  private final case class Load(source: Pipeline.Source, model: WireModel,
      extract: SparkSession => Seq[DataFrame], corrupt: SparkSession => Long)

  private def load(workload: String, dir: String, where: String): Load = workload match {
    case "etl_amplitude" => Load(Pipeline.AmplitudeStaged(dir), WireModel.instant,
      s => Seq(Sources.staged(s, dir, Model.amplitudeSchema)),
      s => Sources.jsonAuto(s, dir, Model.amplitudeSchema).corrupt.count())
    case "load_wan" => Load(
      Pipeline.MixpanelStaged(dir, where = Some(where), doPeople = true), WireModel.wan,
      s => Seq(Sources.staged(s, dir, Model.mpEventSchema),
        Sources.staged(s, s"$dir-engage", Model.engageSchema)),
      s => Sources.jsonAuto(s, dir, Model.mpEventSchema).corrupt.count() +
        Sources.jsonAuto(s, s"$dir-engage", Model.engageSchema).corrupt.count())
  }

  final case class Run(report: Option[Pipeline.Report], error: Option[String],
      posts: Seq[Post], maxInflight: Int, waitNs: Long, startNs: Long, endNs: Long) {
    def wallMs: Double = ms(endNs - startNs)
  }

  /** One full E-T-L against a fresh fake server. */
  def etl(spark: SparkSession, l: Load): Run = {
    val (id, st) = Server.open(l.model)
    val cfg = Pipeline.Config(l.source, Pipeline.HttpSink("mixpanel", opts, new FakeTransport(id)))
    val t0 = System.nanoTime()
    val (rep, err) =
      try (Some(Pipeline.run(spark, cfg)), None)
      catch { case e: Exception => (None, Some(e.toString)) }
    val t1 = System.nanoTime()
    Server.close(id)
    Run(rep, err, st.all, st.maxInflight.get, st.waitNs.get, t0, t1)
  }

  /** Checks one run's acknowledged output against the generator's counts.
    * Returns the number of records that went wrong.
    */
  final case class Checked(run: Run, delivered: Delivered, failed: Long, problems: Seq[String]) {
    def acked: Long = delivered.events + delivered.profiles + delivered.merges
  }

  def check(r: Run, exp: Expected): Checked = {
    val d = Delivered.check(r.posts)
    val rep = r.report
    def diff(name: String, want: Long, got: Long, reported: Option[Long]): (Long, Option[String]) = {
      val off = math.max(math.abs(want - got), reported.map(x => math.abs(want - x)).getOrElse(want))
      (off, if (off > 0) Some(s"$name: expected $want, delivered $got, reported ${reported.getOrElse("none")}") else None)
    }
    val parts = Seq(
      diff("events", exp.events, d.events, rep.map(_.events)),
      diff("profiles", exp.profiles, d.profiles, rep.map(_.profiles)),
      diff("merges", exp.merges, d.merges, rep.map(_.merges)))
    val failedBatches = rep.flatMap(_.sink).map(_.failedBatches).getOrElse(0L)
    val problems = parts.flatMap(_._2) ++ r.error.toSeq ++
      (if (d.duplicateInsertIds > 0) Seq(s"${d.duplicateInsertIds} repeated $$insert_id on /import") else Nil) ++
      (if (d.duplicateProfiles > 0) Seq(s"${d.duplicateProfiles} repeated profiles on /engage") else Nil) ++
      (if (failedBatches > 0) Seq(s"$failedBatches failed batches") else Nil)
    Checked(r, d, parts.map(_._1).sum + d.duplicateInsertIds + d.duplicateProfiles, problems)
  }

  def run(a: Args, jvmStartMs: Long): Result = {
    val where = a.expect.path("main").path("where").asText("")
    val main = load(a.workload, s"${a.work}/input/main", where)
    val exp = expected(a.expect.get("main"))
    val (spark, setupTimes) = Main.setUp(Main.SetupReps, jvmStartMs) { _ =>
      val s = Main.startSession(a.cores, a.work)
      etl(s, main) // untimed warm-up: JIT, and G1 sizing to the load
      s
    }
    try {
      if (a.trace) traced(spark, a, main, exp, setupTimes)
      else untraced(spark, a, main, exp, setupTimes)
    } finally spark.stop()
  }

  private def summary(checked: Seq[Checked], exp: Expected): (Boolean, Long, Long, Map[String, Any]) = {
    val problems = checked.flatMap(_.problems).distinct
    problems.take(10).foreach(p => System.err.println(s"[perfbench] output check: $p"))
    val attempted = exp.records * checked.size
    val failed = checked.map(_.failed).sum
    (problems.isEmpty, attempted, failed,
      Map("input" -> Map("events" -> exp.events, "profiles" -> exp.profiles,
        "merges" -> exp.merges, "corrupt_lines" -> exp.corrupt),
        "etl_runs" -> checked.size, "problems" -> problems.take(10)))
  }

  private def untraced(spark: SparkSession, a: Args, main: Load, exp: Expected,
      setupTimes: Seq[Double]): Result = {
    val runs = Main.buf[Run]
    val w0 = System.nanoTime()
    val cpu0 = Main.cpuMs()
    while (runs.isEmpty || Main.fits(w0, runs.last.wallMs, a.seconds)) runs += etl(spark, main)
    val cpuPerRun = (Main.cpuMs() - cpu0) / runs.size
    val checked = Main.inParallel(runs.toSeq)(check(_, exp))
    val (ok, attempted, failed, env) = summary(checked, exp)
    val rps = checked.map(c => c.acked / (c.run.wallMs / 1e3))
    Result(ok, attempted, failed, Seq(
      Metric("setup_s", Stats.median(setupTimes), "s"),
      Metric("throughput_per_s", Stats.median(rps), "1/s"),
      Metric("latency_ms", Stats.median(checked.map(_.run.wallMs)), "ms"),
      Metric("cpu_ms_per_op", cpuPerRun, "ms"),
      Metric("peak_rss_mb", Main.peakRssMb(), "MB")),
      env ++ Map("setup_runs_s" -> setupTimes, "etl_wall_ms" -> checked.map(_.run.wallMs)))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def counted(df: DataFrame, name: String): (DataFrame, Observation) = {
    val o = new Observation(name)
    (df.observe(o, count(lit(1)).as("n")), o)
  }
  private def n(o: Observation): Long = o.get("n").asInstanceOf[Long]

  /** One traced prefix: wall, listener counts, and the job intervals. */
  private final case class Cut(wallMs: Double, c: Counts, driverOnlyMs: Double, span: Int)

  private def traced(spark: SparkSession, a: Args, main: Load, exp: Expected,
      setupTimes: Seq[Double]): Result = {
    val probe = new Probe
    val tracer = new Tracer(System.nanoTime())
    var req = 0
    def cut(name: String, parent: Int)(body: => Unit): Cut = {
      val c0 = probe.snapshot(spark)
      val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
      body
      val (s1, m1) = (System.nanoTime(), System.currentTimeMillis())
      val d = probe.snapshot(spark) - c0
      val jobs = probe.jobIntervals(m0, m1).map { case (s, e) => (s.toDouble, e.toDouble) }
      val driverOnly = Stats.selfTime(m0.toDouble, m1.toDouble, jobs)
      val id = tracer.add(name, parent, s"etl-$req", s0, s1,
        d.toMap + ("driver_only_ms" -> driverOnly))
      Cut(ms(s1 - s0), d, driverOnly, id)
    }
    val corrupt = main.corrupt(spark)
    val untracedWall, planMs, rowsIn, rowsOut, dedupIn, dedupOut = Main.buf[Double]
    val p1, p2, p3, p4 = Main.buf[Cut]
    val plain, full = Main.buf[Run]
    val w0 = System.nanoTime()
    var roundMs = 0.0
    while (p4.isEmpty || Main.fits(w0, roundMs, a.seconds)) {
      val r0 = System.nanoTime()
      req += 1
      val u = etl(spark, main) // listener detached: the overhead baseline
      plain += u
      untracedWall += u.wallMs
      val root = tracer.reserve()
      probe.attach(spark)
      try {
        p1 += cut("extract", root) {
          val outs = main.extract(spark).zipWithIndex.map { case (df, i) => counted(df, s"in$i") }
          outs.foreach(o => noop(o._1))
          rowsIn += outs.map(o => n(o._2)).sum.toDouble
        }
        p2 += cut("extract+transform", root) {
          val t0 = System.nanoTime()
          val out = Pipeline.transform(spark, main.source)
          planMs += ms(System.nanoTime() - t0)
          val frames = Seq(Some(out.events), out.profiles, out.mergePairs).flatten
            .zipWithIndex.map { case (df, i) => counted(df, s"out$i") }
          try frames.foreach(f => noop(f._1)) finally out.release()
          val ns = frames.map(f => n(f._2))
          rowsOut += ns.sum.toDouble
          dedupOut += ns.drop(1).sum.toDouble
        }
        p3 += cut("extract+transform+shape", root) {
          val out = Pipeline.transform(spark, main.source)
          try {
            noop(Sinks.shapeMixpanelEvents(out.events))
            out.profiles.foreach(p => noop(Sinks.shapeMixpanelProfiles(p, opts("token"))))
            out.mergePairs.foreach(m => noop(Sinks.shapeMixpanelMerges(m)))
          } finally out.release()
        }
        var r: Run = null
        p4 += cut("pipeline.run", root) { r = etl(spark, main) }
        r.posts.foreach(p => tracer.add(s"POST ${if (p.url.contains("/engage")) "/engage" else "/import"} ${p.status}",
          p4.last.span, s"etl-$req", p.startNs, p.endNs, Map("bytes" -> p.bytes.toDouble)))
        full += r
        if (dedupIn.isEmpty) dedupIn += dedupCandidates(spark, a.workload, main).toDouble
      } finally probe.detach(spark)
      val r1 = System.nanoTime()
      tracer.put(root, "round", 0, s"etl-$req", r0, r1, Map("untraced_run_ms" -> u.wallMs))
      roundMs = ms(r1 - r0)
    }
    val traced = Main.inParallel(full.toSeq)(check(_, exp))
    val (ok, attempted, failed, env) = summary(Main.inParallel(plain.toSeq)(check(_, exp)) ++ traced, exp)
    def med(xs: Iterable[Double]) = Stats.median(xs.toSeq)
    val posts = traced.map(_.run.posts)
    val okPosts = traced.map(_.run.posts.count(_.status == 200))
    val acked = traced.map(_.acked.toDouble)
    val m1 = med(p1.map(_.wallMs)); val m2 = med(p2.map(_.wallMs)); val m4 = med(p4.map(_.wallMs))
    val etlLayers = Map(
      "sources.self_ms" -> m1,
      "sources.task_ms" -> med(p1.map(_.c.taskMs.toDouble)),
      "sources.rows_in" -> med(rowsIn),
      "sources.corrupt_rows" -> corrupt.toDouble,
      "sources.input_bytes" -> med(p1.map(_.c.inputBytes.toDouble)),
      "pipeline.plan_ms" -> med(planMs),
      "operators.self_ms" -> math.max(0.0, m2 - m1),
      "operators.task_ms" -> math.max(0.0, med(p2.map(_.c.taskMs.toDouble)) - med(p1.map(_.c.taskMs.toDouble))),
      "operators.jobs" -> med(p2.zip(p1).map { case (x, y) => (x.c.jobs - y.c.jobs).toDouble }),
      "operators.shuffle_write_bytes" -> med(p2.zip(p1).map { case (x, y) => (x.c.shuffleWrite - y.c.shuffleWrite).toDouble }),
      "operators.spill_bytes" -> med(p2.zip(p1).map { case (x, y) => (x.c.spill - y.c.spill).toDouble }),
      "operators.rows_out" -> med(rowsOut),
      "operators.dedup_keep_ratio" -> (if (dedupIn.head > 0) med(dedupOut) / dedupIn.head else 1.0),
      "sinks.self_ms" -> math.max(0.0, m4 - m2),
      "sinks.wait_ms" -> med(traced.map(c => ms(c.run.waitNs))),
      "sinks.posts" -> med(posts.map(_.size.toDouble)),
      "sinks.retries" -> med(posts.zip(okPosts).map { case (p, k) => (p.size - k).toDouble }),
      "sinks.throttled" -> med(posts.map(_.count(_.status == 429).toDouble)),
      "sinks.records_per_post" -> med(acked.zip(okPosts).map { case (x, k) => x / k }),
      "sinks.post_p50_ms" -> med(posts.flatten.map(p => ms(p.endNs - p.startNs))),
      "sinks.max_inflight" -> med(traced.map(_.run.maxInflight.toDouble)),
      "sinks.wire_bytes" -> med(posts.map(_.map(_.bytes.toDouble).sum)),
      "sinks.wire_bytes_per_record" -> med(posts.zip(acked).map { case (p, x) => p.map(_.bytes.toDouble).sum / x }),
      "sinks.gzip_ratio" -> med(traced.map(c => c.delivered.rawBytes.toDouble /
        c.run.posts.filter(_.status == 200).map(_.bytes.toDouble).sum)))
    val layers = etlLayerNames.map(k => k -> etlLayers(k)) ++
      QueryMix.rows.flatMap(r => QueryMix.rowMetrics.map(m => s"queries.$r.$m" -> 0.0)) ++
      sparkMetrics(p4.map(c => c.c -> c.driverOnlyMs).toSeq) ++
      Seq("trace.overhead_ms" -> (m4 - med(untracedWall)))
    Result(ok, attempted, failed, layers.map { case (k, v) => Metric(k, v, Main.unitOf(k)) },
      env ++ Map("prefix_wall_ms" -> Map("extract" -> p1.map(_.wallMs).toSeq,
        "transform" -> p2.map(_.wallMs).toSeq, "shape" -> p3.map(_.wallMs).toSeq,
        "run" -> p4.map(_.wallMs).toSeq, "run_untraced" -> untracedWall.toSeq)),
      tracer.all)
  }

  /** Per-layer metrics of the E-T-L path, in report order. */
  val etlLayerNames: Seq[String] = Seq("sources.self_ms", "sources.task_ms",
    "sources.rows_in", "sources.corrupt_rows", "sources.input_bytes", "pipeline.plan_ms",
    "operators.self_ms", "operators.task_ms", "operators.jobs", "operators.shuffle_write_bytes",
    "operators.spill_bytes", "operators.rows_out", "operators.dedup_keep_ratio",
    "sinks.self_ms", "sinks.wait_ms", "sinks.posts", "sinks.retries", "sinks.throttled",
    "sinks.records_per_post", "sinks.post_p50_ms", "sinks.max_inflight", "sinks.wire_bytes",
    "sinks.wire_bytes_per_record", "sinks.gzip_ratio")

  /** Rows entering the dedup steps: Amplitude rows that could yield a
    * profile or a merge edge; Mixpanel engage rows (no dedup there).
    */
  private def dedupCandidates(spark: SparkSession, workload: String, l: Load): Long = {
    val ins = l.extract(spark)
    if (workload == "etl_amplitude") {
      val amp = ins.head
      def nonEmpty(c: Column) = c.isNotNull && c =!= ""
      amp.filter(size(map_keys(coalesce(col("user_properties"),
        map().cast("map<string,string>")))) > 0).count() +
        amp.filter(nonEmpty(col("user_id")) && nonEmpty(col("device_id")) &&
          col("user_id") =!= col("device_id")).count()
    } else ins(1).count()
  }

  def sparkMetrics(cs: Seq[(Counts, Double)]): Seq[(String, Double)] = {
    def med(f: Counts => Long) = Stats.median(cs.map(c => f(c._1).toDouble))
    Seq("spark.jobs" -> med(_.jobs), "spark.stages" -> med(_.stages),
      "spark.task_ms" -> med(_.taskMs), "spark.driver_only_ms" -> Stats.median(cs.map(_._2)),
      "spark.catalyst_ms" -> med(_.catalystMs),
      "spark.shuffle_read_bytes" -> med(_.shuffleRead), "spark.shuffle_write_bytes" -> med(_.shuffleWrite),
      "spark.spill_bytes" -> med(_.spill), "spark.gc_ms" -> med(_.gcMs))
  }
}
