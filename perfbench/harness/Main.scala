package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It drives the program only through its public
  * entry points and observes it through its own transport and listeners.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *        --expect FILE --cores C --trace-out FILE
  *
  * Prints one environment line and, last, one result line.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, expect: JsonNode, cores: Int, traceOut: String)

  final case class Metric(name: String, value: Double, unit: String)

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[Metric], env: Map[String, Any], spans: Seq[Span] = Nil)

  val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("work"), mapper.readTree(Files.readAllBytes(Paths.get(kv("expect")))),
      kv("cores").toInt, kv("trace-out"))
    val r = a.workload match {
      case "etl_amplitude" | "load_wan" => Etl.run(a, jvmStartMs)
      case "query_mix" => QueryMix.run(a, jvmStartMs)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (a.trace) writeTrace(a, r)
    val env = r.env ++ Map("workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> org.apache.spark.SPARK_VERSION, "java" -> System.getProperty("java.version"),
      "seconds" -> a.seconds, "trace" -> a.trace)
    println(mapper.writeValueAsString(toJava(Map("env" -> env))))
    val metrics = new java.util.LinkedHashMap[String, AnyRef]()
    r.metrics.foreach { m =>
      val o = new java.util.LinkedHashMap[String, AnyRef]()
      o.put("value", Double.box(m.value)); o.put("unit", m.unit)
      metrics.put(m.name, o)
    }
    val out = new java.util.LinkedHashMap[String, AnyRef]()
    out.put("correct", Boolean.box(r.correct))
    out.put("attempted", Long.box(r.attempted))
    out.put("failed", Long.box(r.failed))
    out.put("metrics", metrics)
    println(mapper.writeValueAsString(out))
  }

  /** Scala values to what Jackson writes as JSON; map keys sorted. */
  def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1)
        .foreach { case (k, x) => j.put(k, toJava(x)) }
      j
    case s: Seq[_] => java.util.Arrays.asList(s.map(toJava): _*)
    case d: Double => Double.box(d)
    case l: Long => Long.box(l)
    case i: Int => Int.box(i)
    case b: Boolean => Boolean.box(b)
    case Some(x) => toJava(x)
    case null | None => null
    case o => o.toString
  }

  private def writeTrace(a: Args, r: Result): Unit = {
    val spans = r.spans.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "req" -> s.req,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "counts" -> s.counts)
    }
    val doc = Map("workload" -> a.workload, "seed" -> a.seed,
      "metrics" -> r.metrics.map(m => m.name -> m.value).toMap, "spans" -> spans)
    Files.createDirectories(Paths.get(a.traceOut).getParent)
    Files.write(Paths.get(a.traceOut), mapper.writeValueAsBytes(toJava(doc)))
  }

  // ---- shared plumbing ---------------------------------------------------

  def startSession(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Tables.tune(s)
  }

  /** Runs `once` `reps` times; each run stands up a fresh session and
    * returns it. The first run is timed from JVM start; the reported
    * set-up time is the median over runs.
    */
  def setUp(reps: Int, jvmStartMs: Long)(once: Int => SparkSession): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (0 until reps).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = once(i)
      if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
      else (System.nanoTime() - t0) / 1e9
    }
    (spark, times)
  }

  val SetupReps = 3

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def ms(ns: Long): Double = ns / 1e6

  /** Whether another operation like the last one (`lastMs`) still ends
    * inside a window of `seconds` that started at `startNs`.
    */
  def fits(startNs: Long, lastMs: Double, seconds: Int): Boolean =
    ms(System.nanoTime() - startNs) + lastMs <= seconds * 1e3

  /** CPU time of this process (all threads: tasks, driver, GC, JIT). */
  def cpuMs(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Output checks run after the timed window, one thread per core. */
  def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
  }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally walk.close()
  }

  def buf[T]: ArrayBuffer[T] = ArrayBuffer.empty[T]

  /** Unit of a per-layer metric, from its name. */
  def unitOf(name: String): String = name.split('.').last match {
    case n if n == "ms" || n.endsWith("_ms") => "ms"
    case n if n.endsWith("_bytes") => "bytes"
    case n if n.endsWith("_ratio") => "ratio"
    case "wire_bytes_per_record" => "bytes/record"
    case "records_per_post" => "records/post"
    case _ => "count"
  }
}
