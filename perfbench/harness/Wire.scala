package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.zip.CRC32
import scala.jdk.CollectionConverters._

import graft.sinks.BatchedHttpSink

/** What the fake server sees of the network: a fixed round trip, body
  * bytes at a fixed rate, and HTTP 429 on the first attempt of one request
  * in `throttleBucket`.
  *
  * Which requests are throttled is keyed to each request's place in the
  * load: the partition (one HTTP client each) that sends it and its batch
  * number there. Every `throttleBucket`-th batch of a partition is
  * throttled, the phase staggered by 7 per partition, so each sink job
  * throttles at least the first batch of partition 0. That never depends
  * on arrival order, so the same requests are throttled whatever the task
  * interleaving; and not on body bytes either, so every seed prices the
  * same retry load (keyed to a body digest, the throttle count and with it
  * the wall varied by more than 10% from seed to seed).
  */
final case class WireModel(rttMs: Double, bytesPerSec: Double, throttleBucket: Int) {
  def delayNs(bytes: Int): Long =
    ((rttMs / 1e3 + (if (bytesPerSec > 0) bytes / bytesPerSec else 0.0)) * 1e9).toLong
  def throttles(partition: Int, batch: Int): Boolean =
    throttleBucket > 0 && Math.floorMod(batch + 7 * partition, throttleBucket) == 0
}

object WireModel {
  /** Acks at once: the E-T-L is bound by the engine, not the network. */
  val instant: WireModel = WireModel(0, 0, 0)
  /** A real uplink: 100 ms RTT, ~10 MB/s, 1 in 25 requests throttled once. */
  val wan: WireModel = WireModel(100, 10e6, 25)
}

final case class Post(url: String, bytes: Int, status: Int, startNs: Long, endNs: Long,
    body: Array[Byte])

/** One E-T-L run's view from the server: every POST attempt, its body kept
  * in memory for checking after the timed window.
  */
final class ServerState(val model: WireModel) {
  val posts = new ConcurrentLinkedQueue[Post]()
  // per task: digest of its last body and that body's batch number, so a
  // retry of the same body is recognised as the same request
  private val lastByTask = new ConcurrentHashMap[Long, (Long, Int)]()
  private val inflight = new AtomicInteger()
  val maxInflight = new AtomicInteger()
  val waitNs = new AtomicLong()

  def post(url: String, body: Array[Byte]): Int = {
    val start = System.nanoTime()
    val now = inflight.incrementAndGet()
    maxInflight.accumulateAndGet(now, (a, b) => math.max(a, b))
    try {
      val crc = new CRC32()
      crc.update(body)
      val digest = crc.getValue
      val tc = org.apache.spark.TaskContext.get()
      val (partition, task) = if (tc == null) (-1, -1L) else (tc.partitionId, tc.taskAttemptId)
      val (batch, retry) = Option(lastByTask.get(task)) match {
        case Some((d, b)) if d == digest => (b, true)
        case Some((_, b)) => (b + 1, false)
        case None => (0, false)
      }
      lastByTask.put(task, (digest, batch))
      val status = if (!retry && model.throttles(partition, batch)) 429 else 200
      val deadline = start + model.delayNs(body.length)
      var left = deadline - System.nanoTime()
      while (left > 0) {
        java.util.concurrent.locks.LockSupport.parkNanos(left)
        left = deadline - System.nanoTime()
      }
      val end = System.nanoTime()
      waitNs.addAndGet(end - start)
      posts.add(Post(url, body.length, status, start, end, body))
      status
    } finally inflight.decrementAndGet()
  }

  def all: Seq[Post] = posts.asScala.toSeq.sortBy(_.startNs)
}

/** Registry of live server states. Spark serializes the transport into
  * every task, so tasks find their run's state by id rather than by
  * reference; in local mode they share this JVM.
  */
object Server {
  private val states = new ConcurrentHashMap[String, ServerState]()
  private val ids = new AtomicLong()
  def open(model: WireModel): (String, ServerState) = {
    val id = s"run-${ids.incrementAndGet()}"
    val st = new ServerState(model)
    states.put(id, st)
    (id, st)
  }
  def get(id: String): ServerState = states.get(id)
  def close(id: String): Unit = states.remove(id)
}

/** The BatchedHttpSink transport the benchmark owns. */
final class FakeTransport(runId: String) extends BatchedHttpSink.Transport {
  def post(url: String, body: Array[Byte],
      headers: Map[String, String]): BatchedHttpSink.HttpResponseLite = {
    val status = Server.get(runId).post(url, body)
    if (status == 200) BatchedHttpSink.HttpResponseLite(200, """{"code":200,"status":"OK"}""")
    else BatchedHttpSink.HttpResponseLite(status, """{"error":"rate limited"}""")
  }
}

/** What the acknowledged bodies of one E-T-L run held. */
final case class Delivered(events: Long, merges: Long, profiles: Long,
    duplicateInsertIds: Long, duplicateProfiles: Long, rawBytes: Long,
    recordsPerPost: Seq[(Post, Int)])

object Delivered {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def gunzip(b: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
    try in.readAllBytes() finally in.close()
  }

  /** Gunzips and parses every acknowledged body; runs after the timed
    * window, so it costs no timed wall.
    */
  def check(posts: Seq[Post]): Delivered = {
    var events, merges, profiles, dupIds, dupProfiles, raw = 0L
    val insertIds = new java.util.HashSet[String]()
    val profileIds = new java.util.HashSet[String]()
    val perPost = posts.filter(_.status == 200).map { p =>
      val json = gunzip(p.body)
      raw += json.length
      val arr = mapper.readTree(json)
      arr.elements().asScala.foreach { rec =>
        if (p.url.contains("/engage")) {
          profiles += 1
          if (!profileIds.add(rec.path("$distinct_id").asText())) dupProfiles += 1
        } else {
          if (rec.path("event").asText() == "$merge") merges += 1 else events += 1
          if (!insertIds.add(rec.path("properties").path("$insert_id").asText())) dupIds += 1
        }
      }
      p -> arr.size()
    }
    Delivered(events, merges, profiles, dupIds, dupProfiles, raw, perPost)
  }
}
