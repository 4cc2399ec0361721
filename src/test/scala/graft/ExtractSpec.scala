package graft

import java.nio.file.Files
import java.time.LocalDateTime
import graft.sources.{Extract, Sources}
import graft.model.Model
import scala.jdk.CollectionConverters._

class ExtractSpec extends SparkSpec {

  class FakeAmpFetcher extends Extract.Fetcher {
    val urls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def get(url: String): Option[Array[Byte]] = {
      urls.add(url)
      // hour 03 has no data (reference: skip empty export hours)
      if (url.contains("start=20210917T03")) None
      else Some(
        s"""{"event_type":"e","user_id":"u","device_id":"d","amplitude_id":1,"event_time":"2021-09-17 12:00:00","event_properties":{},"user_properties":{}}"""
          .getBytes("UTF-8"))
    }
  }

  test("amplitude extract: hour-partitioned fetch to staging, empty hours skipped") {
    val dir = Files.createTempDirectory("amp-extract").toString
    val fetcher = new FakeAmpFetcher
    val staged = Extract.amplitudeExport("https://amplitude.example",
      LocalDateTime.of(2021, 9, 17, 0, 0), LocalDateTime.of(2021, 9, 17, 6, 0),
      dir, fetcher)
    assert(fetcher.urls.size == 6) // one fetch per hour slice
    assert(staged.size == 5)       // hour 03 skipped
    assert(fetcher.urls.toArray.mkString.contains("start=20210917T00&end=20210917T01"))
    // staged dir reads as ONE distributed scan
    val df = Sources.staged(spark, dir, Model.amplitudeSchema)
    assert(df.count() == 5)
  }

  test("amplitude extract: ZIP body is unzipped to staging (S4), gz members read transparently") {
    val dir = Files.createTempDirectory("amp-zip-extract").toString
    val line =
      s"""{"event_type":"z","user_id":"u","device_id":"d","amplitude_id":1,"event_time":"2021-09-17 12:00:00","event_properties":{},"user_properties":{}}"""
    // build a real ZIP: one plain .json member + one nested .json.gz member
    val bos = new java.io.ByteArrayOutputStream()
    val zout = new java.util.zip.ZipOutputStream(bos)
    zout.putNextEntry(new java.util.zip.ZipEntry("a.json"))
    zout.write(line.getBytes("UTF-8")); zout.closeEntry()
    zout.putNextEntry(new java.util.zip.ZipEntry("123456/b.json.gz"))
    val gz = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(gz)
    g.write((line + "\n" + line).getBytes("UTF-8")); g.close()
    zout.write(gz.toByteArray); zout.closeEntry()
    zout.close()
    val zip = bos.toByteArray
    val fetcher = new Extract.Fetcher {
      def get(url: String): Option[Array[Byte]] = Some(zip)
    }
    val staged = Extract.amplitudeExport("https://amplitude.example",
      LocalDateTime.of(2021, 9, 17, 0, 0), LocalDateTime.of(2021, 9, 17, 1, 0),
      dir, fetcher)
    assert(staged.size == 2) // both members staged, nested path flattened
    assert(staged.exists(_.endsWith("export_20210917T00_a.json")))
    assert(staged.exists(_.endsWith("export_20210917T00_b.json.gz")))
    // staged dir reads as one scan; Spark decompresses the .gz member
    val df = Sources.staged(spark, dir, Model.amplitudeSchema)
    assert(df.count() == 3)
    assert(df.select("event_type").distinct().collect().map(_.getString(0)).toSeq == Seq("z"))
  }

  test("mixpanel export: where + event list pushed into the query string") {
    val dir = Files.createTempDirectory("mp-extract").toString
    var captured = ""
    val fetcher = new Extract.Fetcher {
      def get(url: String): Option[Array[Byte]] = { captured = url; Some("{}".getBytes) }
    }
    Extract.mixpanelExport("https://mp.example", "2021-01-01", "2021-01-31",
      Some("""defined(properties["$source"])"""), Seq("click", "view"), dir, fetcher)
    assert(captured.contains("from_date=2021-01-01"))
    assert(captured.contains("where=defined%28properties%5B%22%24source%22%5D%29"))
    assert(captured.contains("event=%5B%22click%22%2C%22view%22%5D"))
  }

  /** Fake /engage API in the real response shape
    * (`{"page","page_size","session_id","results":[…]}`): the server caps
    * pages at 2 profiles whatever the request asks, serves 2 + 2 + 1
    * profiles, then empty pages, and requires the cursor issued on page 0
    * on every later request.
    */
  class FakeEngage(sessionOnFirstOnly: Boolean = false) extends Extract.Fetcher {
    val urls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def get(url: String): Option[Array[Byte]] = {
      urls.add(url)
      val page = pageOf(url)
      if (page > 0) assert(url.contains("session_id=sess-1"), s"cursor dropped: $url")
      val n = if (page < 2) 2 else if (page == 2) 1 else 0
      val results = (0 until n).map(i =>
        s"""{"$$distinct_id":"p${page}_$i","$$properties":{"plan":"x"}}""")
      val sess = if (page == 0 || !sessionOnFirstOnly) """"session_id":"sess-1",""" else ""
      Some(s"""{"page":$page,"page_size":2,$sess"results":[${results.mkString(",")}]}"""
        .getBytes("UTF-8"))
    }
  }

  private def pageOf(url: String): Int =
    "&page=(\\d+)".r.findFirstMatchIn(url).map(_.group(1).toInt).getOrElse(0)

  private def urlsOf(f: FakeEngage): Seq[String] = f.urls.asScala.toSeq

  private def stagedLines(staged: Seq[String]): Seq[String] =
    staged.flatMap(f => Files.readAllLines(java.nio.file.Paths.get(f)).asScala)

  test("mixpanel engage: serial pagination stages one file per page until exhausted") {
    val dir = Files.createTempDirectory("engage-extract").toString
    val fetcher = new FakeEngage
    val staged = Extract.mixpanelEngage("https://mp.example", dir, fetcher, pageSize = 2)
    // 2 + 2 + 1: the short third page ends the walk
    assert(fetcher.urls.size == 3)
    assert(staged.map(f => java.nio.file.Paths.get(f).getFileName.toString) ==
      Seq("page_00000.json", "page_00001.json", "page_00002.json"))
    // one profile per line, read back with the schema Pipeline uses
    assert(stagedLines(staged).size == 5)
    val df = Sources.staged(spark, dir, Model.engageSchema)
    val ids = df.select("`$distinct_id`").collect().map(_.getString(0)).toSet
    assert(ids == Set("p0_0", "p0_1", "p1_0", "p1_1", "p2_0"))
    assert(df.select("`$properties`").collect().forall(_.getMap[String, String](0)("plan") == "x"))
  }

  test("mixpanel engage: the cursor is threaded after page 0") {
    val fetcher = new FakeEngage
    Extract.mixpanelEngage("https://mp.example",
      Files.createTempDirectory("engage-cursor").toString, fetcher, pageSize = 2)
    val urls = urlsOf(fetcher)
    assert(!urls.head.contains("session_id="), urls)
    assert(urls.forall(_.contains("include_all_users=false")), urls)
    assert(urls.tail == Seq(1, 2).map(p =>
      s"https://mp.example/api/2.0/engage?page_size=2&include_all_users=false" +
        s"&session_id=sess-1&page=$p"))
  }

  test("mixpanel engage: a server page_size cap below the request does not truncate") {
    // Mixpanel caps page_size at 1000; here the server caps at 2 while the
    // client asks for 1000. Termination follows the SERVER-reported
    // page_size — comparing against the request would see every page as
    // short and stop after page 0.
    val fetcher = new FakeEngage
    val staged = Extract.mixpanelEngage("https://mp.example",
      Files.createTempDirectory("engage-cap").toString, fetcher, pageSize = 1000)
    assert(stagedLines(staged).size == 5, "server-capped pages were truncated")
    assert(fetcher.urls.size == 3, urlsOf(fetcher))
  }

  test("mixpanel engage: a mid-walk response without session_id keeps the cursor") {
    // session_id only on the first response; FakeEngage asserts every
    // later request still carries it
    val fetcher = new FakeEngage(sessionOnFirstOnly = true)
    val staged = Extract.mixpanelEngage("https://mp.example",
      Files.createTempDirectory("engage-capture-once").toString, fetcher, pageSize = 2)
    assert(stagedLines(staged).size == 5)
    assert(fetcher.urls.size == 3, urlsOf(fetcher))
  }

  test("mixpanel engage: a mid-walk 503 re-GETs the same cursor URL, no dup or skip") {
    // page 1 fails once with a transient 503; the retry must re-GET the
    // identical URL (same session_id + page, cursor not reset)
    val inner = new FakeEngage
    val failedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    val flaky = new Extract.Fetcher {
      def get(url: String): Option[Array[Byte]] =
        if (pageOf(url) == 1 && failedOnce.compareAndSet(false, true)) {
          inner.urls.add(url)
          throw new java.io.IOException("HTTP 503 Service Unavailable")
        } else inner.get(url)
    }
    val staged = Extract.mixpanelEngage("https://mp.example",
      Files.createTempDirectory("engage-retry").toString,
      new Extract.RetryingFetcher(flaky, 3), pageSize = 2)
    val ids = stagedLines(staged)
    assert(ids.size == 5 && ids.distinct.size == 5, s"dup or skip after retry: $ids")
    // exactly one extra call (the failed attempt), byte-identical URL
    val urls = urlsOf(inner)
    assert(urls.size == 4, urls)
    val p1 = urls.filter(_.contains("&page=1"))
    assert(p1.size == 2 && p1.distinct.size == 1, s"retry URL differs: $p1")
  }

  test("mixpanel engage: an exhausted retry budget fails loudly after 3 attempts") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val inner = new FakeEngage
    val dead = new Extract.Fetcher {
      def get(url: String): Option[Array[Byte]] =
        if (pageOf(url) == 1) {
          attempts.incrementAndGet(); throw new java.io.IOException("HTTP 503")
        } else inner.get(url)
    }
    val e = intercept[java.io.IOException] {
      Extract.mixpanelEngage("https://mp.example",
        Files.createTempDirectory("engage-dead").toString,
        new Extract.RetryingFetcher(dead, 3), pageSize = 2)
    }
    assert(attempts.get() == 3, s"expected 3 attempts, got ${attempts.get()}")
    assert(e.getMessage.contains("503"), e.toString)
  }

  test("mixpanel engage: a re-run restarts with no stale cursor") {
    val fetcher = new FakeEngage
    def walk(): Seq[String] = stagedLines(Extract.mixpanelEngage("https://mp.example",
      Files.createTempDirectory("engage-rerun").toString, fetcher, pageSize = 2))
    val first = walk()
    fetcher.urls.clear()
    val second = walk()
    assert(first == second, "re-walk is not idempotent")
    val urls = urlsOf(fetcher)
    assert(urls.size == 3 && !urls.head.contains("session_id="), urls)
  }

  test("mixpanel engage: staged pages become profiles through Pipeline.transform") {
    val path = Files.createTempDirectory("engage-e2e").resolve("mp").toString
    Files.createDirectories(java.nio.file.Paths.get(path))
    Files.write(java.nio.file.Paths.get(path, "export.json"),
      """{"event":"click","distinct_id":"p0_0","time":1700000000,"insert_id":"a","source":"mp","properties":{}}"""
        .getBytes("UTF-8"))
    Extract.mixpanelEngage("https://mp.example", s"$path-engage", new FakeEngage, pageSize = 2)
    val out = Pipeline.transform(spark, Pipeline.MixpanelStaged(path, doPeople = true))
    val profiles = out.profiles.get.collect()
    assert(profiles.map(_.getAs[String]("distinct_id")).toSet ==
      Set("p0_0", "p0_1", "p1_0", "p1_1", "p2_0"))
    assert(profiles.forall(_.getAs[Map[String, String]]("set")("plan") == "x"))
  }

  test("sources and sinks hold no DSv2 connector, registry or global var") {
    // one extract path (Extract → Sources) and one load path
    // (BatchedHttpSink): no second connector stack, no per-JVM state
    val roots = Seq("src/main/scala/graft/sources", "src/main/scala/graft/sinks")
      .map(java.nio.file.Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"missing $r"))
    val sources = roots.flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }.map(f => f.toString -> Files.readString(f))
    val forbidden = Seq(
      "org.apache.spark.sql.connector".r,
      """\bobject\s+\w*Registry\b""".r,
      """@volatile\b[^\n]*\bvar\b""".r)
    val hits = for {
      (name, text) <- sources
      re <- forbidden
      m <- re.findAllMatchIn(text)
    } yield s"$name: ${m.matched}"
    assert(hits === Nil, "second connector path or per-JVM state in sources/sinks")
  }
}
