package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sinks.BatchedHttpSink
import graft.sinks.BatchedHttpSink.{HttpResponseLite, SinkConfig, Transport}

/** End-to-end vendor ETL tests over FIXTURES.md-shaped synthetic inputs. */
class EtlPipelineSpec extends SparkSpec {
  import spark.implicits._

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  def writeLines(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(java.nio.file.Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8"))

  val ampLines: Seq[String] = Seq(
    // full event: user+device → merge pair; user_properties → profile
    """{"event_type":"sign up","user_id":"u1","device_id":"d1","amplitude_id":111,"event_time":"2021-09-17 12:34:56","ip_address":"1.2.3.4","city":"SF","country":"US","event_properties":{"plan":"free"},"user_properties":{"tier":"gold"},"groups":{},"app_version":"1.0","os_name":"ios"}""",
    // device-only id, no user props → no profile, no merge
    """{"event_type":"page view","device_id":"d2","amplitude_id":222,"event_time":"2021-09-17 12:35:00","event_properties":{"page":"/"},"user_properties":{}}""",
    // amplitude_id fallback + explicit $insert_id
    """{"event_type":"click","amplitude_id":333,"event_time":"2021-09-17 12:36:00","$insert_id":"fixed-id","event_properties":{},"user_properties":{"a":"b"}}"""
  )

  val gaLines: Seq[String] = Seq(
    """{"visitNumber":"1","visitId":"v1","visitStartTime":"1611872327","date":"20210128","fullVisitorId":"fv1","channelGrouping":"Organic Search","totals":{"visits":"1","hits":"2","pageviews":"2"},"trafficSource":{"campaign":"(not set)","source":"google","medium":"organic"},"device":{"browser":"Chrome","operatingSystem":"Macintosh","deviceCategory":"desktop"},"geoNetwork":{"country":"United States","city":"San Francisco","latitude":"37.77","longitude":"-122.41"},"customDimensions":[{"index":"4","value":"str"}],"hits":[{"hitNumber":"1","time":"0","type":"PAGE","eventInfo":{"eventCategory":"engagement","eventAction":"click"},"page":{"pagePath":"/","hostname":"x.com"},"product":[{"productSKU":"sku1","v2ProductName":"Widget"}],"customDimensions":[],"customMetrics":[{"index":"2","value":"7"}]},{"hitNumber":"2","time":"5000","type":"EVENT","eventInfo":{"eventAction":"na","eventCategory":"scroll"},"page":{"pagePath":"/a"},"customDimensions":[{"index":"1","value":"x"}],"customMetrics":[]}]}""",
    """{"visitNumber":"2","visitId":"v2","visitStartTime":"1611900000","date":"20210129","userId":"USER9","fullVisitorId":"fv2","channelGrouping":"Direct","totals":{"visits":"1","hits":"1"},"trafficSource":{},"device":{"browser":"Firefox"},"geoNetwork":{"country":"France"},"customDimensions":[],"hits":[{"hitNumber":"1","time":"1000","type":"PAGE","eventInfo":{},"page":{"pagePath":"/b"},"customDimensions":[],"customMetrics":[]}]}"""
  )

  test("amplitude transform: 3-way fan-out with canonical semantics") {
    val dir = tmpDir("amp")
    writeLines(dir, "events.json", ampLines)
    val out = Pipeline.transform(spark,
      Pipeline.AmplitudeStaged(dir, importTag = Some("t1")))

    val events = out.events.collect()
    assert(events.length == 3)
    val byEvent = events.map(r => r.getAs[String]("event") -> r).toMap
    // P6 coalesce rank: user > device > amplitude
    assert(byEvent("sign up").getAs[String]("distinct_id") == "u1")
    assert(byEvent("page view").getAs[String]("distinct_id") == "d2")
    assert(byEvent("click").getAs[String]("distinct_id") == "333")
    // P7: UTC string → epoch seconds
    assert(byEvent("sign up").getAs[Long]("time") == 1631882096L)
    // explicit $insert_id preserved
    assert(byEvent("click").getAs[String]("insert_id") == "fixed-id")
    // P9 precedence + P4 rename fan-out (os_name → $os AND $browser)
    val props = byEvent("sign up").getAs[Map[String, String]]("properties")
    assert(props("plan") == "free" && props("tier") == "gold")
    assert(props("$os") == "ios" && props("$browser") == "ios")
    assert(props("import-tag") == "t1")

    // F1: only events with non-empty user_properties produce profiles
    val profs = out.profiles.get.collect()
    assert(profs.map(_.getAs[String]("distinct_id")).toSet == Set("u1", "333"))
    // J1: only the row with both user+device emits a merge pair
    val merges = out.mergePairs.get.collect()
    assert(merges.length == 1)
    assert(merges(0).getAs[String]("id_a") == "u1" && merges(0).getAs[String]("id_b") == "d1")
  }

  test("ga transform: session explode with name cascade, time bumps, pivots") {
    val dir = tmpDir("ga")
    writeLines(dir, "sessions.json", gaLines)
    val out = Pipeline.transform(spark, Pipeline.GaStaged(dir))
    val events = out.events.collect()
    // session1: begin + 2 hits + end; session2: begin + 1 hit + end
    assert(events.length == 7)
    val s1 = events.filter(_.getAs[Map[String, String]]("properties")
      .get("$source").contains("ga360-to-mixpanel"))
    assert(s1.length == 7)
    val names = events.map(_.getAs[String]("event")).toSeq
    assert(names.count(_ == "session begins") == 2)
    assert(names.count(_ == "session ends") == 2)
    // name cascade: hit1 eventAction=click; hit2 action="na" → category "scroll"
    assert(names.contains("click") && names.contains("scroll"))
    val click = events.find(_.getAs[String]("event") == "click").get
    // hit.time=0 → +1s bump
    assert(click.getAs[Long]("time") == 1611872327L + 1)
    // custom metric pivot
    assert(click.getAs[Map[String, String]]("properties")
      .contains("metric #2 (click)"))
    // P6: userId beats fullVisitorId
    val s2begin = events.filter(_.getAs[String]("distinct_id") == "USER9")
    assert(s2begin.length == 3)
    // session ends = last hit + 1s
    val end1 = events.filter(r => r.getAs[String]("event") == "session ends" &&
      r.getAs[String]("distinct_id") == "fv1").head
    assert(end1.getAs[Long]("time") == 1611872327L + 5 + 1)
    // P5 mapDefaults: "(not set)" kept (only na/empty dropped), country mapped
    val props1 = click.getAs[Map[String, String]]("properties")
    assert(props1("mp_country_code") == "United States")
    assert(props1("$latitude") == "37.77")
    assert(props1("UTM Channel") == "Organic Search")
    // P10: product array stays nested (JSON) under the "products" alias
    assert(props1("products").contains(""""productSKU":"sku1""""))
    assert(!props1.contains("promotions")) // empty arrays omitted
  }

  test("csv pipeline end-to-end to local NDJSON with heuristic time + profiles") {
    val dir = tmpDir("csv")
    writeLines(dir, "data.csv", Seq(
      "insert_id,action,time,guid,favoriteColor,plan",
      "i1,page view,1631894400,user-123,red,free",      // epoch s
      "i2,button click,1631894400000,user-123,red,pro", // epoch ms (13-digit)
      "i3,signup,2021-09-17 16:00:00,user-456,blue,free"))
    val roles = CsvTransform.CsvRoles(
      eventNameCol = "action", distinctIdCol = "guid", timeCol = "time",
      insertIdCol = Some("insert_id"), ignoreCols = Seq("favoriteColor"),
      tag = Some("csv-batch-1"), createProfiles = true)
    val outDir = tmpDir("csvout")
    val report = Pipeline.run(spark,
      Pipeline.Config(Pipeline.CsvSource(dir, roles), Pipeline.LocalJson(outDir)))
    assert(report.events == 3 && report.profiles == 2)
    val written = spark.read.json(s"$outDir/events")
    assert(written.count() == 3)
    // all three time formats normalize to the same epoch
    assert(written.select("time").as[Long].collect().toSet == Set(1631894400L))
    // P2: dropped column absent from properties
    val props = written.select(to_json(col("properties"))).as[String].collect()
    assert(props.forall(!_.contains("favoriteColor")))
    assert(props.forall(_.contains("csv-batch-1")))
  }

  test("mixpanel staged migration path: where predicate + event list filter") {
    val dir = tmpDir("mp-staged")
    writeLines(dir, "export.json", Seq(
      """{"event":"click","distinct_id":"u1","time":1700000000,"insert_id":"a","source":"mp","properties":{"$source":"web"}}""",
      """{"event":"click","distinct_id":"u2","time":1700000001,"insert_id":"b","source":"mp","properties":{}}""",
      """{"event":"view","distinct_id":"u3","time":1700000002,"insert_id":"c","source":"mp","properties":{"$source":"app"}}"""))
    val out = Pipeline.transform(spark, Pipeline.MixpanelStaged(dir,
      where = Some("""defined(properties["$source"])"""),
      events = Seq("click")))
    val rows = out.events.collect()
    assert(rows.length == 1 && rows(0).getAs[String]("distinct_id") == "u1")
  }

  test("mixpanel doPeople pulls staged engage into profiles; doEvents=false empties events") {
    val dir = tmpDir("mp-dual")
    writeLines(dir, "export.json", Seq(
      """{"event":"click","distinct_id":"u1","time":1700000000,"insert_id":"a","source":"mp","properties":{}}"""))
    val peopleDir = tmpDir("mp-dual-engage")
    writeLines(peopleDir, "engage.json", Seq(
      """{"$distinct_id":"u1","$properties":{"plan":"pro"}}""",
      """{"$distinct_id":"u2","$properties":{"plan":"free"}}"""))
    val out = Pipeline.transform(spark, Pipeline.MixpanelStaged(dir,
      doEvents = false, doPeople = true, peoplePath = Some(peopleDir)))
    assert(out.events.count() == 0) // people-only run skips /export
    val profiles = out.profiles.get.collect()
    assert(profiles.length == 2)
    assert(profiles.map(_.getAs[String]("distinct_id")).toSet == Set("u1", "u2"))
    assert(profiles.map(_.getAs[Map[String, String]]("set")("plan")).toSet ==
      Set("pro", "free"))
  }

  test("staging lifecycle: run dir cleaned unless keepLocalCopy") {
    val base = tmpDir("staging")
    val kept = graft.sources.Staging.withStaging(base, "amp", keepLocalCopy = true) { dir =>
      Files.write(dir.resolve("x.json"), "{}".getBytes); dir
    }
    assert(Files.exists(kept))
    val gone = graft.sources.Staging.withStaging(base, "amp", keepLocalCopy = false) { dir =>
      Files.write(dir.resolve("x.json"), "{}".getBytes); dir
    }
    assert(!Files.exists(gone))
  }

  test("observe-based count reconciliation: transformed == loaded through the sink") {
    val dir = tmpDir("amp-obs")
    writeLines(dir, "events.json", ampLines)
    RecordingTransport.bodies.clear()
    RecordingTransport.failFirstN.set(0)
    val report = Pipeline.run(spark, Pipeline.Config(
      Pipeline.AmplitudeStaged(dir),
      Pipeline.HttpSink("mixpanel", Map("project_id" -> "1", "auth" -> "x", "token" -> "t"),
        new RecordingTransport)))
    assert(report.events == 3)
    assert(report.sink.exists(_.failedBatches == 0))
  }

  test("EU config sends events and profiles to the EU endpoint") {
    val dir = tmpDir("mp-eu")
    writeLines(dir, "export.json", Seq(
      """{"event":"click","distinct_id":"u1","time":1700000000,"insert_id":"a","source":"mp","properties":{}}"""))
    Files.createDirectories(java.nio.file.Paths.get(s"$dir-engage"))
    writeLines(s"$dir-engage", "engage.json", Seq(
      """{"$distinct_id":"u1","$properties":{"plan":"pro"}}"""))
    RecordingTransport.urls.clear()
    RecordingTransport.failFirstN.set(0)
    val cfg = ConfigParser.parse(
      s"""{"source": {"name": "mixpanel", "options": {"path": "$dir", "doPeople": true}},
         | "destination": {"name": "mixpanel", "project_id": "1", "token": "t",
         |   "options": {"is EU?": true}}}""".stripMargin, new RecordingTransport)
    val report = Pipeline.run(spark, cfg)
    assert(report.events == 1 && report.profiles == 1)
    val sent = RecordingTransport.urls.toArray.map(_.toString).toSeq
    assert(sent.exists(_.contains("/import")) && sent.exists(_.contains("/engage")), sent)
    assert(sent.forall(_.startsWith("https://api-eu.mixpanel.com/")), sent)
  }

  test("reverse sink routing: amplitude destination gets amplitude wire format") {
    val dir = tmpDir("mp-to-amp")
    writeLines(dir, "export.json", Seq(
      """{"event":"click","distinct_id":"u1","time":1700000000,"insert_id":"a","source":"mp","properties":{"x":"1"}}"""))
    RecordingTransport.bodies.clear()
    RecordingTransport.failFirstN.set(0)
    val report = Pipeline.run(spark, Pipeline.Config(
      Pipeline.MixpanelStaged(dir),
      Pipeline.HttpSink("amplitude", Map("api_key" -> "k"), new RecordingTransport)))
    assert(report.events == 1)
    val sent = RecordingTransport.bodies.toArray(Array.empty[Array[Byte]]).map { b =>
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
      new String(in.readAllBytes(), "UTF-8")
    }.mkString
    // P13 reverse shape: event_type + ms time, not mixpanel's event/properties
    assert(sent.contains(""""event_type":"click""""))
    assert(sent.contains(""""time":1700000000000"""))
    assert(sent.contains(""""user_id":"u1""""))
  }

  test("segmentation where parser filters like the pushed-down predicate") {
    val df = Seq(
      ("a", Map("$source" -> "x", "n" -> "5")),
      ("b", Map("n" -> "15")),
      ("c", Map("$source" -> "y", "n" -> "2"))
    ).toDF("event", "properties")
    import graft.functions.SegmentationWhere.parse
    assert(df.filter(parse("""defined(properties["$source"])""", col("properties")))
      .count() == 2)
    assert(df.filter(parse("""properties["n"] > 4 and not defined(properties["$source"])""",
      col("properties"))).select("event").as[String].head() == "b")
    assert(df.filter(parse("""properties["$source"] == "y" or properties["n"] >= 15""",
      col("properties"))).count() == 2)
  }
}
