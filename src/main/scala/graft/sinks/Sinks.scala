package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sinks.BatchedHttpSink.{SinkConfig, SinkReport, Transport}

/** Vendor sink registry (SURVEY §2.10 K4-K8): each vendor is a SinkConfig
  * preset + a record-shaping projection; the batching/retry/rate machinery
  * is shared. Region handling mirrors the reference's US/EU base-URL switch
  * (load/sendEventsToMixpanel.js:13-14).
  */
object Sinks {

  sealed trait Region { def host(us: String, eu: String): String }
  case object US extends Region { def host(us: String, eu: String): String = us }
  case object EU extends Region { def host(us: String, eu: String): String = eu }

  /** Mixpanel /import (K4): canonical events → wire shape
    * {event, properties:{distinct_id, time, $insert_id, ...props}}.
    */
  def mixpanelImportConfig(projectId: String, auth: String, region: Region = US): SinkConfig =
    SinkConfig(
      url = region.host("https://api.mixpanel.com", "https://api-eu.mixpanel.com") +
        s"/import?strict=1&project_id=$projectId",
      headers = Map("Authorization" -> s"Basic $auth"),
      maxRecordsPerBatch = 2000)

  def shapeMixpanelEvents(events: DataFrame): DataFrame =
    events.select(to_json(struct(
      col("event"),
      struct(
        col("distinct_id"),
        col("time"),
        col("insert_id").as("$insert_id"),
        col("source").as("$source"),
        col("properties")
      ).as("properties"))).as("json"))

  /** Mixpanel /engage (K5): profiles → {$token, $distinct_id, $ip, $set};
    * the token rides in each record ([[shapeMixpanelProfiles]]).
    */
  def mixpanelEngageConfig(region: Region = US): SinkConfig =
    SinkConfig(
      url = region.host("https://api.mixpanel.com", "https://api-eu.mixpanel.com") +
        "/engage?verbose=1",
      maxRecordsPerBatch = 2000)

  def shapeMixpanelProfiles(profiles: DataFrame, token: String): DataFrame =
    profiles.select(to_json(struct(
      lit(token).as("$token"),
      col("distinct_id").as("$distinct_id"),
      col("ip").as("$ip"),
      lit(true).as("$ignore_time"),
      col("set").as("$set"))).as("json"))

  /** Mixpanel /import $merge events (identity edges). */
  def shapeMixpanelMerges(pairs: DataFrame): DataFrame =
    pairs.select(to_json(struct(
      lit("$merge").as("event"),
      struct(
        array(col("id_a"), col("id_b")).as("$distinct_ids"),
        col("insert_id").as("$insert_id"),
        col("time")
      ).as("properties"))).as("json"))

  /** Amplitude /2/httpapi (K6): 2000-record batches; the reference's fixed
    * 2 s sleep becomes a real rate limit.
    */
  def amplitudeConfig(apiKey: String): SinkConfig =
    SinkConfig(url = "https://api2.amplitude.com/2/httpapi",
      maxRecordsPerBatch = 2000, ratePerSecond = 1.0)

  /** Woopra (K7): 10k-record PUT-style batches. */
  def woopraConfig(host: String): SinkConfig =
    SinkConfig(url = host, maxRecordsPerBatch = 10000, ratePerSecond = 0.5)

  /** Region from sink options: `"region" -> "EU"`, else US. */
  private[graft] def region(opts: Map[String, String]): Region =
    if (opts.get("region").contains("EU")) EU else US

  /** K8: vendor dispatch. */
  def forVendor(vendor: String, opts: Map[String, String]): SinkConfig =
    vendor.toLowerCase match {
      case "mixpanel" => mixpanelImportConfig(
        opts.getOrElse("project_id", ""), opts.getOrElse("auth", ""), region(opts))
      case "amplitude" => amplitudeConfig(opts.getOrElse("api_key", ""))
      case "woopra" => woopraConfig(opts.getOrElse("host", "https://www.woopra.com/track/ce"))
      case other => throw new IllegalArgumentException(s"unknown sink vendor: $other")
    }

  /** K9: local NDJSON sink (strictly better than the reference's JSON
    * arrays — splittable, streamable).
    */
  def writeLocalJson(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").json(dir)

  def write(df: DataFrame, cfg: SinkConfig, transport: Transport): SinkReport =
    BatchedHttpSink.writeJson(df, cfg, transport)
}
