package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.Model
import graft.operators._
import graft.sinks.{BatchedHttpSink, Sinks}
import graft.sources.Sources

/** Config-driven pipeline orchestration (SURVEY §2.11 O1 — with the
  * reference's switch fall-through fixed by a sealed ADT; index.js:69-91).
  *
  * EXTRACT (source) → TRANSFORM (vendor pack) → LOAD (batched HTTP sink or
  * local NDJSON). The reference's shell-script hourly fan-out (O2,
  * ampReplicator.js) dissolves into Spark partition parallelism: staged
  * inputs are read as one distributed scan.
  */
object Pipeline {

  sealed trait Source
  final case class CsvSource(path: String, roles: CsvTransform.CsvRoles) extends Source
  final case class AmplitudeStaged(path: String, importTag: Option[String] = None) extends Source
  final case class GaStaged(path: String) extends Source
  /** `doEvents`/`doPeople` mirror the reference's dual-path dispatch
    * (connectors/mixpanelETL.js:70,107): events from the /export staging
    * at `path`, profiles from the /engage staging at `peoplePath`
    * (default `<path>-engage`).
    */
  final case class MixpanelStaged(path: String, where: Option[String] = None,
      events: Seq[String] = Seq.empty, doEvents: Boolean = true,
      doPeople: Boolean = false, peoplePath: Option[String] = None) extends Source

  sealed trait Destination
  final case class LocalJson(dir: String) extends Destination
  final case class HttpSink(vendor: String, opts: Map[String, String],
      transport: BatchedHttpSink.Transport) extends Destination

  final case class Config(source: Source, destination: Destination)

  /** `release` frees any shared-scan cache backing the outputs (J2) — run()
    * calls it once every output is written; leaving it cached would crowd
    * executor memory for the rest of the session.
    */
  final case class Outputs(events: DataFrame, profiles: Option[DataFrame],
      mergePairs: Option[DataFrame], release: () => Unit = () => ())

  final case class Report(events: Long, profiles: Long, merges: Long,
      sink: Option[BatchedHttpSink.SinkReport])

  /** TRANSFORM stage: vendor dispatch to canonical outputs. */
  def transform(spark: SparkSession, source: Source): Outputs = source match {
    case CsvSource(path, roles) =>
      val out = CsvTransform(Sources.csv(spark, path), roles)
      Outputs(out.events, out.profiles, None)
    case AmplitudeStaged(path, tag) =>
      val amp = Sources.staged(spark, path, Model.amplitudeSchema)
      val out = AmplitudeTransform(amp, tag)
      Outputs(out.events, Some(out.profiles), Some(out.mergePairs), out.release)
    case GaStaged(path) =>
      val ga = Sources.staged(spark, path, Model.gaSessionSchema)
      Outputs(GaTransform.events(spark, ga), Some(GaTransform.profiles(spark, ga)), None)
    case MixpanelStaged(path, where, eventNames, doEvents, doPeople, peoplePath) =>
      val raw = Sources.staged(spark, path, Model.mpEventSchema)
      val filtered0 = where match {
        case Some(w) => raw.filter(
          graft.functions.SegmentationWhere.parse(w, org.apache.spark.sql.functions.col("properties")))
        case None => raw
      }
      val filtered =
        if (eventNames.nonEmpty)
          filtered0.filter(org.apache.spark.sql.functions.col("event").isin(eventNames: _*))
        else filtered0
      // doEvents=false → an empty events frame with the right schema (the
      // reference's people-only runs skip /export entirely)
      val eventsOut = if (doEvents) filtered else filtered.limit(0)
      val profiles =
        if (doPeople)
          Some(graft.operators.MixpanelTransform.engageToProfiles(
            Sources.staged(spark, peoplePath.getOrElse(s"$path-engage"),
              Model.engageSchema)))
        else None
      Outputs(eventsOut, profiles, None)
  }

  /** Full E-T-L run. Event counts are taken with `observe()` DURING the
    * sink write — the reference's extracted = transformed = imported
    * reconciliation (SURVEY §5) without a second scan of the data.
    */
  def run(spark: SparkSession, config: Config): Report = {
    Tables.tune(spark)
    val out = transform(spark, config.source)
    val obs = new org.apache.spark.sql.Observation()
    val observedEvents = out.events.observe(obs,
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_events"))
    try config.destination match {
      case LocalJson(dir) =>
        // profiles/merges counts ride the write job via observe() too —
        // each output DAG executes exactly once (no count() re-run)
        val pObs = new org.apache.spark.sql.Observation()
        val mObs = new org.apache.spark.sql.Observation()
        Sinks.writeLocalJson(observedEvents, s"$dir/events")
        out.profiles.foreach(p => Sinks.writeLocalJson(
          p.observe(pObs, org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n")), s"$dir/profiles"))
        out.mergePairs.foreach(m => Sinks.writeLocalJson(
          m.observe(mObs, org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n")), s"$dir/mergeTables"))
        Report(obs.get("n_events").asInstanceOf[Long],
          out.profiles.map(_ => pObs.get("n").asInstanceOf[Long]).getOrElse(0L),
          out.mergePairs.map(_ => mObs.get("n").asInstanceOf[Long]).getOrElse(0L), None)
      case HttpSink(vendor, opts, transport) =>
        val cfg = Sinks.forVendor(vendor, opts)
        // K8 vendor routing: reverse sinks reshape to their own wire format
        // (reference load/sendOther.js:7-18)
        val shaped = vendor.toLowerCase match {
          case "amplitude" =>
            MixpanelTransform.eventsToAmplitude(observedEvents)
              .select(org.apache.spark.sql.functions.to_json(
                org.apache.spark.sql.functions.struct(
                  org.apache.spark.sql.functions.col("*"))).as("json"))
          case "woopra" =>
            MixpanelTransform.eventsToWoopra(observedEvents)
              .select(org.apache.spark.sql.functions.to_json(
                org.apache.spark.sql.functions.struct(
                  org.apache.spark.sql.functions.col("*"))).as("json"))
          case _ => Sinks.shapeMixpanelEvents(observedEvents)
        }
        val report = Sinks.write(shaped, cfg, transport)
        // reconciliation invariant: with no failed batches, every
        // transformed event must have been acknowledged by the sink
        val transformed = obs.get("n_events").asInstanceOf[Long]
        if (report.failedBatches == 0)
          require(transformed == report.records,
            s"count reconciliation broken: transformed=$transformed loaded=${report.records}")
        val profileReport = out.profiles.map { p =>
          Sinks.write(Sinks.shapeMixpanelProfiles(p, opts.getOrElse("token", "")),
            Sinks.mixpanelEngageConfig(Sinks.region(opts)), transport)
        }
        val mergeReport = out.mergePairs.map { m =>
          Sinks.write(Sinks.shapeMixpanelMerges(m), cfg, transport)
        }
        Report(report.records,
          profileReport.map(_.records).getOrElse(0L),
          mergeReport.map(_.records).getOrElse(0L), Some(report))
    } finally out.release() // drop any shared-scan cache (J2) once written
  }
}
