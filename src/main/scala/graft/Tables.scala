package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Table access + session tuning shared by every query entry point.
  *
  * Each `SparkEntry.queries` closure calls [[Tables.t]], which idempotently
  * applies engine-level session configs first — so correctness does not
  * depend on which harness (Verify, Bench, tests, driver) built the
  * SparkSession.
  */
object Tables {

  /** Engine session configs.
    *  - LAST_WIN map dedup: JS object-spread precedence (SURVEY §7.4.1).
    *  - ANSI off: lenient JS-like coercions (bad cast → null, not error),
    *    matching the reference's PERMISSIVE ETL posture.
    *  - AQE on: runtime re-plan (coalesce partitions, skew-join) — the
    *    scale path for 100 TB runs.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Parquet TIMESTAMP(NANOS) (events.ts) is unreadable natively; read as
    // long nanos and convert in t() below.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // engine SQL functions (rolling_hash, mp_insert_id, explode_session)
    graft.plans.GraftExtensions.register(spark)
    spark
  }

  /** Scale-up repartition ahead of a CPU-bound narrow transform (typed
    * flatMap / mapPartitions): a small input collapses to one
    * maxPartitionBytes-bound split, which would serialize the per-row work
    * on a single core. One cheap round-robin shuffle of the (by
    * definition small) input buys full parallelism; when the input is
    * already at least as parallel as the cluster — the 100 TB case, where
    * thousands of file splits exist — this is a no-op, so no extra
    * shuffle at scale.
    */
  def ensureMinParallelism(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  // Resolved-read memo (guide §6 file-listing cache): every
  // `spark.read.parquet(path)` builds a fresh InMemoryFileIndex
  // (directory listing) and re-reads the footer for schema inference —
  // pure driver-side metadata work repeated for every t() call (each
  // bench rep, each serve-latency batch, each verify query). Memoize the
  // RESOLVED DataFrame per (session, path): the file listing and schema
  // are pinned once per session, while every action on it still reads
  // the parquet BYTES from disk (a DataFrame holds no row data — this is
  // metadata caching, not result caching; Spark itself does the same for
  // catalog tables via filesourcePartitionFileCacheSize).
  //
  // Keyed by the session object itself, not by its application: sessions
  // from `newSession()` share one SparkContext but not their SQL conf, and
  // a memoized frame plans under the conf of the session that read it.
  // Contract: a table path is immutable within a session — rewriting the
  // files under a path a session already read serves that session the
  // stale listing. A session's entries are evicted when its context ends
  // (onApplicationEnd), so tests that cycle many sessions don't
  // accumulate plans against stopped contexts.
  private val readMemo = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()
  private val hookedApps =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    tune(spark)
    val sc = spark.sparkContext
    val app = sc.applicationId
    if (hookedApps.add(app)) {
      sc.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
            readMemo.keySet.removeIf(_.sparkContext eq sc)
            hookedApps.remove(app)
          }
        })
    }
    readMemo.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap())
      .computeIfAbsent(s"$dir/$name.parquet", _ => {
        val df = spark.read.parquet(s"$dir/$name.parquet")
        // Restore nanos-as-long timestamp columns to TimestampType (micros —
        // Spark's max precision; floor truncation matches the oracle's
        // epoch_ms//1000 semantics at second granularity).
        df.schema.fields.foldLeft(df) {
          case (acc, f) if f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType =>
            acc.withColumn("ts", timestamp_micros((col("ts") / lit(1000L)).cast("long")))
          case (acc, _) => acc
        }
      })
  }

  /** Epoch seconds (floor) of a timestamp column; works for both TIMESTAMP
    * and TIMESTAMP_NTZ (parquet ns columns) under a UTC session.
    * DuckDB oracle equivalent: `epoch_ms(ts)//1000`.
    */
  def epochS(c: Column): Column = unix_seconds(c.cast("timestamp"))
}
