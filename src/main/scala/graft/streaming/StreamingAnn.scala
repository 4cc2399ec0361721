package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Ann, Lineage}

/** Streaming ANN ingest — the embeddings counterpart of the incremental
  * near-dup gate's serve shape (VERDICT r12 #6): new vectors arriving on
  * a staging drop are assigned to their IVF cell against the FROZEN
  * coarse centroids and PQ-coded with the FROZEN books, then appended to
  * the standing code table. The quantizers never retrain in-stream, so
  * every emitted row is bit-identical to what [[Ann.ivfPqAppend]] would
  * produce for the same vector in any batch split (append is associative
  * — Round11bOpsSpec; stream≡append — Round13OpsSpec + StreamingSpec).
  *
  * Plan shape: the whole transform is [[Ann.ivfPqCodeProjection]] — a
  * pure literal-expression projection (centroids/books are
  * driver-bounded), so the stream carries NO join, NO aggregation, NO
  * state store; at 100 TB the ingest cost is exactly one codegen'd
  * projection per arriving vector, and the parquet append in
  * [[ivfPqIngestToParquet]] is the only I/O.
  */
object StreamingAnn {

  /** NDJSON staging schema for embedding drops. */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType)),
    StructField("ingest_ts", LongType)))

  /** Streaming (id, codes, centroid) rows for every vector landing in
    * `stagingDir` — the unsunk transform, composable with any sink.
    */
  def ivfPqIngestStream(spark: SparkSession, stagingDir: String,
      index: Ann.IvfPqIndex): DataFrame =
    Ann.ivfPqCodeProjection(index,
      spark.readStream.schema(embSchema).json(stagingDir),
      "vec_id", "embedding")

  /** Deployment sink: append the code rows to `indexDir` as parquet (the
    * standing serve table [[Ann.IvfPqIndex.encoded]] reads). Returns the
    * started query; callers own `processAllAvailable`/`stop`.
    */
  def ivfPqIngestToParquet(spark: SparkSession, stagingDir: String,
      index: Ann.IvfPqIndex, indexDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    ivfPqIngestStream(spark, stagingDir, index)
      .writeStream.format("parquet")
      .option("path", indexDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()

  /** Exactly-once append for the foreachBatch maintainers (`foreachBatch`
    * is at-least-once: a micro-batch replayed after a crash would
    * blind-append duplicate edges and duplicate corpus rows, silently
    * breaking the stream≡batch-fold contract). Idempotency protocol,
    * per (batchId, tag):
    *
    *   1. every file this batch lands in `targetDir` carries the
    *      deterministic prefix `graft-b<batchId>-<tag>-`;
    *   2. on entry, delete any file under `targetDir` with that prefix —
    *      a replay first erases the prior attempt, restoring the exact
    *      pre-batch state (callers must run this cleanup BEFORE reading
    *      the standing index, so the recomputed walk sees the same
    *      adjacency the first attempt saw);
    *   3. write the batch to a staging dir (mode overwrite — itself
    *      idempotent), then rename each part file into `targetDir` under
    *      the prefixed name (subdir-preserving, so partitioned layouts
    *      keep their `layer=N/` structure).
    *
    * Staging lives UNDER `targetDir` (`_graft_staging/…` — the `_` prefix
    * hides it from Spark's file index, so standing-index readers never see
    * in-flight files), which pins staging and target to the SAME
    * FileSystem: Hadoop `rename` does NOT degrade to a cross-filesystem
    * copy, so staging under an unrelated checkpointDir (the pre-r16 shape)
    * silently dropped every batch when checkpoint and index dirs lived on
    * different schemes (ADVICE r15). Each rename's boolean result is
    * checked; a false falls back to FileUtil.copy+delete and only then
    * throws — a failed move is loud, never silent data loss.
    */
  private[graft] def batchFilePrefix(batchId: Long, tag: String): String =
    f"graft-b$batchId%019d-$tag-"

  private[graft] def cleanupBatchFiles(spark: SparkSession,
      targetDir: String, batchId: Long, tag: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(targetDir)
    val fs = root.getFileSystem(conf)
    if (fs.exists(root)) {
      val prefix = batchFilePrefix(batchId, tag)
      val it = fs.listFiles(root, /*recursive=*/ true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.startsWith(prefix))
          fs.delete(f.getPath, false)
      }
    }
  }

  private[graft] def idempotentAppend(df: DataFrame, targetDir: String,
      batchId: Long, tag: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(targetDir)
    // same-FS staging: a `_`-prefixed subdir of the target (hidden from
    // Spark readers), so the renames below are genuine same-FS moves
    val staged = new Path(root, s"_graft_staging/b$batchId/$tag")
    val w0 = df.write.mode("overwrite")
    val w = if (partitionCols.nonEmpty) w0.partitionBy(partitionCols: _*) else w0
    w.parquet(staged.toString)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    val prefix = batchFilePrefix(batchId, tag)
    // listFiles returns scheme-qualified paths (file:/...); qualify the
    // staging root the same way or the prefix strip silently fails and
    // the relative subpath keeps the full URI
    val stagedQ = fs.makeQualified(staged).toString
    var i = 0
    val it = fs.listFiles(staged, /*recursive=*/ true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")) {
        // preserve the partition-subdir structure relative to staging
        val rel = fs.makeQualified(f.getPath.getParent).toString
          .stripPrefix(stagedQ).stripPrefix("/")
        val destDir = if (rel.isEmpty) root else new Path(root, rel)
        fs.mkdirs(destDir)
        val dest = new Path(destDir, s"$prefix$i.parquet")
        // rename returns false instead of throwing on several FS impls;
        // an unchecked false here IS silent data loss (ADVICE r15)
        if (!fs.rename(f.getPath, dest)) {
          val copied = org.apache.hadoop.fs.FileUtil.copy(
            fs, f.getPath, fs, dest, /*deleteSource=*/ true, conf)
          if (!copied) throw new java.io.IOException(
            s"idempotentAppend: move failed for ${f.getPath} -> $dest")
        }
        i += 1
      }
    }
    fs.delete(staged, true)
  }

  /** Streaming NSW graph maintenance (VERDICT r13 #3): vectors landing in
    * `stagingDir` are inserted into the standing graph index by the NSW
    * insert rule — each micro-batch SEARCHES the current adjacency for
    * its members' top-`kLink` neighbors ([[Ann.graphInsertEdges]], the
    * corpus-size-insensitive walk) and APPENDS the bidirectional edges
    * to `adjDir` and the vectors to `corpusDir`. The graph therefore
    * grows in arrival order: later micro-batches link to earlier inserts
    * exactly as a sequential [[Ann.graphInsert]] fold over the same
    * splits would — stream ≡ batch-fold, edge-for-edge
    * (Round14GraphSpec). No state store: the standing index IS the
    * state, and each micro-batch's work is one bounded walk plus two
    * appends.
    *
    * `foreachBatch` is the right sink shape because the batch must read
    * the CURRENT index (self-referential append — the read's file
    * listing happens before the write lands, and the edge set is
    * checkpoint-cut first so the append never scans its own output).
    */
  def graphIngestToParquet(spark: SparkSession, stagingDir: String,
      adjDir: String, corpusDir: String, checkpointDir: String,
      kLink: Int = 4, entryIds: Seq[Long] = Seq(0L), beamWidth: Int = 16,
      hops: Int = 2, expandHops: Int = 2,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val reader = spark.readStream.schema(embSchema)
    maxFilesPerTrigger.foreach(m =>
      reader.option("maxFilesPerTrigger", m.toString))
    reader.json(stagingDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one materializing job doubles as the emptiness probe, and the
        // count feeds the walk's chunking decision (knownCount)
        val (b, nB) = Lineage.cutCounted(batch.select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding")))
        if (nB > 0L) {
          // replay-erase BEFORE reading the index: a crashed attempt's
          // partial appends must not be visible to the recomputed walk
          cleanupBatchFiles(spark, adjDir, batchId, "edges")
          cleanupBatchFiles(spark, corpusDir, batchId, "corpus")
          val adj = spark.read.parquet(adjDir)
          val corpus = spark.read.parquet(corpusDir)
          // materialize BEFORE appending to adjDir
          val edges = Lineage.cut(Ann.graphInsertEdges(adj, corpus, b,
              "vec_id", "embedding", kLink, entryIds, beamWidth, hops,
              expandHops, knownCount = Some(nB)))
          idempotentAppend(edges, adjDir, batchId, "edges")
          idempotentAppend(b, corpusDir, batchId, "corpus")
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }

  /** [[graphIngestToParquet]] for the LAYERED (HNSW) index: each
    * micro-batch runs [[Ann.layeredInsertEdges]] — new vectors draw their
    * deterministic level and link into every layer ≤ level — and appends
    * the (layer, src, dst) edges to the layer-partitioned standing
    * adjacency plus the vectors to the corpus. Same stream ≡ batch-fold
    * contract as the flat maintainer (arrival-order growth; within a
    * micro-batch inserts never link to each other).
    */
  def layeredIngestToParquet(spark: SparkSession, stagingDir: String,
      layersDir: String, corpusDir: String, checkpointDir: String,
      maxLevel: Int, p: Int = 4, kLink: Int = 4, beamWidth: Int = 16,
      hops: Int = 2, expandHops: Int = 2,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val reader = spark.readStream.schema(embSchema)
    maxFilesPerTrigger.foreach(m =>
      reader.option("maxFilesPerTrigger", m.toString))
    reader.json(stagingDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // same probe merge as the flat maintainer
        val (b, nB) = Lineage.cutCounted(batch.select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding")))
        if (nB > 0L) {
          cleanupBatchFiles(spark, layersDir, batchId, "edges")
          cleanupBatchFiles(spark, corpusDir, batchId, "corpus")
          val layers = spark.read.parquet(layersDir)
          val corpus = spark.read.parquet(corpusDir)
          // materialize BEFORE appending to layersDir
          val edges = Lineage.cut(Ann.layeredInsertEdges(layers, corpus, b,
              "vec_id", "embedding", maxLevel, p, kLink, beamWidth, hops,
              expandHops))
          idempotentAppend(edges, layersDir, batchId, "edges",
            partitionCols = Seq("layer"))
          idempotentAppend(b, corpusDir, batchId, "corpus")
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }
}
