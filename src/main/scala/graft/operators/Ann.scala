package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Fns

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k — the baseline. The query side
  *    is expected to be small and is broadcast; cost is |queries|×|corpus|
  *    per-row arithmetic with no shuffle of the corpus.
  *  - [[lshTopK]]: random-hyperplane LSH — corpus is bucketed by sign
  *    pattern; a query only scores candidates in its own bucket. The
  *    hyperplanes are pseudo-random ±1 vectors derived from a deterministic
  *    integer hash so the bucketing is reproducible across engines (and
  *    verifiable against a SQL oracle). At scale the bucket join replaces
  *    the cross product: cost ~ Σ bucket² instead of n².
  */
object Ann {

  /** Final ranker shared by all ANN tiers: per-query top-k via the bounded
    * [[graft.functions.TopKByScore]] aggregate — identical output to
    * `row_number().over(partitionBy(query).orderBy(cos.desc, id))` but with
    * map-side partial aggregation, so the shuffle carries O(queries × k)
    * pairs instead of every scored candidate row through a full sort (the
    * window formulation is the classic 100×-scale bottleneck).
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(Fns.topKByScore(col("cos"), col("neighbor_id").cast("long"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("query_id"), (col("r") + 1).cast("int").as("rank"),
        col("t.id").as("neighbor_id"), round(col("t.score"), 4).as("cos"))

  /** Range search: every corpus vector within a cosine radius of each
    * query (`cos ≥ minCos`), the fixed-threshold dual of top-k — the
    * primitive behind "find all near-duplicates of this document" and
    * radius-bounded retrieval. Same broadcast-queries single corpus scan
    * as [[bruteForceTopK]]; output size is selectivity-bounded by the
    * threshold, not k. Output: (query_id, neighbor_id, cos round-4).
    */
  def rangeSearch(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, minCos: Double): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Fns.cosineSim(col("qv"), col("cv")))
      .filter(col("cos") >= lit(minCos))
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
  }

  /** Exact top-k neighbors by cosine for each query vector.
    * Output: (query_id, rank, neighbor_id, cos).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Fns.cosineSim(col("qv"), col("cv")))
    rankTopK(scored, k)
  }

  /** ADC-scored graph walk with exact re-rank — the DiskANN serving
    * composition (Subramanya et al. 2019: navigate a graph, score with
    * compressed codes, refine the final candidates exactly): the beam
    * search runs over the standing adjacency exactly like
    * [[graphSearch]], but frontier nodes are scored by PQ-ADC distance
    * against the query's lookup table — the walk touches m BYTES of
    * codes per candidate instead of dims×8 of raw vector (the 100 TB
    * point: the hot navigation working set shrinks by the code rate,
    * e.g. 64×8B → 4B here) — and only the FINAL beam is re-scored with
    * full-precision cosine against the raw vectors (the IndexRefine
    * stage, [[pqAdcRerank]]'s contract applied to a graph tier).
    * Output: (query_id, rank, neighbor_id, cos) — exact cosines, so
    * downstream consumers cannot tell which tier served them.
    *
    * Scale shape: identical join skeleton to [[graphSearch]] (keyed
    * frontier joins + bounded top-beam), with the per-hop scoring join
    * landing on the (id, codes) table; the LUT rides as a broadcast
    * (|queries|·m·k doubles); the raw-vector table is touched once, by
    * |queries|·beamWidth rerank rows.
    */
  def graphSearchAdc(graph: DataFrame, encoded: DataFrame,
      books: Seq[Seq[(Int, Seq[Double])]], k: Int, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      entryIds: Seq[Long], beamWidth: Int, hops: Int, topK: Int,
      cutLineage: Boolean = true, expandHops: Int = 1): DataFrame =
    graphSearchAdcCore(graph, encoded, books, k, corpus, queries, idCol,
      vecCol, entryIds, None, beamWidth, hops, topK, cutLineage,
      expandHops)

  /** [[graphSearchAdc]] under a metadata predicate — the same
    * post-filter contract as [[graphSearchWhere]]/[[layeredSearchWhere]]
    * (navigation unrestricted, predicate as ONE keyed semi-join on the
    * final beam, over-fetch dial beamWidth ≳ topK/selectivity), applied
    * to the code-scored tier: the semi-join lands BEFORE the exact
    * re-rank, so disallowed candidates never cost a raw-vector read.
    * With this, every serve tier — flat, layered, and ADC-walked —
    * answers "vector search WHERE predicate".
    */
  def graphSearchAdcWhere(graph: DataFrame, encoded: DataFrame,
      books: Seq[Seq[(Int, Seq[Double])]], k: Int, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      entryIds: Seq[Long], allowed: DataFrame, beamWidth: Int, hops: Int,
      topK: Int, cutLineage: Boolean = true,
      expandHops: Int = 1): DataFrame =
    graphSearchAdcCore(graph, encoded, books, k, corpus, queries, idCol,
      vecCol, entryIds, Some(allowed), beamWidth, hops, topK, cutLineage,
      expandHops)

  private def graphSearchAdcCore(graph: DataFrame, encoded: DataFrame,
      books: Seq[Seq[(Int, Seq[Double])]], k: Int, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      entryIds: Seq[Long], allowed: Option[DataFrame], beamWidth: Int,
      hops: Int, topK: Int, cutLineage: Boolean,
      expandHops: Int): DataFrame = {
    require(entryIds.nonEmpty, "need at least one entry point")
    require(beamWidth >= topK, s"beamWidth $beamWidth must cover topK $topK")
    require(hops >= 1, s"bad hops $hops")
    require(expandHops >= 1 && expandHops <= 3, s"bad expandHops $expandHops")
    val m = books.size
    val codes = encoded.select(col("id").cast("long").as("nid"), col("codes"))
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val qLut = q.select(col("query_id"), pqLut(books, k, col("qv")).as("lut"))
    val adj = graph.select(col("src").cast("long").as("nid"),
      col("dst").cast("long"))
    def score(nodes: DataFrame): DataFrame = nodes
      .join(broadcast(qLut), "query_id").join(codes, "nid")
      .select(col("query_id"), col("nid"), pqAdc(m).as("dist"))
    // candidate dedup lives inside the aggregate (ADC dist is a
    // deterministic function of (query, nid), so duplicates tie) — no
    // distinct() exchanges, no seen-set anti-join, one exchange per round
    def topBeam(cands: DataFrame): DataFrame = cands
      .groupBy("query_id")
      .agg(Fns.topKByScoreDistinct(-col("dist"), col("nid"), beamWidth).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("nid"),
        (-col("t.score")).as("dist"))
    def expandRaw(nodes: DataFrame): DataFrame = {
      var frontier = nodes
      var cand: DataFrame = null
      for (_ <- 1 to expandHops) {
        frontier = frontier.join(adj, "nid")
          .select(col("query_id"), col("dst").as("nid"))
        cand = if (cand == null) frontier else cand.unionByName(frontier)
      }
      cand
    }
    val e0 = q.select(col("query_id"),
      explode(lit(entryIds.toArray)).as("nid"))
    // the round-1 count doubles as the all-miss guard (same barrier diet
    // as [[walkBeam]])
    val first = topBeam(score(e0.unionByName(expandRaw(e0))))
    val (b0, n0) = if (cutLineage) Lineage.cutCounted(first) else (first, -1L)
    val miss = if (n0 >= 0L) n0 == 0L else b0.isEmpty
    if (miss && !q.isEmpty)
      throw new IllegalArgumentException(
        "graphSearchAdc: no entry or entry-neighbor has a code row — " +
          "every entry is missing from the encoded corpus and graph")
    var beam = b0
    for (h <- 2 to hops) {
      val expand = expandRaw(beam.select(col("query_id"), col("nid")))
      val merged = topBeam(beam.unionByName(score(expand)))
      // the final beam feeds the exact re-rank exactly once — leave it
      // uncut so its work rides the caller's action
      beam = if (h == hops || !cutLineage) merged else Lineage.cut(merged)
    }
    // IndexRefine stage: exact full-precision rescoring of the beam only
    // (post-filter semi-join first, when present — disallowed candidates
    // never cost a raw-vector read)
    val vecs = corpus.select(col(idCol).cast("long").as("nid"),
      col(vecCol).cast("array<double>").as("cv"))
    val kept = allowed match {
      case Some(a) => beam.join(
        a.select(col(idCol).cast("long").as("nid")), Seq("nid"), "left_semi")
      case None => beam
    }
    rankTopK(kept
      .filter(col("query_id") =!= col("nid"))
      .join(q, "query_id").join(vecs, "nid")
      .select(col("query_id"), col("nid").as("neighbor_id"),
        Fns.cosineSim(col("qv"), col("cv")).as("cos")),
      topK)
  }

  /** Matryoshka (MRL-style) two-stage serve — the dimension-budget dual
    * of [[pqAdcRerank]]'s code-budget refine: matryoshka-trained
    * embeddings (Kusupati et al. 2022) carry their information
    * front-loaded, so stage 1 scans only the FIRST `prefixDims`
    * dimensions of every corpus vector (a dims/prefixDims× cheaper
    * exact scan — at 100 TB the prefix can live as its own thin column,
    * so the scan reads prefixDims/dims of the bytes) to a
    * `shortlist`-deep candidate set, and stage 2 re-scores ONLY the
    * shortlist with full-dimension exact cosine. Recall approaches
    * exact as `shortlist` grows — the same quality/cost dial as the
    * ADC refine, with no quantizer to train. Output: (query_id, rank,
    * neighbor_id, cos).
    */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, prefixDims: Int, shortlist: Int,
      topK: Int): DataFrame = {
    require(prefixDims >= 1, s"bad prefixDims $prefixDims")
    require(shortlist >= topK, s"shortlist $shortlist must cover topK $topK")
    val vfull = corpus.select(col(idCol).cast("long").as("nid"),
      col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val short = rankTopK(
      vfull.select(col("nid").as("neighbor_id"),
          slice(col("cv"), 1, prefixDims).as("pv"))
        .join(broadcast(q.select(col("query_id"),
          slice(col("qv"), 1, prefixDims).as("qp"))),
          col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          Fns.cosineSim(col("qp"), col("pv")).as("cos")),
      shortlist)
      .select(col("query_id"), col("neighbor_id").as("nid"))
    rankTopK(short
      .join(q, "query_id").join(vfull, "nid")
      .select(col("query_id"), col("nid").as("neighbor_id"),
        Fns.cosineSim(col("qv"), col("cv")).as("cos")),
      topK)
  }

  /** Nearest-centroid argmin fold over a broadcast centroid array
    * (`array<struct<c,center>>`, c-ascending — fold order is the
    * tie-break order). The per-centroid distance is the codegen'd
    * [[graft.functions.L2Dist]] kernel (same element-order fold as the
    * oracle's list_reduce, bit-identical); the outer fold interprets k
    * steps per row instead of k×dims closure calls. Shared by the IVF
    * and PQ trainers/encoders.
    */
  private def centArgmin(cents: Column, v: Column): Column =
    aggregate(cents,
      struct(lit(Double.MaxValue).as("dist"), lit(Int.MaxValue).as("c")),
      (acc, cc) => {
        val d = graft.functions.Fns.l2Dist(v, cc.getField("center"))
        when(d < acc.getField("dist"),
          struct(d.as("dist"), cc.getField("c").as("c"))).otherwise(acc)
      }).getField("c")

  /** Deterministic ±1 hyperplane sign for (plane p, dimension d):
    * parity of (p*1315423911 + d*2654435761) mod 1e9+7 — engine-portable
    * 64-bit arithmetic (no overflow for p,d in sane ranges).
    */
  private def planeSign(p: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column) =
    when(((p * lit(1315423911L) + d * lit(2654435761L)) % lit(Fns.HashMod)) % 2 === 0,
      lit(1.0)).otherwise(lit(-1.0))

  /** Bucket id per vector: `numPlanes`-bit sign pattern of projections onto
    * the deterministic hyperplanes. Computed per row as a left fold over
    * the vector — a pure projection with ZERO shuffles (the previous
    * posexplode × plane formulation shuffled |corpus|×dims×planes rows);
    * at cluster scale bucketing is embarrassingly parallel.
    */
  def hyperplaneBuckets(emb: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val bits = transform(sequence(lit(0), lit(numPlanes - 1)), p =>
      when(
        aggregate(
          zip_with(v, sequence(lit(0), size(v) - 1), (x, d) => x * planeSign(p, d)),
          lit(0.0), (acc, t) => acc + t) > 0, "1").otherwise("0"))
    // null/empty vectors are DROPPED (they cannot be bucketed — an
    // all-zero sign pattern would funnel every null embedding into one
    // bucket and emit null cosines downstream)
    emb.filter(v.isNotNull && size(v) > 0)
      .select(col(idCol).as("vid"), array_join(bits, "").as("bucket"))
  }

  /** IVF (inverted-file) coarse quantization: k-means centroids over the
    * corpus, each vector assigned to its nearest centroid's list. Search
    * probes only the `nprobe` nearest lists — the classic recall/cost dial
    * for billion-vector corpora (cost ≈ nprobe/k of brute force).
    *
    * Deterministic across engines AND partitionings: init is the k
    * smallest vec ids; assignment distances are per-row LEFT FOLDS over
    * the vector arrays (IEEE double addition in index order — bit-stable
    * regardless of shuffle layout, and identical to the oracle's
    * `list_reduce` fold); the only cross-row arithmetic — the centroid
    * means — accumulates in DECIMAL(38,18) (exact, order-independent).
    * Argmin ties break by centroid id: the per-row fold visits centroids
    * c-ascending with a strict-<, so the smallest c wins a distance tie —
    * identical to `min(struct(dist, c))`.
    *
    * Scale shape: centroids are materialized to the driver between Lloyd
    * rounds (k×dims doubles, BOUNDED by the nLists parameter — MLlib
    * k-means does the same) and shipped back as a broadcast ONE-ROW
    * centroid-array table, so assignment is a pure per-row projection:
    * ZERO shuffle of the corpus per round (a crossJoin+groupBy argmin
    * would shuffle every corpus row every round). The only shuffle per
    * round is the k×dims-sized mean aggregation.
    */
  def ivfAssignments(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int = 2): (DataFrame, DataFrame) = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))

    // one-row broadcastable centroid table: array<struct<c,center>>,
    // c-ascending (fold order is the tie-break order)
    def centArrDf(cents: Seq[(Int, Seq[Double])]): DataFrame =
      Seq(Tuple1(cents.sortBy(_._1))).toDF("cents")
        .select(transform(col("cents"), s =>
          struct(s.getField("_1").as("c"), s.getField("_2").as("center"))).as("cents"))

    // assignment is a pure projection — zero shuffle of the corpus
    def assignStep(centArr: DataFrame): DataFrame =
      base.crossJoin(broadcast(centArr))
        .select(col("id"), centArgmin(col("cents"), col("v")).as("c"))

    // init: centroid c = the vector whose id is c, for the k smallest ids
    var cents: Seq[(Int, Seq[Double])] = base.filter(col("id") < k)
      .select(col("id").cast("int"), col("v")).as[(Int, Seq[Double])]
      .collect().toSeq
    val dims = cents.headOption.map(_._2.length).getOrElse(0)
    for (_ <- 0 until iterations) {
      // ONE aggregation per Lloyd round: carry v through the assignment
      // projection (no corpus self-join) and sum each dimension as its own
      // DECIMAL(38,18) column (map-side combined, order-independent —
      // the minhash multi-column-aggregate pattern; no posexplode of
      // corpus×dims rows, no second shuffle). Means are then computed
      // driver-side with the identical arithmetic (decimal sum → double,
      // divided by the long count as double).
      val sumCols = (0 until dims).map(d =>
        sum(element_at(col("v"), d + 1).cast("decimal(38,18)")).as(s"s_$d"))
      val sums = base.crossJoin(broadcast(centArrDf(cents)))
        .select(centArgmin(col("cents"), col("v")).as("c"), col("v"))
        .groupBy("c")
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .collect()
      cents = sums.toSeq.map { r =>
        val n = r.getAs[Long]("n").toDouble
        (r.getAs[Int]("c"),
          (0 until dims).map(d => r.getDecimal(d + 2).doubleValue() / n))
      }
    }
    val cent = spark.createDataFrame(cents).toDF("c", "center")
    val assignments = assignStep(centArrDf(cents))
      .select(col("id").as(idCol), col("c").as("centroid"))
    (assignments, cent.select(col("c").as("centroid"), col("center")))
  }

  /** IVF top-k search: score only vectors in the query's `nprobe` nearest
    * centroid lists. Output: (query_id, rank, neighbor_id, cos).
    */
  def ivfTopK(corpus: DataFrame, queryIds: DataFrame, idCol: String,
      vecCol: String, k: Int, nLists: Int, nprobe: Int): DataFrame =
    rankTopK(ivfScoredCandidates(corpus, queryIds, idCol, vecCol, nLists, nprobe), k)

  /** IVF range search: every probed-list vector with `cos ≥ minCos` — the
    * fixed-radius dual of [[ivfTopK]] and the scale path for
    * [[rangeSearch]] (same recall contract as IVF top-k: only the nprobe
    * nearest lists are scanned, so candidates outside them are unseen by
    * construction). Output: (query_id, neighbor_id, cos round-4);
    * selectivity-bounded, no ranker at all — the threshold replaces it.
    */
  def ivfRange(corpus: DataFrame, queryIds: DataFrame, idCol: String,
      vecCol: String, minCos: Double, nLists: Int, nprobe: Int): DataFrame =
    ivfScoredCandidates(corpus, queryIds, idCol, vecCol, nLists, nprobe)
      .filter(col("cos") >= lit(minCos))
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"))

  /** Shared IVF probe pipeline: train the coarse quantizer, pick each
    * query's `nprobe` nearest lists, cosine-score only those lists'
    * members. Returns the scored candidate stream
    * (query_id, neighbor_id, cos, …) for a ranker or threshold to finish.
    */
  private def ivfScoredCandidates(corpus: DataFrame, queryIds: DataFrame,
      idCol: String, vecCol: String, nLists: Int, nprobe: Int): DataFrame = {
    val (assign, centroids) = ivfAssignments(corpus, idCol, vecCol, nLists)
    val withList = corpus.select(col(idCol), col(vecCol)).join(assign, idCol)
    // query → its nprobe nearest centroids. This window is NOT a scale
    // hazard: its partitions are bounded by nLists rows per query (the
    // centroid count, a fixed parameter), unlike the candidate ranker.
    val q = withList.join(queryIds.select(col(idCol)), Seq(idCol), "left_semi")
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val qCent = q.crossJoin(broadcast(centroids))
      .withColumn("dist", Fns.dotProduct(col("qv"), col("qv")) +
        Fns.dotProduct(col("center"), col("center")) -
        lit(2.0) * Fns.dotProduct(col("qv"), col("center")))
    val wq = Window.partitionBy("query_id").orderBy(col("dist"), col("centroid"))
    val probes = qCent.withColumn("pr", row_number().over(wq))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("centroid"))
    // score only the probed lists
    val cands = withList.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), col("centroid"))
    cands.join(broadcast(probes), Seq("centroid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Fns.cosineSim(col("qv"), col("cv")))
  }

  /** k-NN self-join: EVERY corpus vector gets its top-k neighbors (the
    * all-pairs companion to [[lshTopK]]'s query-set search — the shape a
    * similarity-graph build or kNN-classifier labeling pass needs).
    * Candidates are restricted to same-LSH-bucket pairs, so cost is
    * Σ(bucket²) instead of n²; the ranker is the bounded map-side-combined
    * top-k aggregate, so the shuffle carries O(n × k) pairs. NO broadcast
    * on either join side — both are the corpus and grow with it; the
    * bucket equi-join shuffles on the bucket key and AQE handles skewed
    * buckets. Vectors alone in their bucket yield no rows (no candidates
    * — the recall/cost trade LSH always makes).
    * Output: (query_id, rank, neighbor_id, cos).
    */
  def knnJoin(corpus: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, k: Int): DataFrame = {
    val withB = corpus.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .join(hyperplaneBuckets(corpus, idCol, vecCol, numPlanes), "vid")
    val scored = withB
      .select(col("vid").as("query_id"), col("v").as("qv"), col("bucket"))
      .join(withB.select(col("vid").as("neighbor_id"), col("v").as("cv"),
        col("bucket")), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Fns.cosineSim(col("qv"), col("cv")))
    rankTopK(scored, k)
  }

  /** NN-descent k-NN GRAPH construction (Dong et al. 2011, WWW —
    * "Efficient K-Nearest Neighbor Graph Construction for Generic
    * Similarity Measures"), the graph-based ANN family's build
    * primitive (HNSW/NSG refine exactly this structure): start from a
    * deterministic ring lattice (neighbor j of node i = (i+j) mod n —
    * ids must be DENSE 0..n-1, the standard embedding-table layout;
    * densify at ingest otherwise), then iterate "a neighbor of my
    * neighbor is probably my neighbor": each round's candidates are the
    * current edges ∪ their reverses ∪ the two-hop closure, scored
    * exactly, and reduced to each node's top-k (score desc, id asc —
    * deterministic). Converges in a handful of rounds regardless of n.
    *
    * Scale shape: per round ONE keyed self-join (two-hop) + distinct +
    * two keyed joins against the vector table + one bounded top-k
    * aggregate — candidate volume O(n·k²) per round, never O(n²); every
    * join is on the id key. Rounds are cut ([[Lineage]]) so lineage
    * stays one round deep.
    * Output: (query_id, rank, neighbor_id, cos) — the k-NN graph.
    */
  /** CONSUMED-ONCE CONTRACT (r16 barrier diet): the returned frame's
    * final round is left UNCUT — drive it with exactly one action (or
    * feed it to [[serveGraph]], whose one-pass symmetrize preserves the
    * single reference). A second action re-executes the final round's
    * post-shuffle work (correctness is unaffected — lineage is one cut
    * deep and deterministic — but the recompute is the cost the uncut
    * plan saved).
    */
  def nnDescent(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, iters: Int = 2, randomInit: Boolean = false): DataFrame =
    nnDescentCore(emb, idCol, vecCol, k, iters, randomInit, delta = None)._1

  /** [[nnDescent]] with Dong et al. 2011 §2.3's ACTUAL termination rule:
    * iterate until the round's edge-set update count falls below
    * ⌈delta·k·n⌉ (or `maxIters`, the runaway bound). Each round pays one
    * extra left-anti count against the previous edge set — the price of
    * not running fixed rounds past convergence, which on a converged
    * graph is the whole O(n·k²) candidate pass. The stop is
    * data-deterministic (a set-difference count), so the result is
    * reproducible like the fixed-round variant.
    */
  def nnDescentAuto(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, maxIters: Int = 10, delta: Double = 0.002,
      randomInit: Boolean = false): DataFrame = {
    require(delta > 0, s"bad delta $delta")
    nnDescentCore(emb, idCol, vecCol, k, maxIters, randomInit,
      delta = Some(delta))._1
  }

  /** Per-round convergence telemetry of [[nnDescent]]: (round,
    * n_changed) where n_changed = |edges_r \ edges_{r-1}| — the quantity
    * [[nnDescentAuto]]'s stop rule watches, exposed so an operator can
    * SIZE `iters`/`delta` for a corpus instead of guessing.
    */
  def nnDescentConvergence(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, iters: Int = 2, randomInit: Boolean = false): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    nnDescentCore(emb, idCol, vecCol, k, iters, randomInit,
      delta = None, track = true)._2
      .toDF("round", "n_changed")
  }

  private def nnDescentCore(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, randomInit: Boolean, delta: Option[Double],
      track: Boolean = false): (DataFrame, Seq[(Int, Long)]) = {
    require(k >= 1 && iters >= 1, s"bad k=$k iters=$iters")
    val vecs = emb.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("v"))
    val n = vecs.count()
    // randomInit: Dong et al.'s actual starting condition — the ring
    // lattice only reaches ring-distance k·2^iters in `iters` rounds of
    // two-hop closure, so on large n the descent NEVER sees true
    // neighbors outside that window (measured on the 2000-vector corpus,
    // k=8 iters=3: edge-recall@8 0.018 ring vs 0.283 random; downstream
    // graph-walk recall@10 0.20 vs 0.85 at identical beam/hops).
    // Deterministic multiplicative hash per (node, slot): long-range
    // links from round 0, convergence in a handful of rounds at any n.
    def initDst(j: Column): Column =
      if (randomInit) pmod(col("vid") * 2654435761L + j * 40503L + 97L, lit(n))
      else pmod(col("vid") + j, lit(n))
    def score(edges: DataFrame): DataFrame = edges
      .join(vecs.select(col("vid").as("src"), col("v").as("qv")), "src")
      .join(vecs.select(col("vid").as("dst"), col("v").as("cv")), "dst")
      .select(col("src").as("query_id"), col("dst").as("neighbor_id"),
        Fns.cosineSim(col("qv"), col("cv")).as("cos"))
    def topK(scored: DataFrame): DataFrame = scored.groupBy("query_id")
      .agg(Fns.topKByScore(col("cos"), col("neighbor_id"), k).as("top"))
      .select(col("query_id").as("src"), explode(col("top")).as("t"))
      .select(col("src"), col("t.id").as("dst"))
    var cur = Lineage.cut(
      vecs.select(col("vid").as("src"),
          explode(transform(sequence(lit(1), lit(k)), j => initDst(j))).as("dst"))
        .filter(col("src") =!= col("dst")))
    // convergence accounting (only when asked — the fixed-round path
    // stays job-identical to the original): threshold = ⌈delta·k·n⌉,
    // change = |edges_r \ edges_{r-1}| via one keyed left-anti count
    val threshold = delta.map(d => math.ceil(d * k * n).toLong)
    val counting = track || threshold.isDefined
    val telemetry = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var r = 0
    var converged = false
    while (r < iters && !converged) {
      r += 1
      val rev = cur.select(col("dst").as("src"), col("src").as("dst"))
      val two = cur.select(col("src"), col("dst").as("mid"))
        .join(cur.select(col("src").as("mid"), col("dst")), "mid")
        .select("src", "dst")
      val cand = cur.unionByName(rev).unionByName(two)
        .filter(col("src") =!= col("dst")).distinct()
      // the FINAL fixed round's edge set is consumed exactly once (by the
      // rankTopK re-score below), so its checkpoint job is pure overhead;
      // counting rounds must stay cut (the left-anti count + next round
      // both re-read the set), as must every non-final round (re-read
      // three ways by the next round's candidate closure)
      val isFinal = !counting && r == iters
      val next = if (isFinal) topK(score(cand)) else Lineage.cut(topK(score(cand)))
      if (counting) {
        val changed = next.join(cur, Seq("src", "dst"), "left_anti").count()
        telemetry += (r -> changed)
        converged = threshold.exists(changed < _)
      }
      cur = next
    }
    (rankTopK(score(cur), k), telemetry.toSeq)
  }

  /** Graph-walk ANN serve (the HNSW/NSW family's search shape — Malkov &
    * Yashunin 2016 rendered as a BATCHED beam search): queries navigate a
    * prebuilt k-NN graph ([[nnDescent]]'s output persisted as the standing
    * index) instead of scanning corpus cells. Start every query at the
    * fixed `entryIds`; each hop expands the current beam's out-edges, scores
    * the new nodes exactly against the query vector, and keeps the best
    * `beamWidth` of (beam ∪ expansions) — cos desc, id asc, deterministic.
    * After `hops` rounds the top-`topK` non-self beam rows are the answer.
    * Classic HNSW expands one closest-unvisited node at a time; the batched
    * variant expands the whole beam per round, which is the standard
    * dataflow adaptation (round count bounds work instead of a visited
    * set — a dropped-and-rediscovered node just re-scores identically).
    *
    * Scale shape: per hop ONE keyed equi-join of the frontier against the
    * adjacency table (shuffled on node id — the graph is the big side and
    * bucketable on src), one keyed join against the vector table to score,
    * and the bounded map-side-combined top-beam aggregate. Per-query cost
    * is O(beamWidth · degree · hops) rows — independent of corpus size,
    * the property a serve tier buys; no corpus-wide scan, no cartesian.
    * Hops are localCheckpoint-cut so lineage stays one round deep.
    * Output: (query_id, rank, neighbor_id, cos) — the shared tier contract.
    */
  /** Symmetrized serve adjacency from a [[nnDescent]] result: k-NN edges
    * ∪ their reverses, deduped — the HNSW bidirectional-link rule. A raw
    * k-NN graph is DIRECTED, and greedy navigation on it stalls in
    * in-degree deserts (measured on the sf0.001 embeddings: recall@5
    * 0.52 directed → 1.00 symmetrized at identical beam/hops); reverse
    * edges are what make hub nodes reachable from their spokes. One
    * projection + union + distinct over the edge table; out-degree stays
    * ≤ 2k. Output: (src, dst).
    */
  def serveGraph(knn: DataFrame): DataFrame =
    // one-pass symmetrization: knn is often an UNCUT consumed-once plan
    // (nnDescent's final round) — see [[symmetrize]]
    symmetrize(knn.select(col("query_id").cast("long").as("src"),
      col("neighbor_id").cast("long").as("dst")))

  /** `count` evenly-spaced entry-point ids for [[graphSearch]] over a
    * dense-id corpus of size `n`. With a random-init k-NN graph, ids are
    * uncorrelated with geometry, so ANY fixed ids are equally good
    * starting points — multiple entries buy the same recall as extra
    * hops at a fraction of the latency (measured: 8 entries let hops
    * drop 6→4 at equal recall; each hop is a sequential job barrier).
    */
  def spreadEntries(n: Long, count: Int = 8): Seq[Long] = {
    require(n >= 1, s"bad corpus size $n")
    val c = math.min(count.toLong, n)
    // i·n/c spreads evenly for ANY (c, n), including c close to n —
    // the floor-step variant clustered ids at the front when n/c
    // truncated small (and its `% n` never fired)
    (0L until c).map(i => i * n / c)
  }

  def graphSearch(graph: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, entryIds: Seq[Long],
      beamWidth: Int, hops: Int, topK: Int,
      cutLineage: Boolean = true, expandHops: Int = 1,
      cutFinal: Boolean = false): DataFrame = {
    require(entryIds.nonEmpty, "need at least one entry point")
    val q0 = queries.select(col(idCol).cast("long").as("query_id"))
    graphSearchFrom(graph, corpus, queries, idCol, vecCol,
      q0.select(col("query_id"), explode(lit(entryIds.toArray)).as("nid")),
      beamWidth, hops, topK, cutLineage, expandHops, cutFinal)
  }

  /** [[graphSearch]] with PER-QUERY entry points: `entries` is
    * (query_id, nid) — each query starts its walk at its own node set —
    * optionally carrying a `cos` column of already-exact scores (the
    * layered-descent handoff: a finished upper-layer beam is already
    * scored against the same query vectors, so re-scoring it would buy
    * nothing and cost a round). Entry ids absent from the corpus drop
    * out of the scoring join; an entry set whose first round scores NO
    * rows at all fails loudly instead of returning an empty result that
    * reads as "no neighbors".
    */
  def graphSearchFrom(graph: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, entries: DataFrame,
      beamWidth: Int, hops: Int, topK: Int,
      cutLineage: Boolean = true, expandHops: Int = 1,
      cutFinal: Boolean = false): DataFrame = {
    require(beamWidth >= topK, s"beamWidth $beamWidth must cover topK $topK")
    // cutFinal=false (default): the beam is ranked exactly once below —
    // leave the final round uncut so its work rides the caller's single
    // action instead of a checkpoint job. CONSUMED-ONCE CONTRACT: the
    // result must then be driven by exactly ONE action, or the final
    // round's post-shuffle work re-executes per action. A caller that
    // needs eager, bounded execution (the chunked insert path — one
    // bounded frontier in memory at a time) passes cutFinal=true.
    val beam = walkBeam(graph, corpus, queries, idCol, vecCol, entries,
      beamWidth, hops, cutLineage, expandHops, cutFinal)
    rankTopK(beam
      .filter(col("query_id") =!= col("nid"))
      .select(col("query_id"), col("nid").as("neighbor_id"), col("cos")),
      topK)
  }

  /** The walk itself — shared by [[graphSearchFrom]] (which ranks the
    * final beam) and [[layeredSearch]] (which hands a finished
    * upper-layer beam down as the next layer's entries). Returns the
    * final beam (query_id, nid, cos), self rows still present.
    *
    * Round structure: when `entries` arrive UNSCORED, round 1 scores
    * entries ∪ their expansion in ONE job — algebraically identical to
    * the score-entries-first formulation (score(E) ∪ score(adj(E)\E) =
    * score(E ∪ adj(E)), and the beam cap is applied to the same union)
    * but one fewer sequential barrier, which is the measured cost driver
    * at single-query serve grain. Pre-scored entries are adopted as-is
    * (their lineage ends at the previous layer's cut — no re-cut, no
    * extra job) and pay the classic hops×(expand+score) rounds.
    *
    * r16 barrier diet (guide §2.4 — remove shuffles outright; measured
    * 23 → 12 jobs per single-query serve): candidate dedup moved INSIDE
    * the bounded top-beam aggregate ([[Fns.topKByScoreDistinct]] — valid
    * because a node's exact cos is a deterministic function of
    * (query, nid), so duplicates always tie), which deletes every
    * per-hop/per-round distinct() exchange AND the seen-set anti-join
    * (a rediscovered beam node re-scores to an identical pair and is
    * dropped in the heap). Each round is now joins → ONE exchange (the
    * aggregate's). The round-1 guard count rides the (lazy) checkpoint's
    * materializing job instead of paying a second isEmpty job, and
    * `cutFinal=false` lets a terminal caller (one that ranks the beam
    * exactly once) leave the last round uncut so its work lands in the
    * caller's own action instead of a dedicated checkpoint job.
    */
  private def walkBeam(graph: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, entries: DataFrame,
      beamWidth: Int, hops: Int,
      cutLineage: Boolean, expandHops: Int,
      cutFinal: Boolean = true): DataFrame = {
    require(hops >= 1, s"bad hops $hops")
    require(expandHops >= 1 && expandHops <= 3, s"bad expandHops $expandHops")
    // cutLineage=false is the plan-lock seam: checkpoint cuts hide the
    // per-hop joins from the final executed plan, so Round13PlanSpec
    // disables them to assert the WHOLE walk is keyed-join + bounded
    // top-k. Production callers keep the default (re-executing an uncut
    // beam lineage is exponential in hops).
    val vecs = corpus.select(col(idCol).cast("long").as("nid"),
      col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val adj = graph.select(col("src").cast("long").as("nid"),
      col("dst").cast("long"))
    // exact score for a (query_id, nid) node set — two keyed joins
    def score(nodes: DataFrame): DataFrame = nodes
      .join(q, "query_id").join(vecs, "nid")
      .select(col("query_id"), col("nid"),
        Fns.cosineSim(col("qv"), col("cv")).as("cos"))
    def topBeam(cands: DataFrame): DataFrame = cands
      .groupBy("query_id")
      .agg(Fns.topKByScoreDistinct(col("cos"), col("nid"), beamWidth).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("nid"), col("t.score").as("cos"))
    // expandHops > 1 trades per-round candidate volume (O(beam·degree^e))
    // for FEWER sequential round barriers — each round is a job (the
    // checkpoint), and at single-query grain the barriers dominate
    // latency (measured: 2 rounds × 2-hop ≈ the recall of 4 × 1-hop at
    // roughly half the p50). Raw multi-hop rows (duplicates included) go
    // straight to the aggregate — same candidate SET, zero extra
    // exchanges. Worst-case row volume is beam·degree^e per query, but
    // duplicates COMPOUND multiplicatively across hops (the old per-hop
    // distinct bounded hop h's input to min(beam·degree, |nodes|) distinct
    // ids; the raw form re-expands every duplicate hop-(h-1) row), so on
    // hub-heavy / high-overlap graphs keep expandHops ≤ 2 — at 3, typical
    // volume can far exceed the deduped path's.
    def expandRaw(nodes: DataFrame): DataFrame = {
      var frontier = nodes
      var cand: DataFrame = null
      for (_ <- 1 to expandHops) {
        frontier = frontier.join(adj, "nid")
          .select(col("query_id"), col("dst").as("nid"))
        cand = if (cand == null) frontier else cand.unionByName(frontier)
      }
      cand
    }
    val preScored = entries.columns.contains("cos")
    var beam =
      if (preScored)
        // a finished upper-layer beam: already exact, lineage already one
        // cut deep — adopt without a scoring job or a re-cut
        entries.select(col("query_id").cast("long"),
          col("nid").cast("long"), col("cos").cast("double"))
      else {
        // merged round 1: entries (self rows allowed during navigation —
        // a query that IS a graph node must be able to start at itself;
        // self is excluded only from the final ranking) and their
        // expansion scored in a single job
        val e0 = entries.select(col("query_id").cast("long"),
          col("nid").cast("long"))
        val first = topBeam(score(e0.unionByName(expandRaw(e0))))
        val (b0, n0) =
          if (cutLineage) Lineage.cutCounted(first) else (first, -1L)
        // loud all-miss guard: ids absent from the corpus vanish in the
        // scoring join, and a fully-missed entry set would walk to an
        // empty result that reads as "no neighbors" (zero queries is the
        // one legitimate empty first beam — the walk is then a typed
        // no-op). On the plan-lock path (no cut, n0 < 0) this stays the
        // isEmpty probe — specs run uncached anyway.
        val miss = if (n0 >= 0L) n0 == 0L else b0.isEmpty
        if (miss && !q.isEmpty)
          throw new IllegalArgumentException(
            "graphSearchFrom: no entry or entry-neighbor scored — every " +
              "entry is missing from the corpus and graph (or the entry " +
              "set was empty)")
        b0
      }
    val firstRound = if (preScored) 1 else 2
    for (h <- firstRound to hops) {
      // no seen-set anti-join: a rediscovered beam node re-scores to the
      // identical (cos, nid) pair and the distinct-id heap drops it
      val expand = expandRaw(beam.select(col("query_id"), col("nid")))
      val merged = topBeam(beam.unionByName(score(expand)))
      beam = if ((h == hops && !cutFinal) || !cutLineage) merged
        else Lineage.cut(merged)
    }
    beam
  }

  /** Deterministic HNSW layer level for node `vid` (Malkov & Yashunin
    * 2016 §4's geometric level draw, rendered hash-deterministic so the
    * assignment is reproducible across engines): P(level ≥ ℓ) = p^-ℓ via
    * an LCG mix of the id compared against nested thresholds. Levels are
    * CUMULATIVE — a level-2 node is a member of layers 0, 1 and 2. With
    * a random-init k-NN graph, ids are uncorrelated with geometry, so a
    * deterministic id-derived draw is exactly as good as a random one —
    * and it replays in plain SQL.
    */
  def layerLevel(vid: Column, p: Int = 4, maxLevel: Int = 2): Column = {
    require(p >= 2 && maxLevel >= 1, s"bad p=$p maxLevel=$maxLevel")
    val m = 1L << 31
    val u = pmod(vid.cast("long") * 1103515245L + 12345L, lit(m))
    var level: Column = lit(0)
    var thr = m
    for (l <- 1 to maxLevel) {
      thr = thr / p
      level = when(u < lit(thr), lit(l)).otherwise(level)
    }
    level
  }

  /** Multi-layer serve graph — the HNSW hierarchy over [[nnDescent]]:
    * layer 0 is the symmetrized base k-NN graph over the whole corpus;
    * layer ℓ ≥ 1 is the symmetrized k-NN graph among the nodes with
    * [[layerLevel]] ≥ ℓ (a p^-ℓ sample), built by the SAME nn-descent
    * protocol on densified member ids (nnDescent's dense-id contract) and
    * mapped back. Output: (layer, src, dst) — one table, partitionable
    * on (layer, src), the standing index [[layeredSearch]] descends.
    *
    * Scale shape: layer ℓ holds n·p^-ℓ nodes, so the extra build cost
    * over the flat graph is a geometric series ≤ 1/(p-1) of the base
    * build; densification is the DISTRIBUTED bucket-histogram rank
    * ([[Ranks.globalRowNumber]] — same values as
    * `row_number() over (order by vid) - 1`, so the DuckDB oracle dual
    * is unchanged, but executed as a bucket-partitioned window: no
    * single-partition exchange anywhere in the build plan, the
    * [[Ranks]] no-partitionless-window discipline applied to the build
    * path too (r14 verdict: at 100 TB the old global window funneled
    * n/p ids through ONE task per index build).
    */
  def layeredBuild(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, iters: Int = 2, p: Int = 4, maxLevel: Int = 2,
      randomInit: Boolean = false): DataFrame = {
    val base = serveGraph(nnDescent(emb, idCol, vecCol, k, iters, randomInit))
      .withColumn("layer", lit(0))
    val vecs = emb.select(col(idCol).cast("long").as("vid"),
      col(vecCol).as("v"))
    (1 to maxLevel).foldLeft(base) { (acc, l) =>
      val mem0 = vecs.filter(layerLevel(col("vid"), p, maxLevel) >= l)
      val members = Ranks.globalRowNumber(mem0, Seq("vid"),
        Ranks.quantileBucket(mem0, "vid", 256), "did")
      val ids = Lineage.cut(members.select(col("did"), col("vid")))
      val knn = nnDescent(members.select(col("did"), col("v")),
        "did", "v", k, iters, randomInit)
      acc.unionByName(serveGraph(knn)
        .join(ids.select(col("did").as("src"), col("vid").as("svid")), "src")
        .join(ids.select(col("did").as("dst"), col("vid").as("dvid")), "dst")
        .select(col("svid").as("src"), col("dvid").as("dst"))
        .withColumn("layer", lit(l)))
    }
  }

  /** The deterministic descent entry: the smallest node id in the top
    * layer. One tiny aggregate over the layer column — compute it ONCE
    * at index-build time and pass it to [[layeredSearch]]; a serve
    * deployment must not pay this job per query batch.
    */
  def layeredEntry(layers: DataFrame, maxLevel: Int): Long = {
    val row = layers.filter(col("layer") === maxLevel)
      .agg(min(col("src"))).head()
    // min() over an empty slice is NULL — name the empty layer instead
    // of NPE-ing on getLong (tiny corpus / maxLevel above what the data
    // supports draws <2 members at the top)
    require(!row.isNullAt(0),
      s"layer $maxLevel has no edges — corpus too small for maxLevel=$maxLevel")
    row.getLong(0)
  }

  /** HNSW-style layered descent serve (Malkov & Yashunin 2016 §4,
    * batched): start every query at the single top-layer entry, walk ONE
    * round per upper layer over that layer's tiny adjacency (beam
    * `beamUpper`), and hand the finished beam DOWN as the next layer's
    * pre-scored entries — the handoff costs nothing because an upper
    * layer's members exist in every layer below (cumulative levels) and
    * their cosines are already exact. The base layer then walks
    * `hopsBase` rounds at `beamBase`. Layer ℓ localizes the entry in
    * diameter p^-ℓ of the corpus, so the base layer starts NEAR the
    * answer and needs fewer hops — total sequential rounds
    * maxLevel + hopsBase, versus the flat walk's hops-to-cross-the-
    * whole-diameter (the log-diameter descent that is HNSW's entire
    * contribution over single-layer NSW).
    *
    * Scale shape: every round is the [[walkBeam]] keyed-join + bounded
    * top-k shape; upper-layer rounds join against n·p^-ℓ-row adjacency
    * slices (partition-prunable on `layer`), so the descent prepends
    * CHEAPER-than-base rounds while removing base rounds.
    */
  def layeredSearch(layers: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, maxLevel: Int,
      entryId: Long, beamUpper: Int = 8, beamBase: Int = 16,
      hopsBase: Int = 1, topK: Int = 5, expandHops: Int = 2,
      expandUpper: Int = 2, cutLineage: Boolean = true): DataFrame = {
    require(maxLevel >= 1, s"bad maxLevel $maxLevel")
    require(beamBase >= topK, s"beamBase $beamBase must cover topK $topK")
    val q0 = queries.select(col(idCol).cast("long").as("query_id"))
    // explode-of-literal (not a bare lit) keeps the entry id opaque to
    // constant folding: a folded constant join key turns the first
    // frontier expansion into a nested-loop join (plan-lock violation)
    var entries: DataFrame =
      q0.select(col("query_id"), explode(lit(Array(entryId))).as("nid"))
    for (l <- maxLevel to 1 by -1) {
      // one round per upper layer, expanded `expandUpper` hops deep: the
      // layer is a p^-l sample, so a 2-hop ball there covers p²× the
      // base-graph span for the SAME single barrier — the log-diameter
      // descent; candidate volume is capped by the layer size itself
      entries = walkBeam(
        layers.filter(col("layer") === l).select(col("src"), col("dst")),
        corpus, queries, idCol, vecCol, entries,
        beamUpper, hops = 1, cutLineage, expandHops = expandUpper)
    }
    graphSearchFrom(
      layers.filter(col("layer") === 0).select(col("src"), col("dst")),
      corpus, queries, idCol, vecCol, entries,
      beamBase, hopsBase, topK, cutLineage, expandHops)
  }

  /** [[layeredSearch]] under a metadata predicate — filtered serve for
    * the LAYERED tier (VERDICT r14 #5: predicate + churn hit the SAME
    * index in real deployments; r14 only had the flat
    * [[graphSearchWhere]]). Same post-filter contract: the descent
    * navigates every layer UNRESTRICTED (upper layers are navigation
    * scaffolding — restricting them strands queries before they even
    * reach the base layer), and the predicate lands as ONE keyed
    * semi-join on the FINAL base beam before ranking. Over-fetch dial:
    * with predicate selectivity s, set `beamBase ≳ topK / s`. The upper
    * rounds are untouched, so the filtered descent costs exactly the
    * unfiltered descent plus one semi-join on beamBase rows per query.
    */
  def layeredSearchWhere(layers: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, maxLevel: Int,
      entryId: Long, allowed: DataFrame, beamUpper: Int = 8,
      beamBase: Int = 16, hopsBase: Int = 1, topK: Int = 5,
      expandHops: Int = 2, expandUpper: Int = 2,
      cutLineage: Boolean = true): DataFrame = {
    require(maxLevel >= 1, s"bad maxLevel $maxLevel")
    require(beamBase >= topK, s"beamBase $beamBase must cover topK $topK")
    val q0 = queries.select(col(idCol).cast("long").as("query_id"))
    var entries: DataFrame =
      q0.select(col("query_id"), explode(lit(Array(entryId))).as("nid"))
    for (l <- maxLevel to 1 by -1)
      entries = walkBeam(
        layers.filter(col("layer") === l).select(col("src"), col("dst")),
        corpus, queries, idCol, vecCol, entries,
        beamUpper, hops = 1, cutLineage, expandHops = expandUpper)
    // cutFinal=false invariant: the base beam is consumed EXACTLY ONCE
    // (the single semi-join + rankTopK chain below)
    val beam = walkBeam(
      layers.filter(col("layer") === 0).select(col("src"), col("dst")),
      corpus, queries, idCol, vecCol, entries,
      beamBase, hopsBase, cutLineage, expandHops, cutFinal = false)
    rankTopK(beam
      .filter(col("query_id") =!= col("nid"))
      .join(allowed.select(col(idCol).cast("long").as("nid")),
        Seq("nid"), "left_semi")
      .select(col("query_id"), col("nid").as("neighbor_id"), col("cos")),
      topK)
  }

  /** [[graphDelete]] for the LAYERED index — the full HNSW deletion rule
    * (VERDICT r14 #5): a tombstoned node is a member of every layer
    * ℓ ≤ its level (cumulative membership), so it must leave — and be
    * bridge-repaired in — EVERY layer it belongs to, independently.
    * [[graphDelete]] is the per-layer kernel: ids absent from a layer
    * simply have no edges there, so passing the whole tombstone set to
    * every layer is a no-op for non-members. Output: the repaired
    * (layer, src, dst) table.
    *
    * Scale shape: per layer, the [[graphDelete]] economics (two
    * anti-joins on that layer's slice, Σ degree² bridge candidates);
    * upper layers are geometrically smaller, so the whole maintenance
    * pass costs ≤ 1/(p-1) more than the base deletion.
    */
  def layeredDelete(layers: DataFrame, corpus: DataFrame,
      deleted: DataFrame, idCol: String, vecCol: String, maxLevel: Int,
      kLink: Int = 4): DataFrame =
    (0 to maxLevel).map { l =>
      graphDelete(
          layers.filter(col("layer") === l).select(col("src"), col("dst")),
          corpus, deleted, idCol, vecCol, kLink)
        .withColumn("layer", lit(l))
        .select(col("layer"), col("src"), col("dst"))
    }.reduce(_.unionByName(_))

  /** NSW incremental insert (Malkov & Yashunin 2016 §4 alg. 1, the
    * insert rule that makes the graph tier maintainable without a full
    * [[nnDescent]] rebuild): each new vector SEARCHES the existing graph
    * for its `kLink` nearest members ([[graphSearch]] over the standing
    * adjacency — new vectors never scan the corpus) and links to them
    * BIDIRECTIONALLY (the same symmetrization [[serveGraph]] applies at
    * build). Returns the updated adjacency (old edges ∪ new edges).
    *
    * Batch semantics: every vector in `batch` searches the PRE-batch
    * graph — batch members do not link to each other. Feeding arrivals
    * through in micro-batches therefore grows the graph incrementally
    * (later batches can link to earlier inserts), and a sequential fold
    * of this function over the same splits is EXACTLY what the streaming
    * path computes — the stream≡batch contract Round14GraphSpec pins.
    *
    * Scale shape: the search is the corpus-size-insensitive walk
    * (O(beam·degree^e·hops) per insert); edge construction is two
    * projections + distinct over |batch|·kLink rows; the old adjacency
    * is UNIONED, never shuffled — at 100 TB the standing edge table
    * stays where it is (an append-only file set) and only the new edges
    * move.
    */
  def graphInsert(graph: DataFrame, corpus: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, kLink: Int = 4,
      entryIds: Seq[Long] = Seq(0L), beamWidth: Int = 16, hops: Int = 2,
      expandHops: Int = 2, cutLineage: Boolean = true,
      maxWalkBatch: Int = 512): DataFrame =
    graph.select(col("src").cast("long"), col("dst").cast("long"))
      .unionByName(graphInsertEdges(graph, corpus, batch, idCol, vecCol,
        kLink, entryIds, beamWidth, hops, expandHops, cutLineage,
        maxWalkBatch))

  /** Just the NEW edges of [[graphInsert]] — the append set a streaming
    * maintainer writes to the standing adjacency files. Output:
    * (src, dst), both directions, deduped.
    *
    * `maxWalkBatch` bounds the number of vectors walked PER SEARCH: a
    * larger batch is split into ⌈n/maxWalkBatch⌉ hash-keyed chunks, each
    * searching the SAME pre-batch graph sequentially. Result-identical to
    * the monolithic walk (chunk membership never affects which graph a
    * vector searches, so the linked edge set is the same) — but the walk's
    * per-hop candidate volume, batch × beam × degreeᵉˣᵖᵃⁿᵈ rows, is bounded
    * by the CHUNK size instead of the arrival size. Measured at sf1
    * (20k-node graph, 2,000-vector batch, beam 32): the monolithic walk's
    * ~37M-row hop frontiers spill past executor memory (77 s); the same
    * inserts as bounded micro-batches cost 24.7 s INCLUDING streaming
    * machinery (stream_graph_ingest) — the operator must self-bound
    * because insert batches are sized by arrival data, not by a caller's
    * serving contract.
    */
  def graphInsertEdges(graph: DataFrame, corpus: DataFrame,
      batch: DataFrame, idCol: String, vecCol: String, kLink: Int = 4,
      entryIds: Seq[Long] = Seq(0L), beamWidth: Int = 16, hops: Int = 2,
      expandHops: Int = 2, cutLineage: Boolean = true,
      maxWalkBatch: Int = 512, knownCount: Option[Long] = None): DataFrame = {
    require(kLink >= 1 && kLink <= beamWidth,
      s"kLink $kLink must be within beamWidth $beamWidth")
    require(maxWalkBatch >= 1, s"bad maxWalkBatch $maxWalkBatch")
    // a caller that already counted the batch (the streaming maintainer's
    // emptiness probe, the layered inserter's one-job level histogram)
    // passes the count in instead of paying a second count job
    val n = knownCount.getOrElse(batch.count())
    val found =
      if (n <= maxWalkBatch)
        graphSearch(graph, corpus, batch, idCol, vecCol, entryIds,
          beamWidth, hops, kLink, cutLineage, expandHops)
      else {
        val nChunks = ((n + maxWalkBatch - 1) / maxWalkBatch).toInt
        // cut the batch's lineage once so the per-chunk filters re-read a
        // materialized table instead of recomputing upstream work nChunks
        // times; the batch is arrival-bounded, never corpus-scale
        val keyed = Lineage.cut(batch
          .withColumn("__chunk", pmod(xxhash64(col(idCol)), lit(nChunks))))
        val parts = (0 until nChunks).map { i =>
          // cutFinal=true (ADVICE r16): with the final round ALSO cut,
          // every lineage cut inside graphSearch executes eagerly, so
          // this map runs the chunks SEQUENTIALLY — one bounded frontier
          // at a time, never nChunks final-hop frontiers (batch × beam ×
          // degree^expandHops rows — the measured sf1 spill case) stacked
          // into the single action that consumes the union
          graphSearch(graph, corpus,
            keyed.filter(col("__chunk") === i).drop("__chunk"),
            idCol, vecCol, entryIds, beamWidth, hops, kLink, cutLineage,
            expandHops, cutFinal = cutLineage)
        }
        val all = parts.reduce(_.unionByName(_))
        // with cuts on, every chunk's walk has already executed (the cut
        // beams carry the data) — the batch blocks can go now; with cuts
        // off (plan-lock specs) the union is still lazy over `keyed`
        if (cutLineage) Lineage.release(keyed)
        all
      }
    // one-pass symmetrization (ADVICE r16): emit both directions from a
    // single scan of `found` via explode instead of found ∪ reverse(found)
    // — the self-union referenced the (uncut, consumed-once) walk result
    // twice, re-executing its post-shuffle work per reference (exchange
    // reuse dedupes only at exchange boundaries). Same edge set.
    symmetrize(found.select(col("query_id").as("src"),
      col("neighbor_id").as("dst")))
  }

  /** Both directions of an edge list, deduped — ONE scan of the input
    * (explode of a 2-struct array), not edges ∪ reverse(edges): the
    * self-union form evaluates the input subtree twice, which matters
    * when the input is an uncut consumed-once plan (nnDescent's final
    * round, an insert walk's rank). Output: (src, dst).
    */
  private def symmetrize(edges: DataFrame): DataFrame = edges
    .select(explode(array(
      struct(col("src"), col("dst")),
      struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
    .select(col("e.src").as("src"), col("e.dst").as("dst"))
    .distinct()

  /** [[graphInsert]] for the LAYERED index (the full HNSW insert rule):
    * each new vector draws its deterministic [[layerLevel]] and, for
    * every layer ℓ ≤ level, searches THAT layer's adjacency for its
    * `kLink` nearest members and links bidirectionally — so the
    * hierarchy keeps its invariants under maintenance (upper layers stay
    * p^-ℓ samples because the level draw is the same id-deterministic
    * geometric; cumulative membership because a level-ℓ node links into
    * every layer below). Returns the updated (layer, src, dst) table.
    *
    * Each layer's insert is one [[graphInsertEdges]] walk over that
    * layer's slice — upper layers are geometrically smaller, so the
    * whole maintenance pass costs ≤ 1/(p-1) more than the base insert.
    */
  def layeredInsert(layers: DataFrame, corpus: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, maxLevel: Int, p: Int = 4,
      kLink: Int = 4, beamWidth: Int = 16,
      hops: Int = 2, expandHops: Int = 2,
      cutLineage: Boolean = true, maxWalkBatch: Int = 512): DataFrame =
    layers.unionByName(layeredInsertEdges(layers, corpus, batch, idCol,
      vecCol, maxLevel, p, kLink, beamWidth, hops, expandHops, cutLineage,
      maxWalkBatch))

  /** Just the NEW (layer, src, dst) edges of [[layeredInsert]] — the
    * append set a streaming maintainer writes to the layer-partitioned
    * standing adjacency.
    */
  def layeredInsertEdges(layers: DataFrame, corpus: DataFrame,
      batch: DataFrame, idCol: String, vecCol: String, maxLevel: Int,
      p: Int = 4, kLink: Int = 4, beamWidth: Int = 16,
      hops: Int = 2, expandHops: Int = 2,
      cutLineage: Boolean = true, maxWalkBatch: Int = 512): DataFrame = {
    val leveled = batch.withColumn("__lvl",
      layerLevel(col(idCol), p, maxLevel))
    // Driver-probe diet (guide §2.4/§5): the per-layer emptiness probes
    // (one isEmpty job per layer) collapse into ONE level-histogram job —
    // level-ℓ insert count = Σ counts[lvl ≥ ℓ] (membership is cumulative)
    // — and the per-layer entry lookups (one min() job per layer) into
    // ONE grouped aggregate over the whole layer table. Both aggregates
    // are k-bounded (maxLevel+1 rows), never corpus-scale.
    val lvlCounts: Map[Int, Long] = leveled
      .groupBy(col("__lvl").cast("int").as("l")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val layerEntries: Map[Int, Long] = layers
      .groupBy(col("layer").cast("int").as("l"))
      .agg(min(col("src").cast("long")).as("e"))
      .collect().collect { case r if !r.isNullAt(1) =>
        r.getInt(0) -> r.getLong(1) }.toMap
    (0 to maxLevel).foldLeft(Option.empty[DataFrame]) { (acc, l) =>
      val subCount = (l to maxLevel).map(lvlCounts.getOrElse(_, 0L)).sum
      // the walk's entry must be a MEMBER of this layer (a base-layer
      // entry id has no out-edges in an upper slice and the walk would
      // stall on it) — the deterministic min-id [[layeredEntry]] pick. A
      // layer slice with NO edges (tiny corpus / over-tall maxLevel) has
      // nothing to search — skip it rather than NPE on a missing min
      if (subCount == 0L || !layerEntries.contains(l)) acc
      else {
        val sub = leveled.filter(col("__lvl") >= l).drop("__lvl")
        val adj = layers.filter(col("layer") === l).select(col("src"), col("dst"))
        val edges = graphInsertEdges(adj, corpus, sub, idCol, vecCol,
            kLink, Seq(layerEntries(l)), beamWidth, hops, expandHops,
            cutLineage, maxWalkBatch, knownCount = Some(subCount))
          .withColumn("layer", lit(l))
          .select(col("layer"), col("src"), col("dst"))
        Some(acc.map(_.unionByName(edges)).getOrElse(edges))
      }
    }.getOrElse(
      layers.filter(lit(false)).select(col("layer"), col("src"), col("dst")))
  }

  /** Filtered graph serve — the "vector search WHERE metadata predicate"
    * shape every serving deployment grows into: the walk navigates the
    * UNRESTRICTED graph (restricting navigation to the allowed subset
    * strands queries — the filtered-HNSW folklore result; the graph's
    * connectivity is a property of the whole corpus) and the predicate
    * is applied as a keyed semi-join on the final beam before ranking.
    * Post-filter over-fetch contract: with predicate selectivity s, set
    * `beamWidth ≳ topK / s` so the filtered beam still covers topK —
    * the caller-visible dial, same economics as FAISS's
    * `IndexIDMap`+selector serving. `allowed` is an id set (one column,
    * `idCol`) — relational, so the predicate can be any DataFrame the
    * caller derives (source gates, freshness windows, tenant scopes).
    */
  def graphSearchWhere(graph: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      entryIds: Seq[Long], allowed: DataFrame,
      beamWidth: Int, hops: Int, topK: Int,
      cutLineage: Boolean = true, expandHops: Int = 1): DataFrame = {
    require(beamWidth >= topK, s"beamWidth $beamWidth must cover topK $topK")
    val q0 = queries.select(col(idCol).cast("long").as("query_id"))
    val entries = q0.select(col("query_id"),
      explode(lit(entryIds.toArray)).as("nid"))
    // cutFinal=false invariant: the beam is consumed EXACTLY ONCE (the
    // single semi-join + rankTopK chain below)
    val beam = walkBeam(graph, corpus, queries, idCol, vecCol, entries,
      beamWidth, hops, cutLineage, expandHops, cutFinal = false)
    rankTopK(beam
      .filter(col("query_id") =!= col("nid"))
      .join(allowed.select(col(idCol).cast("long").as("nid")),
        Seq("nid"), "left_semi")
      .select(col("query_id"), col("nid").as("neighbor_id"), col("cos")),
      topK)
  }

  /** Graph DELETION with bridge repair — the third leg of index
    * maintenance (build = [[nnDescent]], insert = [[graphInsert]]):
    * tombstoned ids are removed from the adjacency, and the hole each
    * deletion leaves is BRIDGED by connecting the deleted node's
    * surviving neighbors to each other (the standard HNSW repair rule —
    * without it, deletions fragment the graph and recall decays with
    * churn). Bridge candidates are the per-deleted-node neighbor pairs
    * (≤ degree² ≤ (2k)² per deletion, bounded), scored exactly, and
    * kept top-`kLink` per surviving endpoint (cos desc, id asc —
    * deterministic), then symmetrized. Output: the repaired (src, dst)
    * adjacency.
    *
    * Scale shape: two anti-joins on the edge table (the only scan of the
    * standing adjacency), one keyed self-join THROUGH the deleted node
    * (volume Σ degree², never corpus-wide), two vector-table joins to
    * score, one bounded top-k. At 100 TB deletions are a trickle against
    * a bucketed edge table — nothing corpus-sized moves.
    */
  def graphDelete(adj: DataFrame, corpus: DataFrame, deleted: DataFrame,
      idCol: String, vecCol: String, kLink: Int = 4): DataFrame = {
    val del = deleted.select(col(idCol).cast("long").as("vid"))
    val e = adj.select(col("src").cast("long"), col("dst").cast("long"))
    val kept = e
      .join(del.select(col("vid").as("src")), Seq("src"), "left_anti")
      .join(del.select(col("vid").as("dst")), Seq("dst"), "left_anti")
    // surviving neighbors of each deleted node: x deleted, n survives
    val nb = e
      .join(del.select(col("vid").as("src")), Seq("src"), "left_semi")
      .join(del.select(col("vid").as("dst")), Seq("dst"), "left_anti")
      .select(col("src").as("x"), col("dst").as("n"))
    val vecs = corpus.select(col(idCol).cast("long").as("nid"),
      col(vecCol).cast("array<double>").as("v"))
    val cand = nb.select(col("x"), col("n").as("a"))
      .join(nb.select(col("x"), col("n").as("b")), "x")
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b")).distinct()
    val scored = cand
      .join(vecs.select(col("nid").as("a"), col("v").as("av")), "a")
      .join(vecs.select(col("nid").as("b"), col("v").as("bv")), "b")
      .select(col("a"), col("b"), Fns.cosineSim(col("av"), col("bv")).as("cos"))
    val bridges = scored.groupBy("a")
      .agg(Fns.topKByScore(col("cos"), col("b"), kLink).as("top"))
      .select(col("a").as("src"), explode(col("top")).as("t"))
      .select(col("src"), col("t.id").as("dst"))
    val sym = bridges.unionByName(
      bridges.select(col("dst").as("src"), col("src").as("dst")))
    kept.unionByName(sym).distinct()
  }

  /** Two-stage ADC serve with exact re-ranking (the FAISS `IndexRefine`
    * pattern — the deployment answer to "PQ distances are approximate"):
    * the PQ-ADC pass produces a `shortlist`-deep candidate set per query
    * (cheap — m byte-code lookups per corpus vector), then ONLY those
    * shortlist rows are re-scored with exact cosine against the raw
    * vectors and re-ranked to topK. Serving cost =
    * ADC-scan + |queries|·shortlist exact scores instead of a full exact
    * scan; recall approaches exact as `shortlist` grows (the caller's
    * quality/cost dial). Output: (query_id, rank, neighbor_id, cos).
    */
  def pqAdcRerank(encoded: DataFrame, books: Seq[Seq[(Int, Seq[Double])]],
      k: Int, corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, shortlist: Int, topK: Int): DataFrame = {
    require(shortlist >= topK,
      s"shortlist $shortlist must cover topK $topK")
    val short = pqAdcTopK(encoded, books, k, queries, idCol, vecCol,
        shortlist)
      .select(col("query_id"), col("neighbor_id").as("nid"))
    val vecs = corpus.select(col(idCol).cast("long").as("nid"),
      col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    rankTopK(short
      .join(q, "query_id").join(vecs, "nid")
      .select(col("query_id"), col("nid").as("neighbor_id"),
        Fns.cosineSim(col("qv"), col("cv")).as("cos")),
      topK)
  }

  /** [[pqAdcRerank]] with the codebooks trained in-query (the oracle-
    * harness shape, mirroring [[pqTopK]]).
    */
  def pqRerankTopK(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, m: Int, k: Int, shortlist: Int,
      topK: Int): DataFrame = {
    val books = pqCodebooks(emb, idCol, vecCol, m, k)
    pqAdcRerank(pqEncode(emb, idCol, vecCol, books), books, k, emb,
      queries, idCol, vecCol, shortlist, topK)
  }

  /** Diverse neighbor selection — HNSW's SELECT-NEIGHBORS-HEURISTIC
    * (Malkov & Yashunin 2016, Algorithm 4; the relative-neighborhood-
    * graph prune every production HNSW applies at build): per node,
    * scan its candidate out-edges in rank order (cos to the node desc,
    * id asc) and KEEP a candidate only if it is closer to the node than
    * to every already-kept neighbor — redundant same-direction edges are
    * dropped, so a degree budget of `m` buys edges that span DISTINCT
    * directions. The payoff is at serve time: per-hop candidate volume
    * is O(beam·degree^expand), so halving degree at held navigability
    * halves every walk's work.
    *
    * Execution is the greedy unrolled by SELECTION (not by candidate):
    * selected₁ = rank-1; selectedₜ = the minimum-rank candidate ranked
    * above selectedₜ₋₁ that is closer to the node than to ALL of
    * selected₁..ₜ₋₁ — provably the same set as the per-candidate scan,
    * because a candidate's admission test quantifies over exactly the
    * selected set below its own rank. m-1 rounds, each ONE keyed join of
    * the ranked candidates against the ≤(t-1)-row-per-node selected set
    * (volume ≤ Σ degree·t — bridge-candidate economics, never
    * corpus-wide), one exact re-score, one bounded argmin. Build-time
    * refinement: run once after [[nnDescent]]+[[serveGraph]], persist
    * the pruned adjacency as the standing index.
    *
    * Output: the kept DIRECTED edges (src, dst), out-degree ≤ m;
    * symmetrize with [[serveGraph]]'s one-pass reverse for serving (the
    * HNSW bidirectional-link rule applies after pruning too).
    *
    * CONSUMED-ONCE CONTRACT: the final selection round is left uncut —
    * same single-action rule as [[nnDescent]].
    */
  def rngPrune(adj: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, m: Int): DataFrame = {
    require(m >= 1, s"bad m $m")
    val vecs = corpus.select(col(idCol).cast("long").as("nid"),
      col(vecCol).cast("array<double>").as("v"))
    // each selection round re-reads the ranking
    val ranked = Lineage.cut(adj
      .select(col("src").cast("long"), col("dst").cast("long")).distinct()
      .join(vecs.select(col("nid").as("src"), col("v").as("qv")), "src")
      .join(vecs.select(col("nid").as("dst"), col("v").as("cv")), "dst")
      .select(col("src"), col("dst"), col("cv"),
        Fns.cosineSim(col("qv"), col("cv")).as("cosq"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("src").orderBy(col("cosq").desc, col("dst")))))
    var sel = Lineage.cut(ranked.filter(col("rk") === 1)
      .select(col("src"), col("dst").as("sid"), col("cv").as("sv"),
        col("rk").as("srk")))
    for (round <- 2 to m) {
      // pass = candidate closer to the node than to EVERY selected
      // neighbor (cos to node > cos to each selected — the cosine
      // rendering of Alg. 4's distance test); `last` gates the scan
      // order (only candidates ranked below the latest selection are
      // still unconsidered)
      val verdicts = ranked.join(sel, "src")
        .groupBy(col("src"), col("dst"), col("rk"))
        .agg(
          min(when(col("cosq") > Fns.cosineSim(col("cv"), col("sv")), 1L)
            .otherwise(0L)).as("pass"),
          max(col("srk")).as("last"))
        .filter(col("pass") === 1L && col("rk") > col("last"))
      val next = verdicts.groupBy("src").agg(min("rk").as("rk"))
        .join(ranked, Seq("src", "rk"))
        .select(col("src"), col("dst").as("sid"), col("cv").as("sv"),
          col("rk").as("srk"))
      val merged = sel.unionByName(next)
      // intermediate rounds re-read `sel` (twice per round) — cut; the
      // FINAL round's selection is consumed exactly once by the caller's
      // action, so its checkpoint job is pure overhead (guide §2.4)
      sel = if (round == m) merged else Lineage.cut(merged)
    }
    sel.select(col("src"), col("sid").as("dst"))
  }

  /** Plane-count sizing for [[knnJoin]]/[[lshTopK]]: candidate volume is
    * Σ(bucket²) ≈ n²/2^numPlanes, so a CONSTANT plane count grows
    * quadratically with the corpus — measured live: a pinned numPlanes=6
    * scaled 28× on a 10× corpus. numPlanes = ⌈log₂(n / targetBucket)⌉
    * keeps expected occupancy — and with it the per-vector candidate
    * count — constant as the corpus grows (the [[graft.operators.Dedup.semanticDedupNLists]]
    * contract, same reasoning).
    */
  def lshNumPlanes(n: Long, targetBucketSize: Long = 64L): Int = {
    require(targetBucketSize > 0, s"targetBucketSize must be positive")
    val raw = math.ceil(math.log(n.toDouble.max(1.0) / targetBucketSize) /
      math.log(2.0)).toInt
    math.min(30, math.max(1, raw))
  }

  /** [[knnJoin]] with the plane count sized from the corpus itself via
    * [[lshNumPlanes]] — one extra `count()` job, the price of a candidate
    * volume that stays ≈ n·targetBucket (linear) at any corpus size.
    *
    * Pipeline-order contract (measured on the 100× duplication corpus,
    * SCALE.md round-8): NO plane count can split IDENTICAL vectors —
    * every copy shares every hyperplane sign, so bucket occupancy has a
    * floor of the duplication depth and candidate volume gains a ×dup²
    * term. Run exact/near dedup BEFORE similarity search (the
    * `pipeline_training_prep` order); plane sizing then does its job on
    * the distinct vectors.
    */
  def knnJoinAuto(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      targetBucketSize: Long = 64L): DataFrame =
    knnJoin(corpus, idCol, vecCol,
      lshNumPlanes(corpus.count(), targetBucketSize), k)

  /** LSH top-k: rank only candidates sharing the query's bucket.
    * Output: (query_id, rank, neighbor_id, cos) — recall depends on
    * numPlanes (fewer planes → bigger buckets → higher recall, more work).
    */
  def lshTopK(corpus: DataFrame, queryIds: DataFrame, idCol: String,
      vecCol: String, numPlanes: Int, k: Int): DataFrame = {
    val buckets = hyperplaneBuckets(corpus, idCol, vecCol, numPlanes)
    val withB = corpus.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .join(buckets, "vid")
    val q = withB.join(queryIds.select(col(idCol).as("vid")), Seq("vid"), "left_semi")
      .select(col("vid").as("query_id"), col("v").as("qv"), col("bucket"))
    val scored = withB
      .select(col("vid").as("neighbor_id"), col("v").as("cv"), col("bucket"))
      .join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Fns.cosineSim(col("qv"), col("cv")))
    rankTopK(scored, k)
  }

  /** Dimensions above which [[quantizeInt8]] refuses to materialize the
    * per-dimension range table to the driver — far above any embedding
    * model's output width; the guard keeps the IVF-centroid driver-
    * materialization contract explicit.
    */
  val MaxQuantDims: Int = 4096

  /** Scalar int8 quantization of an embedding column — the memory-side
    * scale lever for 100 TB ANN (4× smaller vectors than float32, 8×
    * smaller than the double math): per-DIMENSION global [min, max] maps
    * each value to a code in 0..255 via `floor((x-mn)·255/range + 0.5)`;
    * `deq` is the dequantized double view (`mn + code·range/255`) that
    * feeds any cosine ranker unchanged. Constant dimensions quantize to
    * code 0 and dequantize to their constant. Every arithmetic step is a
    * fixed-order IEEE double expression, so codes are engine-portable
    * (oracle-checkable) and reproducible.
    *
    * Scale shape: the range table is ONE map-side-combined per-dimension
    * agg materialized to the driver — bounded by vector width (≤
    * [[MaxQuantDims]], the IVF-centroid contract) — and comes back as
    * literal arrays, so the corpus pass is a zero-join, zero-shuffle
    * projection. Output: (id, codes, deq).
    */
  /** The int8 quantizer's per-dimension (min, range) table — the
    * driver-held "trained" state of the scalar quantizer, exposed so a
    * serving path can build the code table ONCE, persist only codes +
    * this table, and dequantize on read ([[int8Dequantize]]).
    */
  def int8Ranges(emb: DataFrame, idCol: String, vecCol: String)
      : (Array[Double], Array[Double]) = {
    val v = emb.select(col(vecCol).cast("array<double>").as("v"))
    // CHEAP width precheck before any corpus work: "refuses to
    // materialize" must mean refusing BEFORE the full posexplode
    // aggregation runs, not after — one LIMIT-1 probe of the array size
    // catches a non-embedding-shaped column for the cost of one row
    v.select(size(col("v")).as("w")).limit(1).collect().foreach { r =>
      val w = r.getInt(0)
      require(w <= MaxQuantDims,
        s"refusing to quantize $w-dim vectors (> $MaxQuantDims): " +
          "not an embedding-shaped column")
    }
    val ranges = v.select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(ranges.length <= MaxQuantDims,
      s"refusing to quantize ${ranges.length}-dim vectors (> $MaxQuantDims): " +
        "not an embedding-shaped column — ragged arrays wider than the probe row")
    (ranges.map(_._2), ranges.map(r => r._3 - r._2))
  }

  /** Dequantized double view of a MATERIALIZED int8 code table — the
    * serving-side read path: `mn + code·range/255` as a zero-shuffle
    * projection over (id, codes), appended as `deq`.
    */
  def int8Dequantize(coded: DataFrame, mins: Array[Double],
      ranges: Array[Double]): DataFrame = {
    val mnLit = array(mins.map(lit(_)): _*)
    val rgLit = array(ranges.map(lit(_)): _*)
    coded.withColumn("deq", transform(col("codes"), (c, i) =>
      element_at(mnLit, i + 1) +
        c.cast("double") * element_at(rgLit, i + 1) / lit(255.0)))
  }

  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val (mins, rgs) = int8Ranges(emb, idCol, vecCol)
    val mnLit = array(mins.map(lit(_)): _*)
    val rgLit = array(rgs.map(lit(_)): _*)
    def mn(i: Column) = element_at(mnLit, i + 1)
    def rg(i: Column) = element_at(rgLit, i + 1)
    v.select(col("id"),
        transform(col("v"), (x, i) =>
          when(rg(i) === 0d, lit(0)).otherwise(
            least(lit(255), greatest(lit(0),
              floor((x - mn(i)) * lit(255.0) / rg(i) + lit(0.5)).cast("int")))))
          .as("codes"))
      .withColumn("deq", transform(col("codes"), (c, i) =>
        mn(i) + c.cast("double") * rg(i) / lit(255.0)))
  }

  /** Sign-bit BINARY quantization — the third memory rung after
    * [[quantizeInt8]] (×4) and PQ (×32): ONE bit per dimension, so a
    * 64-dim float32 vector becomes 8 bytes (×32) and similarity becomes
    * Hamming distance over machine words. Bits pack into 32-bit WORDS
    * (held as longs): a single 64-bit word would need 2^63 for the top
    * bit, which overflows BIGINT arithmetic in both engines — the
    * 32-bit-word layout keeps every value < 2^32, portable to the
    * oracle's integer fold, and generalizes to any d ≡ 0 (mod 32).
    * Word w bit b = 1 iff v[32w + b] > 0; packing is an integer
    * doubling fold (acc·2 + indicator, b descending), no shifts needed.
    * Output: (id, words: array<bigint>). Pure projection, zero shuffles.
    */
  def binaryQuantize(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val d = v.select(size(col("v")).as("w")).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    require(d > 0 && d % 32 == 0 && d <= MaxQuantDims,
      s"binary quantization needs 0 < d ≤ $MaxQuantDims with d ≡ 0 (mod " +
        s"32), got $d — pad the embedding upstream")
    val nw = d / 32
    v.select(col("id"),
      transform(sequence(lit(0), lit(nw - 1)), w =>
        aggregate(sequence(lit(31), lit(0), lit(-1)), lit(0L), (acc, b) =>
          acc * 2L + when(element_at(col("v"), w * 32 + b + 1) > 0d, 1L)
            .otherwise(0L))).as("words"))
  }

  /** Hamming top-k over binary codes: distance = Σ_w bit_count(q_w XOR
    * c_w) — the [[binaryQuantize]] serving path. Queries broadcast
    * (bounded batch), the corpus side reads only (id, words) = 8 bytes
    * per 64-dim vector, ranking is the bounded [[Fns.topKByScore]]
    * aggregate (score = d − hamming so higher is better; ties by
    * ascending neighbor id) — zero corpus shuffles, O(queries×k)
    * exchange. Output: (query_id, rank, neighbor_id, hamming).
    */
  def hammingTopK(codes: DataFrame, queryCodes: DataFrame, d: Int,
      k: Int): DataFrame = {
    val q = queryCodes.select(col("id").as("query_id"), col("words").as("qw"))
    val c = codes.select(col("id").as("neighbor_id"), col("words").as("cw"))
    val dist = aggregate(
      zip_with(col("qw"), col("cw"), (a, b) => bit_count(a.bitwiseXOR(b))),
      lit(0), (acc, x) => acc + x)
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("ham", dist)
      .groupBy("query_id")
      .agg(Fns.topKByScore((lit(d) - col("ham")).cast("double"),
        col("neighbor_id").cast("long"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("query_id"), (col("r") + 1).cast("int").as("rank"),
        col("t.id").as("neighbor_id"),
        (lit(d) - col("t.score")).cast("int").as("hamming"))
  }

  /** Train product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search", §II: split each vector
    * into `m` subvectors and k-means each subspace independently; a
    * vector is then `m` one-byte codes instead of `dims` floats —
    * with [[quantizeInt8]] the two memory levers a 100 TB ANN index
    * actually ships). Deterministic protocol shared with
    * [[ivfAssignments]]: init centroid c of every subspace = the
    * subvector of the vector whose id is c (ids 0..k-1 must exist),
    * `iterations` Lloyd rounds with fold-order L2 assignment and
    * DECIMAL(38,18) means, clusters that lose all members drop.
    *
    * Scale shape: ONE corpus pass per Lloyd round — the subspace
    * posexplode carries each dimension exactly once, the (s, c) group-by
    * is map-side combined into m×k groups, and means come back to the
    * driver (m×k×dims/m doubles — the IVF-centroid materialization
    * contract). Returns per-subspace (c, center) books, c-ascending.
    */
  def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iterations: Int = 2): Seq[Seq[(Int, Seq[Double])]] = {
    val base = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val initRows = base.filter(col("id") < k)
      .select(col("id").cast("int"), col("v"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    require(initRows.nonEmpty, s"need vectors with ids 0..${k - 1} for init")
    val dims = initRows.head._2.length
    require(dims % m == 0, s"$dims dims not divisible into $m subspaces")
    val sub = dims / m
    var books: Seq[Seq[(Int, Seq[Double])]] = (0 until m).map(s =>
      initRows.toSeq.map { case (c, v) => (c, v.slice(s * sub, (s + 1) * sub)) })
    val subv = base.select(col("id"), posexplode(
        array((0 until m).map(s => slice(col("v"), s * sub + 1, sub)): _*))
      .as(Seq("s", "sv")))
    val sumCols = (0 until sub).map(d =>
      sum(element_at(col("sv"), d + 1).cast("decimal(38,18)")).as(s"s_$d"))
    for (_ <- 0 until iterations) {
      val allBooks = array(books.map(pqBookLit): _*)
      val sums = subv
        .select(col("s"),
          centArgmin(element_at(allBooks, col("s") + 1), col("sv")).as("c"),
          col("sv"))
        .groupBy("s", "c").agg(count(lit(1)).as("n"), sumCols: _*)
        .collect()
      books = (0 until m).map { s =>
        sums.filter(_.getInt(0) == s).map { r =>
          val n = r.getAs[Long]("n").toDouble
          (r.getInt(1), (0 until sub).map(d => r.getDecimal(d + 3).doubleValue() / n))
        }.sortBy(_._1).toSeq
      }
    }
    books
  }

  /** One subspace book as a literal `array<struct<c,center>>` column,
    * c-ascending (the [[centArgmin]] fold/tie-break order).
    */
  private def pqBookLit(book: Seq[(Int, Seq[Double])]): Column =
    array(book.sortBy(_._1).map { case (c, ctr) =>
      struct(lit(c).as("c"), array(ctr.map(lit): _*).as("center")) }: _*)

  /** Encode every vector as `m` codebook codes — a pure zero-shuffle
    * projection (the books ride in as literal expressions), stream-safe.
    * Output: (id, codes array<int> of length m).
    */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
      books: Seq[Seq[(Int, Seq[Double])]]): DataFrame = {
    val m = books.size
    val sub = books.head.head._2.length
    emb.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .select(col("id"), array((0 until m).map(s =>
        centArgmin(pqBookLit(books(s)), slice(col("v"), s * sub + 1, sub))): _*)
        .as("codes"))
  }

  /** PQ top-k search by asymmetric distance (ADC — Jégou et al. 2011
    * §III): each query computes an m×k lookup table of exact
    * subvector-to-centroid distances once, and every corpus vector costs
    * m table lookups + m-1 adds instead of a dims-long float loop. The
    * approximation the memory win buys; measure it with [[recallEval]]
    * against [[bruteForceTopK]].
    *
    * Scale shape: train + encode as above; the LUT build is
    * |queries|×m×k against literal centers (queries broadcast); the
    * corpus side touches only (id, codes) — 1/32nd the bytes of the raw
    * vectors at m=8/d=64 — and the ranker is the bounded
    * map-side-combined top-k aggregate. Output: (query_id, rank,
    * neighbor_id, dist) — ascending approximate squared-L2.
    */
  def pqTopK(corpus: DataFrame, queryIds: DataFrame, idCol: String,
      vecCol: String, m: Int, k: Int, topK: Int,
      iterations: Int = 2): DataFrame = {
    val books = pqCodebooks(corpus, idCol, vecCol, m, k, iterations)
    pqTopK(corpus, queryIds, idCol, vecCol, books, k, topK)
  }

  /** Serving-path variant of [[pqTopK]]: rank against PRE-TRAINED books
    * (index built once with [[pqCodebooks]], amortized over every query
    * batch — the deployment shape; the in-query-training overload exists
    * for one-shot jobs and the oracle harness). Identical output.
    */
  def pqTopK(corpus: DataFrame, queryIds: DataFrame, idCol: String,
      vecCol: String, books: Seq[Seq[(Int, Seq[Double])]], k: Int,
      topK: Int): DataFrame = {
    val m = books.size
    val enc = pqEncode(corpus, idCol, vecCol, books)
    val q = corpus.select(col(idCol).cast("long").as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .join(queryIds.select(col(idCol).cast("long").as("query_id")),
        Seq("query_id"), "left_semi")
    val qLut = q.select(col("query_id"), pqLut(books, k, col("qv")).as("lut"))
    val scored = enc.join(broadcast(qLut), col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        pqAdc(m).as("dist"))
    rankByAscDist(scored, topK)
  }

  /** Flat-ADC serve over a PRE-ENCODED code table — the deepest point of
    * the build/serve split: [[pqTopK]]'s serving overload still encodes
    * the corpus per call, this one reads a MATERIALIZED (id, codes)
    * relation (e.g. [[IvfPqIndex.encoded]] written to parquet) and pays
    * only the LUT broadcast + ADC fold + bounded top-k per batch. The
    * corpus-side scan is m bytes of codes per vector — no raw vectors
    * anywhere in the serving plan.
    */
  def pqAdcTopK(encoded: DataFrame, books: Seq[Seq[(Int, Seq[Double])]],
      k: Int, queries: DataFrame, idCol: String, vecCol: String,
      topK: Int): DataFrame = {
    val m = books.size
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val qLut = q.select(col("query_id"), pqLut(books, k, col("qv")).as("lut"))
    val scored = encoded.select(col("id"), col("codes"))
      .join(broadcast(qLut), col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        pqAdc(m).as("dist"))
    rankByAscDist(scored, topK)
  }

  /** Per-query ADC lookup table as a column: slot c of subspace s = exact
    * L2(q_sub, center_{s,c}) against the LITERAL center; codes never
    * reference a dropped cluster, so empty slots are +inf.
    */
  private def pqLut(books: Seq[Seq[(Int, Seq[Double])]], k: Int,
      qv: Column): Column = {
    val m = books.size
    val sub = books.head.head._2.length
    def lutEntry(s: Int, c: Int): Column = books(s).find(_._1 == c) match {
      case Some((_, ctr)) =>
        Fns.l2Dist(slice(qv, s * sub + 1, sub), array(ctr.map(lit): _*))
      case None => lit(Double.MaxValue)
    }
    array((0 until m).map(s =>
      array((0 until k).map(c => lutEntry(s, c)): _*)): _*)
  }

  /** ADC fold over `lut`/`codes` columns in subspace order — the oracle
    * sums t_0 + t_1 + … the same way. The codegen'd [[Fns.adcScore]]
    * kernel replaces the interpreted element_at chain (same fold order,
    * same hashes); `m` rides only in the signature for doc symmetry.
    */
  private def pqAdc(m: Int): Column = {
    val _ = m
    Fns.adcScore(col("codes"), col("lut"))
  }

  /** Rank scored (query_id, neighbor_id, dist) ascending by distance via
    * the bounded top-k aggregate (score = −dist; ties → lower id).
    */
  private def rankByAscDist(scored: DataFrame, topK: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(Fns.topKByScore(-col("dist"), col("neighbor_id"), topK).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("query_id"), (col("r") + 1).cast("int").as("rank"),
        col("t.id").as("neighbor_id"), round(-col("t.score"), 4).as("dist"))

  /** IVF-PQ search — the layout production ANN indexes actually ship
    * (FAISS `IVFx,PQy` with `by_residual=false`: coarse inverted lists
    * prune the corpus to `nprobe` cells, PQ codes + ADC rank what's
    * left). Composes [[ivfAssignments]] (same coarse quantizer as
    * [[ivfTopK]]) with [[pqCodebooks]]/[[pqEncode]] on the RAW vectors —
    * the residual-encoding refinement changes the codebooks, not the
    * plan shape. Cost per query: nLists centroid distances + an ADC
    * scan of ~corpus·nprobe/nLists code rows; the corpus's raw vectors
    * are read only at index-build time.
    *
    * Scale shape: probe selection is the bounded nLists-per-query
    * window [[ivfTopK]] documents; the candidate join is
    * list-key-equi against the broadcast probe LUTs; the ranker is the
    * bounded top-k aggregate. Output: (query_id, rank, neighbor_id,
    * dist) — ascending approximate squared-L2.
    */
  /** A built IVF-PQ index: `encoded` = (id, codes, centroid) — the only
    * per-vector state a serving scan reads (m bytes of codes + a list
    * id; the raw vectors are gone) — plus the coarse `centroids` table,
    * the PQ `books`, and whether codes are residual-coded. Build once
    * with [[ivfPqBuild]], serve every query batch with [[ivfPqSearch]].
    */
  case class IvfPqIndex(encoded: DataFrame, centroids: DataFrame,
    books: Seq[Seq[(Int, Seq[Double])]], k: Int, byResidual: Boolean)

  /** Build the IVF-PQ index: coarse-quantize the corpus into `nLists`
    * inverted lists ([[ivfAssignments]]), then PQ-code each vector —
    * absolute, or as its DISPLACEMENT from the assigned centroid
    * (`byResidual=true`, the FAISS default: the same code budget spends
    * on a much smaller spread, so quantization error and ADC error drop
    * at identical index bytes).
    */
  def ivfPqBuild(corpus: DataFrame, idCol: String, vecCol: String,
      nLists: Int, m: Int, k: Int,
      byResidual: Boolean = false): IvfPqIndex = {
    val (assign, centroids) = ivfAssignments(corpus, idCol, vecCol, nLists)
    val assignL = assign.select(col(idCol).cast("long").as("id"), col("centroid"))
    val codeSrc =
      if (!byResidual) corpus.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("fv"))
      else corpus.select(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<double>").as("v"))
        .join(assignL, "id").join(broadcast(centroids), "centroid")
        .select(col("id"), zip_with(col("v"), col("center"), _ - _).as("fv"))
    val books = pqCodebooks(codeSrc, "id", "fv", m, k)
    val enc = pqEncode(codeSrc, "id", "fv", books).join(assignL, "id")
    IvfPqIndex(enc, centroids, books, k, byResidual)
  }

  /** Append a new vector batch to a built [[IvfPqIndex]] WITHOUT
    * retraining — the FAISS `add()` contract for a growing corpus: each
    * new vector is assigned to its nearest EXISTING coarse centroid (a
    * pure broadcast projection over the batch), PQ-coded with the
    * EXISTING books (displaced against its centroid when the index is
    * residual-coded), and unioned into `encoded`. The quantizers are
    * frozen, so (a) appended code rows are bit-identical to what the
    * same vectors would get from any other append order — append is
    * associative (Round11bOpsSpec proves append(append(i,B1),B2) ==
    * append(i, B1∪B2)) — and (b) [[ivfPqSearch]] serves old + new rows
    * through the identical plan.
    *
    * Scale shape: cost is one projection + one codebook-literal encode
    * over the NEW batch only; the existing corpus rows are untouched (no
    * rebuild, no shuffle of old rows — union is plan-level). The
    * centroid collect is bounded by nLists (the ivfAssignments
    * driver-bounded contract). Periodic retraining when drift accumulates
    * is a policy decision layered on [[ivfPqBuild]].
    */
  /** Frozen-quantizer code rows (id, codes, centroid) for a vector batch
    * as ONE pure literal-expression projection — the STREAM-SAFE form of
    * [[ivfPqAppend]]'s math: centroids and books are driver-bounded, so
    * they ride as literal arrays instead of a broadcast join, leaving no
    * join/aggregation at all (legal under any streaming output mode, and
    * a zero-shuffle projection in batch). Round13OpsSpec pins row
    * identity against [[ivfPqAppend]]'s join-based formulation; the
    * streaming ingest path ([[graft.streaming.StreamingAnn]]) is this
    * projection over a readStream.
    */
  def ivfPqCodeProjection(index: IvfPqIndex, batch: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    import batch.sparkSession.implicits._
    val cents: Seq[(Int, Seq[Double])] = index.centroids
      .select(col("centroid").cast("int"), col("center"))
      .as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
    val centArr = transform(
      lit(cents.map(_._1).toArray),
      (c, i) => struct(c.as("c"),
        element_at(typedLit(cents.map(_._2)), i + 1).as("center")))
    // centroid-ID-addressed slot table (ids may be sparse when a k-means
    // cell emptied): slot c+1 holds centroid c's center; gap slots hold
    // an empty array the argmin can never select
    val maxId = cents.map(_._1).max
    val byId = cents.toMap
    val centersByIdx = typedLit(
      (0 to maxId).map(i => byId.getOrElse(i, Seq.empty[Double])))
    val m = index.books.size
    val sub = index.books.head.head._2.length
    val assigned = batch
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("centroid", centArgmin(centArr, col("v")))
    val withFv =
      if (!index.byResidual) assigned.withColumn("fv", col("v"))
      else assigned.withColumn("fv",
        zip_with(col("v"),
          element_at(centersByIdx, col("centroid") + 1), _ - _))
    withFv.select(col("id"), array((0 until m).map(s =>
        centArgmin(pqBookLit(index.books(s)),
          slice(col("fv"), s * sub + 1, sub))): _*).as("codes"),
      col("centroid"))
  }

  def ivfPqAppend(index: IvfPqIndex, batch: DataFrame, idCol: String,
      vecCol: String): IvfPqIndex = {
    val spark = batch.sparkSession
    import spark.implicits._
    val cents: Seq[(Int, Seq[Double])] = index.centroids
      .select(col("centroid").cast("int"), col("center"))
      .as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
    val centArr = Seq(Tuple1(cents)).toDF("cents")
      .select(transform(col("cents"), s =>
        struct(s.getField("_1").as("c"), s.getField("_2").as("center"))).as("cents"))
    val assigned = batch
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .crossJoin(broadcast(centArr))
      .select(col("id"), col("v"), centArgmin(col("cents"), col("v")).as("centroid"))
    val codeSrc =
      if (!index.byResidual) assigned.withColumnRenamed("v", "fv")
      else assigned.join(broadcast(index.centroids), "centroid")
        .select(col("id"), zip_with(col("v"), col("center"), _ - _).as("fv"),
          col("centroid"))
    val enc = pqEncode(codeSrc, "id", "fv", index.books)
      .join(codeSrc.select(col("id"), col("centroid")), "id")
    val cols = index.encoded.columns.map(col).toSeq
    index.copy(encoded = index.encoded.unionByName(enc.select(cols: _*)))
  }

  /** Serve one query batch against a built [[IvfPqIndex]]: nprobe
    * nearest coarse centroids per query (bounded nLists-per-query
    * window), per-(query, probed-list) ADC LUTs broadcast, the pruned
    * code scan ranked by the bounded top-k aggregate. `queries` must
    * carry (`idCol`, `vecCol`) rows — typically the corpus filtered, or
    * a fresh batch.
    */
  def ivfPqSearch(index: IvfPqIndex, queries: DataFrame, idCol: String,
      vecCol: String, nprobe: Int, topK: Int): DataFrame = {
    val m = index.books.size
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val qCent = q.crossJoin(broadcast(index.centroids))
      .withColumn("dist", Fns.dotProduct(col("qv"), col("qv")) +
        Fns.dotProduct(col("center"), col("center")) -
        lit(2.0) * Fns.dotProduct(col("qv"), col("center")))
    val wq = Window.partitionBy("query_id").orderBy(col("dist"), col("centroid"))
    // residual LUTs are per (query, probed list): the query displaces
    // against EACH probed centroid before the table build
    val lutIn =
      if (!index.byResidual) pqLut(index.books, index.k, col("qv"))
      else pqLut(index.books, index.k,
        zip_with(col("qv"), col("center"), _ - _))
    val probes = qCent.withColumn("pr", row_number().over(wq))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("centroid"), lutIn.as("lut"))
    val scored = index.encoded.join(broadcast(probes), Seq("centroid"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        pqAdc(m).as("dist"))
    rankByAscDist(scored, topK)
  }

  /** One-shot IVF-PQ search: [[ivfPqBuild]] + [[ivfPqSearch]] in a
    * single call — the oracle-harness shape. Deployments build the
    * index once and call [[ivfPqSearch]] per batch.
    */
  def ivfPqTopK(corpus: DataFrame, queryIds: DataFrame, idCol: String,
      vecCol: String, nLists: Int, nprobe: Int, m: Int, k: Int,
      topK: Int, byResidual: Boolean = false): DataFrame = {
    val index = ivfPqBuild(corpus, idCol, vecCol, nLists, m, k, byResidual)
    val queries = corpus.join(queryIds.select(col(idCol)), Seq(idCol),
      "left_semi")
    ivfPqSearch(index, queries, idCol, vecCol, nprobe, topK)
  }

  /** Recall@k of an approximate ranker against exact ground truth: both
    * inputs are (query_id, rank, neighbor_id, …) result sets (e.g.
    * [[bruteForceTopK]] as `exact`, [[ivfTopK]]/[[lshTopK]] as `approx`).
    * Per query: hits = |exact ∩ approx| on neighbor_id, recall = hits/k —
    * the standard ANN quality dial (nprobe/numPlanes trade recall for
    * cost; this measures the trade). Queries whose approximate set is
    * empty score 0, not absent. One keyed join + one aggregation over
    * |queries|·k rows — evaluation is negligible next to the rankers.
    */
  def recallEval(exact: DataFrame, approx: DataFrame, k: Int): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits") / lit(k.toDouble), 4).as("recall"))

  /** Width cap for the rotation/covariance family: the moment matrix is
    * d² driver-side doubles and the pair explode is d(d+1)/2 rows per
    * vector — both quadratic in width, so the cap is far tighter than
    * [[MaxQuantDims]].
    */
  val MaxRotDims: Int = 256

  /** Upper-triangle second-moment matrix `M[i][j] = Σ_rows v_i·v_j` of an
    * embedding column — the DISTRIBUTED half of PCA/OPQ-style rotation
    * training (FAISS's `PCAMatrix`/`OPQ` pretransforms; Ge et al. 2013):
    * the corpus touches this one aggregation, and the bounded d×d
    * eigenproblem runs on the driver from its result.
    *
    * Exactness contract: each product is one IEEE double multiply
    * (identical in every engine), then cast to DECIMAL(38,18) BEFORE the
    * sum — decimal addition is exact and order-independent, so the
    * matrix hash-matches across engines and partitionings (the
    * IVF/PQ-means precedent). Output (i, j, n, sxx) with i ≤ j,
    * `sxx` rounded to 12 decimals as double.
    *
    * Scale shape: one pass, d(d+1)/2 rows per vector exploded into
    * d(d+1)/2 map-side-combined groups. Width-capped at [[MaxRotDims]]
    * by a LIMIT-1 probe before any corpus work; for 100 TB corpora run
    * it over a deterministic sample ([[Sampling.hashSplit]]) — moments
    * converge long before the full pass pays off.
    */
  def secondMoments(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = emb.select(col(vecCol).cast("array<double>").as("v"))
    v.select(size(col("v")).as("w")).limit(1).collect().foreach { r =>
      val w = r.getInt(0)
      require(w <= MaxRotDims,
        s"refusing rotation moments for $w-dim vectors (> $MaxRotDims): " +
          "the d^2 explode/driver matrix would not be bounded")
    }
    v.select(posexplode(col("v")).as(Seq("i", "xi")), col("v"))
      .select(col("i"), col("xi"), posexplode(col("v")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        sum((col("xi") * col("xj")).cast("decimal(38,18)")).as("sxx"))
      .select(col("i"), col("j"), col("n"),
        round(col("sxx"), 12).cast("double").as("sxx"))
  }

  /** Deterministic symmetric eigendecomposition by cyclic Jacobi sweeps —
    * fixed sweep count, fixed rotation order, no pivot search by
    * magnitude-with-ties ambiguity (row-major upper-triangle order), so
    * the basis is bit-reproducible for a given matrix. Returns
    * (eigenvalues desc, row-major eigenvector matrix aligned to them).
    */
  private[graft] def jacobiEigen(a0: Array[Array[Double]],
      sweeps: Int = 12): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val vMat = Array.tabulate(d, d)((r, c) => if (r == c) 1.0 else 0.0)
    var s = 0
    while (s < sweeps) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-14) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val th = math.abs(theta)
            val t0 = 1.0 / (th + math.sqrt(th * th + 1.0))
            val t = if (theta >= 0) t0 else -t0
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - sn * akq
              a(k)(q) = sn * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - sn * aqk
              a(q)(k) = sn * apk + c * aqk
              val vkp = vMat(k)(p); val vkq = vMat(k)(q)
              vMat(k)(p) = c * vkp - sn * vkq
              vMat(k)(q) = sn * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      s += 1
    }
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    (order.map(i => a(i)(i)).toArray,
      order.map(i => (0 until d).map(r => vMat(r)(i)).toArray).toArray)
  }

  /** PCA rotation learned from [[secondMoments]]: mean-center, project
    * onto the top `outDims` eigenvectors of the covariance, and (the
    * OPQ-flavored detail) INTERLEAVE components round-robin across PQ
    * subspaces — plain PCA concentrates variance in the first subspace,
    * which unbalances per-subspace k-means; round-robin assignment is
    * the deterministic stand-in for OPQ's learned balancing (FAISS's
    * "PCAR" shape without the random matrix, so runs reproduce).
    * Returns (meanVector, rotation rows×d) for [[pcaProject]].
    */
  def pcaTrain(emb: DataFrame, idCol: String, vecCol: String,
      outDims: Int, pqSubspaces: Int = 1): (Array[Double], Array[Array[Double]]) = {
    val mom = secondMoments(emb, idCol, vecCol)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val d = mom.keys.map(_._2).max + 1
    require(outDims > 0 && outDims <= d, s"outDims $outDims vs width $d")
    require(pqSubspaces > 0 && outDims % pqSubspaces == 0,
      s"outDims $outDims must divide into $pqSubspaces subspaces")
    val n = mom((0, 0))._1.toDouble
    // means from the SAME decimal-exact pass family: Σxi = M[i][i] is not
    // the mean — recompute first moments exactly once here
    val v = emb.select(col(vecCol).cast("array<double>").as("v"))
    val mu = v.select(posexplode(col("v")).as(Seq("i", "xi")))
      .groupBy("i").agg(sum(col("xi").cast("decimal(38,18)")).as("sx"))
      .collect().map(r => r.getInt(0) -> r.getDecimal(1).doubleValue / n)
      .sortBy(_._1).map(_._2)
    val cov = Array.tabulate(d, d) { (i, j) =>
      val (lo, hi) = if (i <= j) (i, j) else (j, i)
      mom((lo, hi))._2 / n - mu(i) * mu(j)
    }
    val (_, vecs) = jacobiEigen(cov)
    // round-robin interleave: component k goes to subspace k % m, order
    // preserved within a subspace — concatenated back this is a row
    // permutation of the top-outDims eigenbasis
    val top = vecs.take(outDims)
    val perm = (0 until pqSubspaces).flatMap(s =>
      (s until outDims by pqSubspaces)).toArray
    (mu, perm.map(top))
  }

  /** Apply a trained rotation: y = R·(x − μ), as a literal-matrix
    * projection (zero joins, zero shuffles, streaming-safe). The fold
    * order is fixed (ascending input dim), so projected values are
    * deterministic doubles.
    */
  def pcaProject(emb: DataFrame, idCol: String, vecCol: String,
      mean: Array[Double], rot: Array[Array[Double]]): DataFrame =
    emb.withColumn("rotated",
      Fns.matVec(col(vecCol).cast("array<double>"), mean, rot))

  /** PQ reconstruction of a (rotated/centered) vector column: per
    * subspace, the ASSIGNED centroid, concatenated back to full width.
    * The center lookup is keyed by code value, not array position —
    * Lloyd rounds can empty a cluster out of the book, leaving code ids
    * non-dense.
    */
  private def pqReconstruct(v: Column,
      books: Seq[Seq[(Int, Seq[Double])]]): Column = {
    val m = books.size
    val sub = books.head.head._2.length
    concat((0 until m).map { s =>
      val sv = slice(v, s * sub + 1, sub)
      val code = centArgmin(pqBookLit(books(s)), sv)
      val keys = array(books(s).map(b => lit(b._1)): _*)
      val vals = array(books(s).map(b => array(b._2.map(lit(_)): _*)): _*)
      element_at(map_from_arrays(keys, vals), code)
    }: _*)
  }

  /** Cross-moment matrix `A[i][j] = Σ_rows x_i · y_j` between the
    * centered raw vector x = v − μ and the PQ reconstruction y of its
    * rotation R·x — the DISTRIBUTED half of one OPQ Procrustes step
    * (Ge et al. 2013 §3.2, non-parametric OPQ: the rotation update is
    * `R* = V·Uᵀ` for svd(A) = U·S·Vᵀ, solved driver-side from this d×d
    * result by [[procrustesRotation]]). `rot = null` means identity
    * (the first-alternation state) and skips the O(d²)-per-row
    * projection entirely.
    *
    * Same exactness contract as [[secondMoments]]: one IEEE multiply
    * per term, summed in DECIMAL(38,18) (order-independent), rounded to
    * 12 decimals — so the full matrix hash-matches across engines.
    * Scale shape: ONE pass, d² map-side-combined groups; width-capped
    * by [[MaxRotDims]] upstream.
    */
  def opqCrossMoments(emb: DataFrame, idCol: String, vecCol: String,
      mean: Array[Double], rot: Array[Array[Double]],
      books: Seq[Seq[(Int, Seq[Double])]]): DataFrame = {
    val muLit = array(mean.map(lit(_)): _*)
    val centered = emb
      .select(col(vecCol).cast("array<double>").as("__v0"))
      .select(zip_with(col("__v0"), muLit, (x, mu) => x - mu).as("x"))
    // The rotation rides the codegen'd [[graft.functions.MatVec]] kernel
    // (NOT the per-dim HOF form): Catalyst freely inlines non-cheap array
    // aliases into consumers — centArgmin's fold evaluates its argument
    // once per centroid and the pair-Generate once per exploded row — so
    // the interpreted O(d²) tree re-executed 16·m× per row (measured:
    // 335 s at sf0.1, a 17 MiB task binary; sub-second with the kernel).
    val staged =
      if (rot == null) centered.select(col("x"), col("x").as("xr"))
      else centered.select(col("x"),
        Fns.matVec(col("x"),
          Array.fill(mean.length)(0.0), rot).as("xr"))
    // Rotated path only: re-spread the (single-split at bench scale)
    // corpus before the d² pair explode so the reconstruct + explode
    // work uses every core — the ensureMinParallelism contract; a no-op
    // when the scan is already as parallel as the cluster. Decimal sums
    // above are order-independent, so the result is bit-identical. The
    // identity path keeps its original zero-shuffle plan — it backs the
    // SQL-expressible oracle row (emb_opq_cross_moments).
    val withY = staged.withColumn("y", pqReconstruct(col("xr"), books))
    val src = if (rot == null) withY else graft.Tables.ensureMinParallelism(withY)
    src
      .select(posexplode(col("x")).as(Seq("i", "xi")), col("y"))
      .select(col("i"), col("xi"), posexplode(col("y")).as(Seq("j", "yj")))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        sum((col("xi") * col("yj")).cast("decimal(38,18)")).as("sxy"))
      .select(col("i"), col("j"), col("n"),
        round(col("sxy"), 12).cast("double").as("sxy"))
  }

  /** Deterministic orthogonal-Procrustes solution `R = V·Uᵀ` maximizing
    * `tr(R·A)`: AᵀA is eigendecomposed by the fixed-order [[jacobiEigen]]
    * (bit-reproducible), U recovered as A·v_t/s_t, and zero-singular
    * directions completed by Gram–Schmidt over the standard basis in
    * index order — no randomness anywhere, so retraining reproduces the
    * exact rotation matrix.
    */
  private[graft] def procrustesRotation(
      a: Array[Array[Double]]): Array[Array[Double]] = {
    val d = a.length
    val ata = Array.tabulate(d, d)((i, j) =>
      (0 until d).map(k => a(k)(i) * a(k)(j)).sum)
    val (evals, vecs) = jacobiEigen(ata) // vecs(t) = t-th eigenvector
    val eps = 1e-10 * math.max(evals.headOption.getOrElse(0.0).abs, 1.0)
    val us = Array.ofDim[Double](d, d)
    val filled = Array.fill(d)(false)
    for (t <- 0 until d if evals(t) > eps) {
      val s = math.sqrt(evals(t))
      us(t) = Array.tabulate(d)(r =>
        (0 until d).map(c => a(r)(c) * vecs(t)(c)).sum / s)
      filled(t) = true
    }
    var e = 0
    for (t <- 0 until d if !filled(t)) {
      var found = false
      while (!found && e < d) {
        val cand = Array.tabulate(d)(r => if (r == e) 1.0 else 0.0)
        for (t2 <- 0 until d if filled(t2)) {
          val dot = (0 until d).map(r => cand(r) * us(t2)(r)).sum
          for (r <- 0 until d) cand(r) -= dot * us(t2)(r)
        }
        val nrm = math.sqrt(cand.map(x => x * x).sum)
        if (nrm > 1e-6) {
          us(t) = cand.map(_ / nrm); filled(t) = true; found = true
        }
        e += 1
      }
      require(found, "Procrustes nullspace completion exhausted the basis")
    }
    Array.tabulate(d, d)((i, j) =>
      (0 until d).map(t => vecs(t)(i) * us(t)(j)).sum)
  }

  /** TRUE OPQ training (Ge et al. 2013, non-parametric): alternate
    * (a) PQ codebook fitting on the R-rotated centered data with
    * (b) the orthogonal-Procrustes rotation update from
    * [[opqCrossMoments]]/[[procrustesRotation]], starting at R = I.
    * Returns (mean, R, books) with the books trained against the FINAL
    * rotation — feed them to [[pcaProject]] + [[pqEncode]]/[[pqAdcTopK]]
    * as the drop-in pretransform the FAISS `OPQx` index string implies.
    * Replaces the r10 `pcaTrain(pqSubspaces=m)` round-robin stand-in as
    * the learned variance-balancing path.
    *
    * Scale shape per alternation: the rotation rides the corpus pass as
    * a literal-matrix projection (zero joins/shuffles), codebooks keep
    * [[pqCodebooks]]' one-pass-per-Lloyd-round contract, and the
    * Procrustes step is ONE d²-group pass + a driver-side d×d solve —
    * everything driver-bounded by [[MaxRotDims]].
    */
  def opqTrain(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iterations: Int = 2, pqIterations: Int = 2,
      initRotation: String = "pca")
      : (Array[Double], Array[Array[Double]], Seq[Seq[(Int, Seq[Double])]]) = {
    require(iterations >= 1, s"need >= 1 OPQ alternation, got $iterations")
    require(initRotation == "pca" || initRotation == "identity",
      s"initRotation must be 'pca' or 'identity', got '$initRotation'")
    val base = emb.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    val d = base.select(size(col("__v")).as("w")).limit(1).collect() match {
      case Array(r) => r.getInt(0)
      case _ => 0
    }
    require(d > 0 && d <= MaxRotDims,
      s"refusing OPQ for $d-dim vectors (cap $MaxRotDims)")
    // mean: decimal-exact first moments (the pcaTrain contract)
    val muRows = base.select(posexplode(col("__v")).as(Seq("i", "xi")))
      .groupBy("i").agg(count(lit(1)).as("n"),
        sum(col("xi").cast("decimal(38,18)")).as("sx"))
      .collect()
    val n = muRows.head.getAs[Long]("n").toDouble
    val mu = muRows.map(r => r.getAs[Int]("i") ->
      r.getDecimal(2).doubleValue() / n).sortBy(_._1).map(_._2)
    val muLit = array(mu.map(lit(_)): _*)
    // init: the PCA round-robin rotation (FAISS-style OPQ warm start,
    // kept deterministic) — alternating from identity converges to
    // visibly worse local optima (measured: recall 0.48 vs 0.78 on the
    // Round11OpsSpec fixture). 'identity' exists for the SQL-expressible
    // oracle state (emb_opq_cross_moments) and ablation.
    var rot: Array[Array[Double]] = // null = identity
      if (initRotation == "pca")
        pcaTrain(emb, idCol, vecCol, outDims = d, pqSubspaces = m)._2
      else null
    var books: Seq[Seq[(Int, Seq[Double])]] = null
    for (it <- 0 until iterations) {
      val rotatedDf =
        if (rot == null)
          base.select(col("__id"),
            zip_with(col("__v"), muLit, (x, mm) => x - mm).as("rotated"))
        else
          pcaProject(base, "__id", "__v", mu, rot)
            .select(col("__id"), col("rotated"))
      books = pqCodebooks(rotatedDf, "__id", "rotated", m, k, pqIterations)
      if (it < iterations - 1) {
        val aRows = opqCrossMoments(emb, idCol, vecCol, mu, rot, books)
          .collect()
        val aMat = Array.ofDim[Double](d, d)
        aRows.foreach(r => aMat(r.getInt(0))(r.getInt(1)) = r.getDouble(3))
        rot = procrustesRotation(aMat)
      }
    }
    (mu, if (rot == null) Array.tabulate(d, d)((i, j) =>
      if (i == j) 1.0 else 0.0) else rot, books)
  }
}
