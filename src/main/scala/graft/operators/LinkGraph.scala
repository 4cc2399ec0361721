package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics for web-corpus curation: PageRank (Page et al.
  * 1999) as the host-level quality / crawl-priority signal large web
  * corpora weight their sampling by (the Common-Crawl-style host ranking).
  *
  * Arithmetic is INTEGER FIXED-POINT throughout — ranks are longs scaled
  * by `scale`, every division is floor division, and every per-iteration
  * reduction is a commutative integer sum — so the result is bit-exact
  * regardless of partitioning or merge order, and a relational oracle can
  * replay all `iters` rounds. The damping split is rational
  * (`dampNum`/`dampDen`, default 85/100); dangling-node mass is dropped
  * (the classic simplification — documented, identical in the oracle).
  *
  * Scale posture: the edge list is deduped, annotated with out-degree,
  * hash-partitioned by `src` ONCE and checkpoint-materialized; each
  * iteration is one co-located join on that partitioning plus one keyed
  * aggregation on `dst` — two exchanges per round on rank-sized rows
  * only, never on the corpus. Iterations are cut and each round's
  * predecessor blocks freed ([[Lineage]]). Small graphs
  * (≤ `smallGraphMaxEdges`) take a driver power-iteration fast path with
  * the IDENTICAL integer arithmetic — the size-adaptive CC precedent:
  * at host-graph sizes that fit one task, O(iters) shuffle rounds are
  * pure fixed job overhead.
  */
object LinkGraph {
  import Lineage.{cut, cutCounted, release}

  /** PageRank over `edges(srcCol, dstCol)` (any integral node id type;
    * duplicate edges collapse). Returns (node BIGINT, rank BIGINT) with
    * Σ rank ≈ scale (minus floor-division and dangling leakage).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5, scale: Long = 1000000000000L,
      dampNum: Long = 85, dampDen: Long = 100,
      smallGraphMaxEdges: Long = Lineage.DriverTierMaxEdges): DataFrame = {
    require(iters >= 1 && iters <= 100, s"pageRank: iters must be 1..100, got $iters")
    require(scale >= 1000L, s"pageRank: scale too small for fixed-point ($scale)")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"pageRank: damping $dampNum/$dampDen is not in [0, 1]")

    val spark = edges.sparkSession
    val e = cut(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")).distinct())
    val ne = e.count() // reads the just-materialized blocks, no recompute
    require(ne > 0, "pageRank: empty edge list")

    if (ne <= smallGraphMaxEdges) {
      val result = smallGraphPageRank(spark, e, iters, scale, dampNum, dampDen)
      release(e)
      return result
    }

    val od = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // one partitioning, reused by every iteration's src-join
    val ec = cut(e.join(od, "src").repartition(col("src")))
    val nodes = cut(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    release(e)
    val n = nodes.count()
    val r0 = scale / n
    val base = r0 * (dampDen - dampNum) / dampDen

    var ranks = cut(nodes.select(col("node"), lit(r0).as("rank")))
    var i = 0
    while (i < iters) {
      val mass = ec.join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
        .groupBy("node").agg(sum("c").as("mass"))
      val next = cut(nodes.join(mass, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("mass"), lit(0L)).as("mass"))
        .select(col("node"),
          (lit(base) + expr(s"($dampNum * mass) div $dampDen")).as("rank")))
      release(ranks)
      ranks = next
      i += 1
    }
    release(ec)
    release(nodes)
    // the returned frame is backed by the final round's checkpoint blocks
    ranks
  }

  /** Driver power iteration — IDENTICAL integer arithmetic to the
    * distributed loop (exact longs, commutative sums ⇒ same result), for
    * graphs whose edge list fits one task. Bounded by smallGraphMaxEdges.
    */
  private def smallGraphPageRank(spark: org.apache.spark.sql.SparkSession,
      e: DataFrame, iters: Int, scale: Long,
      dampNum: Long, dampDen: Long): DataFrame = {
    val pairs = e.collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (pairs.map(_._1) ++ pairs.map(_._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val outdeg = new Array[Long](nodes.length)
    pairs.foreach { case (s, _) => outdeg(idx(s)) += 1 }
    val n = nodes.length.toLong
    val r0 = scale / n
    val base = r0 * (dampDen - dampNum) / dampDen
    var ranks = Array.fill(nodes.length)(r0)
    for (_ <- 0 until iters) {
      val mass = new Array[Long](nodes.length)
      pairs.foreach { case (s, d) =>
        mass(idx(d)) += ranks(idx(s)) / outdeg(idx(s))
      }
      ranks = mass.zipWithIndex.map { case (m, j) =>
        base + dampNum * m / dampDen
      }
    }
    import spark.implicits._
    spark.sparkContext.parallelize(
      nodes.zip(ranks).map { case (node, r) => (node, r) }.toSeq,
      spark.sparkContext.defaultParallelism.min(8))
      .toDF("node", "rank")
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) in deterministic
    * fixed-point integer arithmetic — the PageRank sibling for directed
    * endorsement graphs. Each half-iteration L1-normalizes its raw score
    * vector to `scale` with floor division, replacing the float L2 norm:
    * exact longs, commutative sums, partitioning-invariant.
    *
    * Overflow contract (loud, not silent): normalization computes
    * `raw·scale` where `raw ≤ maxDegree·scale`, so `maxDegree·scale²`
    * must fit a long — the default ppm scale admits degrees to ~9·10⁶.
    * Per iteration: two keyed join+agg passes over the edge list and two
    * 1-row broadcast sums; no window, no collect.
    *
    * Returns (node, hub, auth) for every node.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 2, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"hits: iters must be 1..50, got $iters")
    require(scale >= 1000L && scale <= 3000000000L,
      s"hits: scale must be in [1e3, 3e9] (maxDegree·scale² must fit a long), got $scale")
    // cut once: e and nodes are read 2× per iteration — without the
    // materialization every reference re-runs the distinct (a full edge
    // shuffle ×4·iters at cluster scale).
    val e = cut(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct())
    val nodes = cut(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())

    def normalize(raw: DataFrame, out: String): DataFrame = {
      val s = raw.agg(sum("raw").as("s"))
      nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(s))
        .select(col("node"),
          coalesce(expr(s"(raw * $scale) div s"), lit(0L)).as(out))
    }

    var h = nodes.select(col("node"), lit(scale).as("h"))
    var a = nodes.select(col("node"), lit(0L).as("a"))
    var i = 0
    while (i < iters) {
      // each half-step is cut so the next half reads blocks, not lineage
      // (and so plan depth stays O(1) across iterations); the superseded
      // half's blocks are released immediately — at any moment at most
      // two node-sized score vectors are resident.
      val aNext = cut(normalize(
        e.join(h.select(col("node").as("src"), col("h").as("hv")), "src")
          .groupBy(col("dst").as("node")).agg(sum("hv").as("raw")), "a"))
      if (i > 0) release(a)
      a = aNext
      val hNext = cut(normalize(
        e.join(a.select(col("node").as("dst"), col("a").as("av")), "dst")
          .groupBy(col("src").as("node")).agg(sum("av").as("raw")), "h"))
      if (i > 0) release(h)
      h = hNext
      i += 1
    }
    // the result rides the final h/a checkpoints (plus e/nodes — bounded
    // by the edge list, the same retention contract as pageRank's return)
    h.join(a, "node").select(col("node"), col("h").as("hub"), col("a").as("auth"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) with fully
    * deterministic tie-breaks — the lightweight community detector. Every
    * node starts labeled with its own id; each round it adopts the most
    * frequent label among its neighbors, ties to the SMALLEST label, and
    * isolated nodes keep their own. Synchronous rounds + deterministic
    * ties make the result partitioning-invariant (classic async LPA is
    * run-order-dependent — useless under a hash-compare contract).
    *
    * Per round: one keyed join edge⨝labels, one (node,label) count, one
    * node-partitioned pick window (partition size ≤ the node's distinct
    * neighbor labels ≤ its degree). Labels are cut per round (blocks
    * released when superseded) — same retention contract as [[hits]].
    *
    * Returns (node, label).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 50, s"labelPropagation: iters must be 1..50, got $iters")
    val dir = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b"))
    val und = cut(dir.union(dir.select(col("b").as("a"), col("a").as("b"))).distinct())
    val nodes = cut(und.select(col("a").as("node")).distinct())
    var labels = nodes.select(col("node"), col("node").as("label"))
    var i = 0
    while (i < iters) {
      val cnt = und
        .join(labels.select(col("node").as("b"), col("label")), "b")
        .groupBy(col("a").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("node").orderBy(col("c").desc, col("label"))
      val pick = cnt.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("node"), col("label"))
      val next = cut(nodes.join(pick, Seq("node"), "left")
        .select(col("node"), coalesce(col("label"), col("node")).as("label")))
      if (i > 0) release(labels)
      labels = next
      i += 1
    }
    labels
  }

  /** Exact triangle count by degree-ordered edge orientation (the
    * classic distributed-counting shape, cf. Suri & Vassilvitskii,
    * WWW 2011): every undirected edge is directed from its lower
    * (degree, id) endpoint to the higher one, which bounds every
    * out-list by O(√m) even on power-law graphs. Wedges — pairs of
    * out-neighbors of one apex — are joined against the undirected edge
    * set on their (min, max) endpoint pair; each triangle closes exactly
    * once (its degree-order-minimum vertex is the unique apex).
    *
    * The join volume is Σ_u d_out(u)² ≤ m·O(√m), NOT the Σ_u deg(u)² a
    * naive wedge join pays — the orientation is what makes a star
    * vertex (degree 10⁶ at web scale) harmless.
    *
    * Returns one row: (n_vertices, n_edges, n_triangles).
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // cut the canonical edge set: it is read five times (degrees, both
    // orientation sides via deg, wedge-closing join, edge count) — without
    // the materialization each reference re-runs the upstream
    // pair-generation and the distinct's full shuffle (measured 54
    // exchanges → 13 at sf0.1). The oriented list is deliberately NOT cut:
    // it is two cheap joins over e's blocks, and the eager checkpoint
    // write cost more than the recompute it saved (2.0 → 3.0 s measured).
    // Retained blocks are edge-list-bounded, the pageRank return contract.
    val e = cut(edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") < col("b")).distinct())
    val deg = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val oriented = e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("w")))
        .otherwise(struct(col("b").as("u"), col("a").as("w"))).as("o"))
      .select(col("o.u").as("u"), col("o.w").as("w"))
    // wedges (v, x): unordered out-neighbor pairs of u, canonical by id —
    // the closing edge is then exactly the undirected edge (v, x).
    val wedges = oriented.select(col("u"), col("w").as("va"))
      .join(oriented.select(col("u"), col("w").as("vb")), "u")
      .filter(col("va") < col("vb"))
      .select(col("va").as("a"), col("vb").as("b"))
    val nTri = wedges.join(e, Seq("a", "b"))
      .agg(count(lit(1)).as("n_triangles"))
    val nV = deg.agg(count(lit(1)).as("n_vertices"))
    val nE = e.agg(count(lit(1)).as("n_edges"))
    nV.crossJoin(nE).crossJoin(nTri)
  }

  /** k-core decomposition by synchronous peeling: `rounds` rounds of
    * "drop every node whose current degree < k, then drop the edges
    * touching a dropped node". Synchronous rounds make the result
    * partitioning- and run-order-invariant (async peeling is
    * order-dependent); callers pin `rounds` (an exactness oracle unrolls
    * the same count) and can assert the fixed point from the returned
    * degrees — no surviving node below k ⟺ converged.
    *
    * Each round is one keyed degree aggregate plus two semi-joins of the
    * edge list against the ≥k node set — linear in surviving edges, no
    * per-node driver loop; rounds are cut ([[Lineage]]) so the lineage
    * stays O(1) deep.
    *
    * Returns (node, degree) for nodes surviving all rounds.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 50, s"kCore: rounds must be 1..50, got $rounds")
    // NO per-round convergence count here (measured r17: the lazy-cut +
    // count pattern costs one extra job per round, and the peel cascade
    // is typically round-bound by construction — graph_kcore's chains
    // peel one hop per round through round 6 of 7, so an early exit
    // never pays for its probes; callers size `rounds` to the cascade)
    val dir = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    var und = cut(dir.union(dir.select(col("b").as("a"), col("a").as("b"))).distinct())
    var i = 0
    while (i < rounds) {
      val keep = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("node")
      val next = cut(und
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .select("a", "b"))
      release(und)
      und = next
      i += 1
    }
    und.groupBy(col("a").as("node")).agg(count(lit(1)).as("degree"))
  }

  /** Personalized PageRank (Haveliwala 2002): the teleport distribution
    * concentrates on `seeds` instead of uniform — ranks measure proximity
    * to the seed set (related-entity discovery, seed-biased crawl
    * prioritization). Same integer fixed-point arithmetic as [[pageRank]]
    * (floor divisions, commutative long sums — partitioning-invariant,
    * oracle-replayable): r₀ = scale div |S| on seeds else 0; each round
    * rank = [seed]·base + damp·Σ_in(rank div outdeg), dangling mass
    * dropped. Per round: one co-located src-join on the pre-partitioned
    * edge table + one keyed dst-aggregation — rank-sized exchanges only.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, iters: Int = 5,
      scale: Long = 1000000000000L,
      dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iters >= 1 && iters <= 100, s"ppr: iters must be 1..100, got $iters")
    require(scale >= 1000L, s"ppr: scale too small for fixed-point ($scale)")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"ppr: damping $dampNum/$dampDen is not in [0, 1]")
    val e = cut(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct())
    val od = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val ec = cut(e.join(od, "src").repartition(col("src")))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // seed flag joined once, reused by every round's base term
    val flags = cut(nodes.join(
      seeds.select(col(seedCol).cast("long").as("node")).distinct()
        .withColumn("__s", lit(1L)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0L)).as("seed")))
    release(e)
    val nSeeds = flags.filter(col("seed") === 1L).count()
    require(nSeeds > 0, "ppr: no seed appears in the graph")
    val r0 = scale / nSeeds
    val base = r0 * (dampDen - dampNum) / dampDen
    var ranks = cut(flags.select(col("node"),
      (col("seed") * lit(r0)).as("rank")))
    var i = 0
    while (i < iters) {
      val mass = ec.join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
        .groupBy("node").agg(sum("c").as("mass"))
      val next = cut(flags.join(mass, Seq("node"), "left")
        .select(col("node"),
          (col("seed") * lit(base) +
            expr(s"($dampNum * coalesce(mass, 0L)) div $dampDen")).as("rank")))
      release(ranks)
      ranks = next
      i += 1
    }
    release(ec)
    release(flags)
    ranks
  }

  /** Weighted shortest path from a seed set: synchronous Bellman–Ford,
    * `rounds` relaxations — exact for every node whose shortest path uses
    * ≤ `rounds` edges (size `rounds` to the hop diameter; the
    * [[bfsDistance]] contract generalized to integer weights). Each round
    * is one keyed join + one min-aggregation on distance rows; a closed
    * frontier (only nodes whose distance IMPROVED relax next round) keeps
    * late-round join volume proportional to actual change, the BFS
    * wavefront argument. Weights must be non-negative integers (negative
    * edges would need all `rounds` = |V|−1 and no early frontier close).
    */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, seedCol: String,
      rounds: Int,
      smallGraphMaxEdges: Long = Lineage.DriverTierMaxEdges): DataFrame = {
    require(rounds >= 1 && rounds <= 50,
      s"shortestPaths: rounds must be 1..50, got $rounds")
    val (e, ne) = cutCounted(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("src") =!= col("dst") && col("w") >= 0L)
      .groupBy("src", "dst").agg(min("w").as("w")))
    // a null seed reaches nothing; dropping it keeps the driver tier and
    // the loop on the same seed set
    val (dist0, nSeeds) = cutCounted(
      seeds.select(col(seedCol).cast("long").as("node"))
        .filter(col("node").isNotNull).distinct()
        .withColumn("dist", lit(0L)))
    // Size-adaptive driver tier (the [[pageRank]]/CC precedent): when the
    // deduped edge list + seed set are bounded driver state, the whole
    // relaxation loop is one collect instead of O(rounds) shuffle rounds
    // of pure fixed job overhead — IDENTICAL synchronous-relaxation
    // arithmetic (exact longs, min-merge per round), so the result is
    // bit-equal to the distributed loop's.
    if (ne + nSeeds <= smallGraphMaxEdges) {
      val result = smallGraphShortestPaths(e, dist0, rounds)
      release(e)
      release(dist0)
      return result
    }
    var dist = dist0
    var frontier = dist
    var i = 0
    var open = true
    while (i < rounds && open) {
      val relaxed = e.join(frontier.select(col("node").as("src"), col("dist")),
          "src")
        .select(col("dst").as("node"), (col("dist") + col("w")).as("cand"))
        .groupBy("node").agg(min("cand").as("cand"))
      val joined = relaxed.join(dist, Seq("node"), "left")
      // early exit: an empty improved frontier closes the wavefront —
      // every later round relaxes nothing and dist is already the fixed
      // point, so the remaining rounds are free
      val (improved, nImp) = cutCounted(joined.filter(col("dist").isNull ||
          col("cand") < col("dist"))
        .select(col("node"), col("cand").as("dist")))
      if (nImp == 0L) {
        release(improved)
        open = false
      } else {
        val nextDist = cut(dist.join(improved.select(col("node")), Seq("node"),
            "left_anti")
          .unionByName(improved))
        release(dist)
        if (i > 0) release(frontier)
        dist = nextDist
        frontier = improved
      }
      i += 1
    }
    dist
  }

  /** Driver synchronous Bellman–Ford — identical per-round min-merge to
    * the distributed loop (closed frontier, exact longs), for graphs
    * whose edge list fits one task. Gate: [[Lineage.DriverTierMaxEdges]].
    */
  private def smallGraphShortestPaths(e: DataFrame, dist0: DataFrame,
      rounds: Int): DataFrame = {
    val spark = e.sparkSession
    val es = e.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val dist = scala.collection.mutable.HashMap.empty[Long, Long]
    dist0.collect().foreach(r => dist(r.getLong(0)) = 0L)
    var frontier: Set[Long] = dist.keySet.toSet
    var i = 0
    while (i < rounds && frontier.nonEmpty) {
      val cand = scala.collection.mutable.HashMap.empty[Long, Long]
      es.foreach { case (s, d, w) =>
        if (frontier.contains(s)) {
          val c = dist(s) + w
          if (cand.get(d).forall(c < _)) cand(d) = c
        }
      }
      frontier = cand.collect {
        case (n, c) if dist.get(n).forall(c < _) => dist(n) = c; n
      }.toSet
      i += 1
    }
    import spark.implicits._
    spark.sparkContext.parallelize(dist.toSeq.sortBy(_._1),
        spark.sparkContext.defaultParallelism.min(8))
      .toDF("node", "dist")
  }

  /** Hop distance from a seed set: synchronous BFS, `rounds` frontier
    * expansions (exact shortest hop count for every node within `rounds`
    * of a seed; farther nodes are absent — the kCore rounds contract:
    * callers size `rounds` to the diameter they care about). Directed:
    * distance follows `srcCol → dstCol`.
    *
    * Each round is one keyed join (current frontier × out-edges) + one
    * min-aggregation — exchanges carry distance rows only, never the
    * corpus. Rounds are lineage-cut and superseded blocks freed. The
    * closed frontier (only NEWLY-reached nodes expand next round) keeps
    * join volume proportional to the expanding wavefront, not to the
    * visited set — on a 100 TB link graph the late rounds would otherwise
    * re-join the whole reached set every time.
    */
  def bfsDistance(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, rounds: Int,
      smallGraphMaxEdges: Long = Lineage.DriverTierMaxEdges): DataFrame = {
    require(rounds >= 1 && rounds <= 50,
      s"bfsDistance: rounds must be 1..50, got $rounds")
    val (e, ne) = cutCounted(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    val (dist0, nSeeds) = cutCounted(
      seeds.select(col(seedCol).cast("long").as("node"))
        .filter(col("node").isNotNull).distinct()
        .withColumn("dist", lit(0L)))
    // size-adaptive driver tier + early exit — see [[shortestPaths]]
    if (ne + nSeeds <= smallGraphMaxEdges) {
      val result = smallGraphBfs(e, dist0, rounds)
      release(e)
      release(dist0)
      return result
    }
    var dist = dist0
    var frontier = dist
    var i = 0
    var open = true
    while (i < rounds && open) {
      val reached = e.join(frontier.select(col("node").as("src"), col("dist")),
          "src")
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
        .groupBy("node").agg(min("dist").as("dist"))
      // an empty fresh frontier means every reachable-within-`rounds`
      // node already has its hop count — the remaining rounds are no-ops
      val (fresh, nFresh) =
        cutCounted(reached.join(dist.select("node"), Seq("node"), "left_anti"))
      if (nFresh == 0L) {
        release(fresh)
        open = false
      } else {
        val nextDist = cut(dist.unionByName(fresh))
        release(dist)
        if (i > 0) release(frontier)
        dist = nextDist
        frontier = fresh
      }
      i += 1
    }
    dist
  }

  /** Driver synchronous BFS — identical frontier expansion to the
    * distributed loop, for graphs whose edge list fits one task.
    */
  private def smallGraphBfs(e: DataFrame, dist0: DataFrame,
      rounds: Int): DataFrame = {
    val spark = e.sparkSession
    val es = e.collect().map(r => (r.getLong(0), r.getLong(1)))
    val dist = scala.collection.mutable.HashMap.empty[Long, Long]
    dist0.collect().foreach(r => dist(r.getLong(0)) = 0L)
    var frontier: Set[Long] = dist.keySet.toSet
    var i = 0
    while (i < rounds && frontier.nonEmpty) {
      val next = scala.collection.mutable.HashSet.empty[Long]
      es.foreach { case (s, d) =>
        if (frontier.contains(s) && !dist.contains(d)) next += d
      }
      val hop = i + 1L
      next.foreach(n => dist(n) = hop)
      frontier = next.toSet
      i += 1
    }
    import spark.implicits._
    spark.sparkContext.parallelize(dist.toSeq.sortBy(_._1),
        spark.sparkContext.defaultParallelism.min(8))
      .toDF("node", "dist")
  }
}
