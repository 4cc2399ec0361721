package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Fns

/** Deterministic sampling/splitting for training-data pipelines.
  *
  * All assignment is by the engine's portable rolling hash of the KEY —
  * never an RNG: the same key lands in the same split on every run,
  * engine, cluster size, and partitioning. That is the property a
  * train/val/test split must have at 100 TB (re-runs and backfills must
  * not migrate examples across splits), and it makes every operator here
  * a pure per-row projection — zero shuffles, embarrassingly parallel —
  * as well as DuckDB-oracle-verifiable.
  */
object Sampling {

  /** Per-stratum rate lookup as a FLAT literal-map expression —
    * `coalesce(element_at(map, key), default)`. Semantically identical to
    * a when-chain (null keys miss the map and take the default) but
    * depth-1 regardless of stratum count: a foldRight when-chain nests
    * one level per stratum, so a high-cardinality histogram (10k domains)
    * would make ANALYSIS recursion depth — and eventually the stack —
    * scale with the data's key cardinality. Keys/values are plan
    * literals, so the corpus pass stays a zero-join codegen'd projection
    * either way.
    */
  private def literalRate(key: Column, rates: Seq[(Any, Double)],
      default: Column): Column =
    if (rates.isEmpty) default // every stratum at the default rate
    else {
      val m = map(rates.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      coalesce(element_at(m, key), default)
    }

  /** Unit-interval hash of a key column ∈ [0, 1). The raw polynomial
    * rolling hash of a SHORT key (e.g. "42") is a small integer, so it
    * must be spread across the field first: h → (h·1315423911 +
    * 2654435761) mod (1e9+7) — the engine's standard multiplicative mix
    * (64-bit products stay under 2⁶³, so the arithmetic is exact and
    * DuckDB-reproducible).
    */
  def unitHash(key: Column): Column =
    ((Fns.rollingHash(key.cast("string")) * lit(1315423911L) + lit(2654435761L))
      % lit(Fns.HashMod)) / lit(Fns.HashMod.toDouble)

  /** Deterministic split assignment. `splits` are (name, weight) pairs;
    * weights must sum to ~1. Each row gets the split whose cumulative
    * weight range contains its unit hash — appended as column `split`.
    *
    * hashSplit(docs, "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    */
  def hashSplit(df: DataFrame, keyCol: String,
      splits: Seq[(String, Double)]): DataFrame = {
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9, s"split weights must sum to 1, got $total")
    require(splits.nonEmpty, "need at least one split")
    val u = unitHash(col(keyCol))
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    // last range is a catch-all so u == 0.999...9 rounding can't drop rows
    val assigned = splits.init.zip(cum.init).foldRight(
      lit(splits.last._1): Column) { case (((name, _), hi), els) =>
      when(u < hi, name).otherwise(els)
    }
    df.withColumn("split", assigned)
  }

  /** Deterministic global training-order shuffle: every row gets a dense
    * position 0..n-1 in md5(seed‖key) order — the "shuffle the corpus
    * before epoch N" step of a training pipeline, reproducible across
    * runs, engines, and partitionings (same seed → same permutation;
    * different seed → an independent permutation).
    *
    * Scale shape — a distributed rank, NEVER a global-window sort (a
    * partition-less `row_number()` funnels the whole corpus through ONE
    * task): rows are histogram-bucketed by the first byte of the hash
    * (256 fixed buckets), positions are `bucket_offset + rank-within-
    * bucket`; the within-bucket window partitions BY BUCKET (distributed,
    * ~n/256 rows each). The 256-row histogram is ONE map-side-combined
    * aggregation materialized to the driver — bounded by the byte domain,
    * not the data — and the offsets come back inlined as a literal chain
    * (the domainMix/IVF contract), so the corpus pass is a projection
    * plus the bucketed rank window: no offset join, no offset window.
    *
    * Output: the input columns plus `pos` (long, dense, 0-based).
    */
  def globalShuffle(df: DataFrame, keyCol: String, seed: Long): DataFrame = {
    val hk = md5(concat(lit(seed.toString), col(keyCol).cast("string")))
    val bucket = conv(substring(hk, 1, 2), 16, 10).cast("int")
    val withB = df.withColumn("__hk", hk).withColumn("__b", bucket)
    // exclusive prefix sum over the ≤256-row histogram, driver-side
    val hist = withB.groupBy("__b").agg(count(lit(1)).as("__n")).collect()
      .map(r => (r.getInt(0), r.getAs[Long]("__n"))).sortBy(_._1)
    if (hist.isEmpty) return df.withColumn("pos", lit(null).cast("long"))
    val offs = hist.map { case (b, _) => b.toLong }
      .zip(hist.map(_._2).scanLeft(0L)(_ + _).init).toMap
    // bucket → exclusive-prefix-sum offset: O(1) codegen'd dense lookup
    // (a 256-branch when-chain dominates Janino compile time on every job
    // that re-plans this frame)
    val offCol = Ranks.offsetLookup(col("__b"), offs)
    val wInBucket = Window.partitionBy("__b").orderBy(col("__hk"), col(keyCol))
    withB
      .withColumn("pos", offCol + row_number().over(wInBucket) - 1)
      .drop("__hk", "__b")
  }

  /** Weighted sampling WITHOUT replacement of exactly `k` rows —
    * sequential Poisson sampling (Ohlsson 1998, the πps scheme official
    * statistics uses): every row draws priority `u/w` (u uniform from its
    * key hash, w its positive integer weight) and the k SMALLEST
    * priorities win, so inclusion probability is ≈ proportional to
    * weight. INTEGER-EXACT by construction: the priority is the scaled
    * rational `(h · 1e9) div w` on the integer hash h ∈ [0, 1e9+7) — no
    * float pow/log anywhere, so the selected SET (ties broken by key) is
    * bit-identical across engines, partitionings, and runs, and an SQL
    * oracle replays it verbatim.
    *
    * Scale shape: priority is a stateless projection; selection is
    * `ORDER BY ... LIMIT k` — Spark plans TakeOrderedAndProject
    * (per-partition bounded top-k, merge of k·P rows on the driver),
    * NEVER a global sort. Weights ≤ 1e9 (pre-scale upstream if larger);
    * rows with weight ≤ 0 are excluded (standard πps domain).
    */
  def weightedSample(df: DataFrame, keyCol: String, weight: Column,
      k: Int): DataFrame = {
    require(k > 0)
    val h = (Fns.rollingHash(col(keyCol).cast("string")) * lit(1315423911L)
      + lit(2654435761L)) % lit(Fns.HashMod)
    df.withColumn("__w", weight.cast("long"))
      .filter(col("__w") > 0 && col("__w") <= 1000000000L)
      .withColumn("__h", h)
      .withColumn("priority", expr("(__h * 1000000000) div __w"))
      .drop("__w", "__h")
      .orderBy(col("priority"), col(keyCol))
      .limit(k)
  }

  /** Importance sampling with a per-ROW continuous weight ∈ [0,1] (the
    * data-mixing generalization of [[stratifiedSample]]'s per-stratum
    * constants): keep a row iff its key's unit hash is below its weight.
    * Same determinism + monotonicity contract — upweighting a document
    * can only add it, never remove it — and still a pure projection,
    * zero shuffles.
    */
  def importanceSample(df: DataFrame, keyCol: String, weight: Column): DataFrame =
    df.filter(unitHash(col(keyCol)) < weight)

  /** Resample a corpus toward a TARGET domain mixture (the data-mixing
    * step of multi-source training runs: given per-domain target
    * fractions, keep the largest subset whose composition matches them).
    * Per-domain keep rate = targetFrac·scale / n_domain where scale =
    * min over domains of n_domain/targetFrac — the binding domain is
    * kept whole and every other domain is down-sampled proportionally.
    *
    * Scale shape: the domain histogram is ONE map-side-combined count
    * aggregation materialized to the driver — bounded by the domain
    * count, the same contract as IVF-centroid materialization — and the
    * rates come back inlined in the plan as a literal CASE chain, so the
    * corpus pass is a pure projection-filter with zero joins. Domains
    * absent from `targets` are dropped (target fraction 0).
    */
  def domainMix(df: DataFrame, keyCol: String, domainCol: String,
      targets: Map[String, Double]): DataFrame = {
    require(targets.nonEmpty, "need at least one target domain")
    val counts = df.groupBy(domainCol).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    val present = targets.filter { case (d, f) => f > 0 && counts.contains(d) }
    require(present.nonEmpty, "no target domain present in the data")
    val scale = present.map { case (d, f) => counts(d) / f }.min
    val rates = present.map { case (d, f) =>
      d -> math.min(1.0, f * scale / counts(d))
    }
    df.filter(unitHash(col(keyCol)) <
      literalRate(col(domainCol), rates.toSeq, lit(0.0)))
  }

  /** Temperature-based domain mixing (the multilingual-corpus sampling
    * rule of mT5/XLM-R: sample domain d proportionally to `n_d^τ`,
    * flattening the natural distribution toward uniform as τ → 0).
    * Public provenance: Xue et al. 2021 (mT5) §3.1, Conneau et al. 2020
    * (XLM-R) §3. Under sampling-WITHOUT-replacement the largest subset
    * with mixture `∝ n_d^τ` keeps the smallest domain whole and
    * down-samples domain d at rate `(n_min/n_d)^(1-τ)` — the normalizer
    * Σ n_e^τ cancels, so no cross-engine float-sum ordering exists at
    * all. τ = 1 keeps everything (natural mixture); τ = 0 equalizes
    * domains ([[balanceClasses]] semantics); τ = 0.5 is the common
    * flattening, computed via `sqrt` (correctly-rounded IEEE in every
    * engine, unlike general `pow`).
    *
    * Scale shape: domain histogram = one map-side-combined aggregation
    * to the driver (bounded by domain count — the domainMix/IVF
    * contract); rates inline as a literal CASE chain; corpus pass is a
    * zero-join projection-filter with [[stratifiedSample]]'s determinism
    * and monotonicity-in-τ contract. Null domains drop (rate 0).
    */
  def temperatureMix(df: DataFrame, keyCol: String, domainCol: String,
      tau: Double): DataFrame = {
    require(tau >= 0.0 && tau <= 1.0, s"tau must be in [0,1], got $tau")
    val counts = df.filter(col(domainCol).isNotNull)
      .groupBy(domainCol).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n"))
    require(counts.nonEmpty, "no non-null domain present in the data")
    val nMin = counts.map(_._2).min
    val e = 1.0 - tau
    val rates = counts.map { case (d, n) =>
      val x = nMin.toDouble / n.toDouble
      d -> (if (e == 0.5) math.sqrt(x) else math.pow(x, e))
    }
    df.filter(unitHash(col(keyCol)) <
      literalRate(col(domainCol), rates.toSeq, lit(0.0)))
  }

  /** Per-stratum deterministic sampling: keep a row iff its key's unit
    * hash is below the stratum's rate (`rates`, else `defaultRate`).
    * Exactly reproducible, and the kept set is MONOTONE in the rate: a
    * 10% sample is a subset of a 20% sample — the property that lets a
    * pipeline scale a sample up without re-drawing it.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double): DataFrame =
    df.filter(unitHash(col(keyCol)) <
      literalRate(col(strataCol), rates.toSeq, lit(defaultRate)))

  /** Class-balanced downsampling for classifier training data: every
    * class is down-sampled to the SMALLEST class's size in expectation
    * (per-class keep rate = min_count / class_count, deterministic hash
    * keep — [[stratifiedSample]]'s contract). The class histogram is one
    * map-side-combined aggregation materialized to the driver (bounded by
    * the class count — the IVF-centroid/domainMix contract) and rates
    * inline as plan literals, so the corpus pass is a zero-join
    * projection-filter.
    */
  def balanceClasses(df: DataFrame, keyCol: String, classCol: String): DataFrame = {
    // null classes are excluded from the histogram: the when-chain below can
    // never match them (=== null is never true), so they are always dropped —
    // letting a null group's count become minN would silently down-sample
    // every REAL class below the true minority size
    val counts = df.groupBy(classCol).agg(count(lit(1)).as("n"))
      .collect().flatMap(r => Option(r.get(0)).map(_ -> r.getAs[Long]("n"))).toMap
    require(counts.nonEmpty, "no classes present")
    val minN = counts.values.min
    df.filter(unitHash(col(keyCol)) < literalRate(col(classCol),
      counts.toSeq.map { case (cls, n) => cls -> minN.toDouble / n }, lit(0.0)))
  }

  /** EXACTLY min(k, |stratum|) rows per stratum, selected by the
    * deterministic unit hash (smallest k hash values win) — the
    * exact-size eval-set / per-class sample primitive that
    * [[stratifiedSample]]'s rate form cannot give. Deterministic across
    * runs/engines/partitionings, and MONOTONE IN k: the k=10 set is a
    * subset of the k=20 set, so growing an eval set never redraws it.
    * Null strata are dropped (the [[balanceClasses]] contract).
    *
    * Scale shape: the naive form window-sorts every row of the corpus.
    * Here large strata are PREFILTERED first — keep rate 4k/n from the
    * per-stratum histogram (driver-bounded, the domainMix contract) —
    * so the rank window sorts O(strata · k) rows, not the corpus. The
    * prefilter is VERIFIED, not trusted: a per-stratum count of the
    * prefilter SURVIVORS (an aggregation only — the window never runs in
    * the verification pass, so the verify job and the returned plan
    * duplicate just the cheap filter scan) catches a stratum that
    * survived with fewer than min(k, n) rows (Chernoff puts that below
    * e^{-1.1k}; at k ≥ 16 that is ~1e-8 — but exactness must not rest on
    * a tail bound) and re-ranks just that stratum without the prefilter.
    *
    * Precondition: `keyCol` must be UNIQUE within a stratum (it is the
    * sampling-unit identifier). Rows sharing a key value produce
    * identical (hash, key) sort tuples, so WHICH of them fills the last
    * rank is partitioning-dependent — the membership determinism
    * contract then holds for keys, not rows.
    */
  def exactKPerStratum(df: DataFrame, keyCol: String, strataCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = unitHash(col(keyCol))
    val counts = df.groupBy(strataCol).agg(count(lit(1)).as("n"))
      .collect().flatMap(r => Option(r.get(0)).map(_ -> r.getAs[Long]("n"))).toMap
    require(counts.nonEmpty, "no strata present")
    val rate = literalRate(col(strataCol),
      counts.toSeq.map { case (s0, n) =>
        s0 -> (if (n <= 4L * k) 1.0 else 4.0 * k / n) },
      lit(0.0))
    val w = Window.partitionBy(strataCol).orderBy(u, col(keyCol))
    def rank(base: DataFrame): DataFrame =
      base.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k).drop("__rn")
    // rank keeps min(k, survivors) per stratum, so counting SURVIVORS
    // verifies the output size without running the window twice
    val survived = df.filter(u < rate)
      .groupBy(strataCol).agg(count(lit(1)).as("g")).collect()
      .flatMap(r => Option(r.get(0)).map(_ -> r.getAs[Long]("g"))).toMap
    val short = counts.collect {
      case (s0, n) if survived.getOrElse(s0, 0L) < math.min(k.toLong, n) => s0
    }.toSeq
    val pre = rank(df.filter(u < rate))
    if (short.isEmpty) pre
    else pre.filter(!col(strataCol).isin(short: _*))
      .unionByName(rank(df.filter(col(strataCol).isin(short: _*))))
  }

  /** Deterministic uniform shard id ∈ [0, nShards) for a key — integer
    * arithmetic end to end: shard = ⌊k·n / M⌋ where k is the spread hash
    * ∈ [0, M). k·n stays far under 2⁶³ and k·n/M is never within an ulp
    * of an integer (M prime > n), so the double division + floor is
    * EXACTLY the integer quotient on every engine.
    */
  def shardOf(key: Column, nShards: Int): Column = {
    require(nShards > 0 && nShards < 1000000, s"bad shard count $nShards")
    val k = (Fns.rollingHash(key.cast("string")) * lit(1315423911L) +
      lit(2654435761L)) % lit(Fns.HashMod)
    floor(k * lit(nShards.toLong) / lit(Fns.HashMod.toDouble)).cast("int")
  }

  /** Training-shard manifest: assign every row a deterministic uniform
    * shard (same hash contract as [[hashSplit]] — reproducible,
    * partitioning-independent) and aggregate per-shard accounting: row
    * count, token mass, and an id checksum the writer downstream can
    * reconcile against. ONE map-side-combined aggregation over a pure
    * projection; the manifest is nShards rows. This is the bookkeeping
    * half of sharded corpus writes — the files themselves go through
    * `df.write.partitionBy("shard")` with `maxRecordsPerFile`.
    */
  def shardManifest(df: DataFrame, keyCol: String, tokenCount: Column,
      nShards: Int): DataFrame =
    df.withColumn("shard", shardOf(col(keyCol), nShards))
      .withColumn("__nt", tokenCount)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("__nt").cast("long").as("total_tokens"),
        sum(col(keyCol)).cast("long").as("id_checksum"))

  /** Token-budget mixture schedule — the data-recipe planning step of
    * LLaMA-style pretraining mixes (Touvron et al. 2023 §2 table 1 and
    * the Doremi/Pile recipe shape: each domain gets a target share of
    * the token budget; small domains REPEAT for multiple epochs, large
    * ones subsample). Inputs: per-row token counts, target mixture as
    * integer parts-per-million (rationals, so the plan is exact — float
    * weights would make the schedule engine-dependent), and the total
    * token budget. Output, one row per targeted domain:
    *
    *  - `tokens_have` / `n_docs`: the domain's corpus inventory
    *  - `tokens_wanted` = budget·weight_ppm div 10⁶
    *  - `full_epochs` = tokens_wanted div tokens_have (whole passes)
    *  - `tail_rate_ppm`: deterministic sample rate for the fractional
    *    last pass (feed to [[stratifiedSample]] per domain)
    *  - `repeat_ppm` = overall oversampling factor ×10⁶
    *
    * All integer arithmetic on positives (floor div == trunc, so Spark
    * `div` and any SQL `//` agree). ONE keyed aggregation; the schedule
    * is itself a #domains-row relation — nothing materializes to the
    * driver, unlike the rate-literal operators above (this one PLANS the
    * mix; they EXECUTE it).
    */
  def mixSchedule(df: DataFrame, domainCol: String, tokenCount: Column,
      weightsPpm: Map[String, Long], budgetTokens: Long): DataFrame = {
    require(weightsPpm.nonEmpty && weightsPpm.values.forall(_ > 0),
      "weightsPpm must be non-empty with positive weights")
    require(budgetTokens > 0, s"budgetTokens $budgetTokens")
    val weightCase = weightsPpm.tail.foldLeft(
      when(col("domain") === weightsPpm.head._1, lit(weightsPpm.head._2))) {
      case (acc, (d, w)) => acc.when(col("domain") === d, lit(w))
    }.otherwise(lit(0L))
    df.groupBy(col(domainCol).as("domain"))
      .agg(sum(tokenCount).cast("long").as("tokens_have"),
        count(lit(1)).as("n_docs"))
      .withColumn("weight_ppm", weightCase)
      .filter(col("weight_ppm") > 0 && col("tokens_have") > 0)
      .withColumn("tokens_wanted",
        expr(s"($budgetTokens * weight_ppm) div 1000000"))
      .withColumn("full_epochs", expr("tokens_wanted div tokens_have"))
      .withColumn("tail_rate_ppm",
        expr("((tokens_wanted % tokens_have) * 1000000) div tokens_have"))
      .withColumn("repeat_ppm",
        expr("(tokens_wanted * 1000000) div tokens_have"))
  }

  /** CCNet-style quality-band sampling (Wenzek et al. 2020,
    * arXiv:1911.00359 §4.3: corpora are cut into head/middle/tail by LM
    * perplexity and each band kept at its own rate). `scoreCol` is any
    * monotone quality score (higher = better, e.g.
    * `TextAnalysis.bigramLmScore`'s avg_logprob); rows band as
    * head (≥ headCut) / middle (≥ tailCut) / tail (below), then keep via
    * the deterministic per-band hash rate — [[stratifiedSample]]'s
    * contract (reproducible, monotone in rate), so re-runs never migrate
    * documents across the kept set. Appends `band`; a pure
    * projection-filter over the scored input, zero additional shuffles.
    */
  def qualityBandSample(scored: DataFrame, keyCol: String, scoreCol: String,
      headCut: Double, tailCut: Double,
      rates: Map[String, Double]): DataFrame = {
    require(headCut >= tailCut, s"headCut $headCut must be >= tailCut $tailCut")
    val band = when(col(scoreCol) >= headCut, lit("head"))
      .when(col(scoreCol) >= tailCut, lit("middle"))
      .otherwise(lit("tail"))
    stratifiedSample(scored.withColumn("band", band), keyCol, "band",
      rates, defaultRate = 0.0)
  }

  /** Hashed-n-gram feature counts per doc: unigrams + adjacent bigrams,
    * each hashed into one of `buckets` slots — DSIR's feature extractor
    * (Xie et al. 2023, arXiv:2302.03169 §3: hashed bag-of-ngrams).
    * Output (doc, b, cnt). One doc-partitioned lead window for the
    * bigrams, one keyed count — linear in corpus tokens.
    */
  private def hashedNgramCounts(docs: DataFrame, idCol: String,
      textCol: String, buckets: Int): DataFrame = {
    val win = Window.partitionBy("doc").orderBy("p")
    val toks = docs.select(col(idCol).as("doc"),
        posexplode(Fns.tokens(col(textCol))).as(Seq("p", "w1")))
      .filter(col("w1") =!= "")
    val feats = toks
      .withColumn("w2", lead("w1", 1).over(win))
      .select(col("doc"), explode(
        when(col("w2").isNotNull,
          array(col("w1"), concat_ws(" ", col("w1"), col("w2"))))
          .otherwise(array(col("w1")))).as("f"))
    feats.select(col("doc"), pmod(Fns.rollingHash(col("f")), lit(buckets)).as("b"))
      .groupBy("doc", "b").agg(count(lit(1)).as("cnt"))
  }

  /** DSIR importance log-weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every RAW doc by
    * how much more likely its hashed-n-gram features are under the
    * TARGET distribution than under the raw distribution —
    * `log w(x) = Σ_b c_x[b]·(ln p̂_target[b] − ln p̂_raw[b])` with
    * add-one-smoothed bucket probabilities. The bucket log-ratio table
    * has `buckets` rows (driver-scale) and broadcast-joins against the
    * per-doc counts; the two distribution fits are keyed
    * map-side-combined counts — the whole thing is linear in corpus
    * tokens, the published recipe's cost.
    *
    * Determinism contract (the bigramLmScore discipline): each bucket's
    * ln is rounded to 6 decimals and the ratio carried in DECIMAL(28,6);
    * the per-doc sum is count·decimal — exact and order-independent —
    * and the output is `logw_micro = logw·10⁶` as a LONG, so engine
    * comparison is integer-exact end to end.
    * Output: (doc, n_feats, logw_micro).
    */
  def dsirLogWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 512): DataFrame = {
    require(buckets >= 2, s"bad buckets $buckets")
    val rawCnt = hashedNgramCounts(raw, idCol, textCol, buckets)
    val tgtTot = hashedNgramCounts(target, idCol, textCol, buckets)
      .groupBy("b").agg(sum("cnt").as("tc"))
    val rawTot = rawCnt.groupBy("b").agg(sum("cnt").as("rc"))
    // bucket log-ratio table: add-one smoothing over `buckets` slots;
    // absent buckets still carry the smoothed floor via the outer join
    val totals = rawTot.join(tgtTot, Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("rc"), lit(0L)).as("rc"),
        coalesce(col("tc"), lit(0L)).as("tc"))
    val sums = totals.agg(sum("rc").as("R"), sum("tc").as("T"))
    val ratio = totals.crossJoin(broadcast(sums))
      .select(col("b"),
        (round(log((col("tc") + lit(1.0)) / (col("T") + lit(buckets))), 6)
          .cast("decimal(28,6)") -
          round(log((col("rc") + lit(1.0)) / (col("R") + lit(buckets))), 6)
            .cast("decimal(28,6)")).as("r"))
    rawCnt.join(broadcast(ratio), "b")
      .groupBy("doc")
      .agg(sum("cnt").as("n_feats"),
        sum(col("cnt") * col("r")).as("lw"))
      .select(col("doc"), col("n_feats"),
        (col("lw") * lit(1000000L)).cast("long").as("logw_micro"))
  }

  /** Multi-target DSIR mixture weights — the data-MIXING use of the
    * importance machinery (Xie et al. 2023 §6 select toward ONE target;
    * a mixing pipeline scores every doc against SEVERAL target domains
    * and allocates by the per-domain weights): one add-one-smoothed
    * bucket log-ratio table PER domain, all unioned into a single
    * (b, domain, r) table that is still driver-scale
    * (buckets × domains rows) and broadcast. The raw corpus is
    * feature-hashed ONCE ([[hashedNgramCounts]] — the expensive pass);
    * the broadcast join fans each bucket count out to every domain and
    * one keyed aggregation produces the per-(doc, domain) weight.
    * `is_best` marks each doc's argmax domain (logw desc, domain asc —
    * deterministic), the assignment a mixing router uses.
    *
    * Same integer-exactness contract as [[dsirLogWeights]]: round-6
    * DECIMAL(28,6) ratios, count·decimal sums, micro-unit LONG output.
    * Output: (doc, domain, n_feats, logw_micro, is_best).
    */
  def dsirMixtureWeights(raw: DataFrame, targets: Seq[(String, DataFrame)],
      idCol: String, textCol: String, buckets: Int = 512): DataFrame = {
    require(targets.nonEmpty, "need at least one target domain")
    require(targets.map(_._1).distinct.size == targets.size,
      "duplicate target domain names")
    val rawCnt = hashedNgramCounts(raw, idCol, textCol, buckets)
    // bucket totals are `buckets` rows — checkpoint-cut so the corpus
    // pass behind them executes once, not once per domain's ratio table
    val rawTot = Lineage.cut(rawCnt.groupBy("b").agg(sum("cnt").as("rc")))
    val ratios = targets.map { case (name, target) =>
      val tgtTot = hashedNgramCounts(target, idCol, textCol, buckets)
        .groupBy("b").agg(sum("cnt").as("tc"))
      val totals = rawTot.join(tgtTot, Seq("b"), "full_outer")
        .select(col("b"), coalesce(col("rc"), lit(0L)).as("rc"),
          coalesce(col("tc"), lit(0L)).as("tc"))
      val sums = totals.agg(sum("rc").as("R"), sum("tc").as("T"))
      totals.crossJoin(broadcast(sums))
        .select(col("b"), lit(name).as("domain"),
          (round(log((col("tc") + lit(1.0)) / (col("T") + lit(buckets))), 6)
            .cast("decimal(28,6)") -
            round(log((col("rc") + lit(1.0)) / (col("R") + lit(buckets))), 6)
              .cast("decimal(28,6)")).as("r"))
    }.reduce(_.unionByName(_))
    val perDomain = rawCnt.join(broadcast(ratios), "b")
      .groupBy("doc", "domain")
      .agg(sum("cnt").as("n_feats"),
        sum(col("cnt") * col("r")).as("lw"))
      .select(col("doc"), col("domain"), col("n_feats"),
        (col("lw") * lit(1000000L)).cast("long").as("logw_micro"))
    val byDoc = Window.partitionBy("doc")
      .orderBy(col("logw_micro").desc, col("domain"))
    perDomain.withColumn("is_best",
      row_number().over(byDoc) === 1)
  }

  /** DSIR resampling: Gumbel-top-k over the importance weights — the
    * paper's sampling-without-replacement rendered deterministic: the
    * Gumbel noise `−ln(−ln(u))` draws its uniform from the engine's key
    * hash (`u = (mix(doc)+0.5)/p` ∈ (0,1), never 0 or 1), scaled to
    * micro-units by floor so the selection key is an exact LONG. Top-k
    * is the bounded map-side-combined aggregate (one group — partial
    * top-k per partition, O(partitions·k) through the wire, never a full
    * sort), and selection stays in 64-bit INTEGER space end to end
    * ([[graft.functions.TopKByLongScore]]) — a double-keyed heap would
    * lose exactness above 2^53 micro-units and silently break the
    * integer tie-break contract for very high-weight docs.
    * Output: (doc, key_micro), the k selected docs.
    */
  def dsirResample(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, k: Int, buckets: Int = 512): DataFrame = {
    require(k >= 1, s"bad k $k")
    val mix = (Fns.rollingHash(col("doc").cast("string")) * lit(1315423911L) +
      lit(2654435761L)) % lit(Fns.HashMod)
    val u = (mix + lit(0.5)) / lit(Fns.HashMod.toDouble)
    val keyed = dsirLogWeights(raw, target, idCol, textCol, buckets)
      .withColumn("key_micro",
        col("logw_micro") + floor(-log(-log(u)) * lit(1000000.0)).cast("long"))
    keyed.groupBy()
      .agg(Fns.topKByLongScore(col("key_micro"), col("doc"), k).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.id").as("doc"), col("t.score").as("key_micro"))
  }
}
