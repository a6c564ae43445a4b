package graft.operators

import graft.functions.{Det, VectorFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Similarity search over an `array<float>` embedding column.
  *
  * `bruteTopK` is the exact baseline: a broadcast of the (small) query set
  * against the full corpus — one pass over the data, no shuffle of the
  * corpus side, per-query top-k via a rank-limited window. `ivfTopK` is
  * the scale path: a coarse partition (here the precomputed `label`
  * cluster, standing in for a k-means assignment) prunes the search to
  * matching buckets before the same scoring — at 100 TB this turns a full
  * scan per query into a partition-pruned scan. `nearDupPairs` is
  * embedding-cosine near-dedup, brute-force within the verify scale and
  * bucketable by the same coarse key at scale.
  *
  * Cosines use the quantized-integer dot products of [[VectorFns.dotQ]]
  * (order-independent, bit-reproducible across engines), rounded to 6
  * decimals before ranking with id tie-breaks. Self-norms are computed
  * ONCE PER ROW on each join side — never per candidate pair: at n
  * queries that saves n redundant norm passes over the corpus.
  */
object Similarity {

  /** (id, emb, norm) projection: the per-row quantized self-norm. */
  private def normed(df: DataFrame, prefix: String): DataFrame =
    df.select(
      col("vec_id").as(s"${prefix}id"),
      col("embedding").as(s"${prefix}emb"),
      graft.plans.DotQExpr(col("embedding"), col("embedding")).as(s"${prefix}norm"))

  /** Pairwise cosine from one fresh dot + two precomputed norms. */
  private def pairCos(aEmb: Column, aNorm: Column, bEmb: Column, bNorm: Column): Column =
    Det.roundAt(
      when(aNorm === 0L || bNorm === 0L, 0.0)
        .otherwise(graft.plans.DotQExpr(aEmb, bEmb).cast(DoubleType) /
          sqrt(aNorm.cast(DoubleType) * bNorm.cast(DoubleType))), 6)

  private def ranked(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"),
        col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Maximal-marginal-relevance re-rank: greedily select `k` of the
    * query's `nCandidates` nearest vectors, each step maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) — the diversity
    * selection step of retrieval and of diverse training-subset draws
    * (pure relevance top-k returns k near-copies of the same neighbor).
    *
    * Scale shape: candidate generation is the distributed [[bruteTopK]]
    * (or any ANN path), and the candidate×candidate similarity matrix is
    * computed distributed with the same quantized cosine; only the greedy
    * loop runs on the driver, over a CONSTANT-size state (nCandidates²
    * rounded doubles — kilobytes for any corpus, like k-means centroids).
    * Every similarity the greedy consumes was computed by the engine, so
    * the selection is bit-reproducible: scores are rounded at 1e-6 with
    * vec_id as tie-break, and step 1 is pure relevance. */
  def mmrRerank(corpus: DataFrame, queryId: Long, nCandidates: Int, k: Int,
                lambda: Double): DataFrame = {
    val cand = bruteTopK(corpus, corpus.filter(col("vec_id") === queryId), nCandidates)
      .select(col("vec_id"), col("cos").as("rel"))
    val ce = normed(corpus, "")
      .join(broadcast(cand.select(col("vec_id").as("id"))), "id")
    val sims = ce.select(col("id").as("ia"), col("emb").as("ea"), col("norm").as("na"))
      .join(ce.select(col("id").as("ib"), col("emb").as("eb"), col("norm").as("nb")),
        col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"),
        pairCos(col("ea"), col("na"), col("eb"), col("nb")).as("sim"))
    val rels = cand.collect().map(r => r.getLong(0) -> r.getDouble(1))
      .sortBy { case (id, rel) => (-rel, id) }
    val simMap = sims.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def round6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val first = rels.head
    var selected = Vector((first._1, first._2, first._2)) // (id, rel, score)
    while (selected.size < k && selected.size < rels.length) {
      val chosen = selected.map(_._1).toSet
      val next = rels.iterator.filterNot { case (id, _) => chosen(id) }
        .map { case (id, rel) =>
          val maxSim = selected.map(s => simMap((id, s._1))).max
          (id, rel, round6(lambda * rel - (1 - lambda) * maxSim))
        }.toVector.sortBy { case (id, _, score) => (-score, id) }.head
      selected :+= next
    }
    val out = selected.zipWithIndex.map { case ((id, rel, score), i) =>
      (i + 1L, id, rel, score)
    }
    corpus.sparkSession.createDataFrame(out)
      .toDF("rank", "vec_id", "rel", "score")
  }

  /** Triplet mining for contrastive / metric-learning training data:
    * for each query, the k most-similar corpus vectors sharing its label
    * (hardest positives to keep close) and the k most-similar vectors of
    * a DIFFERENT label (hard negatives — the pairs that actually move a
    * contrastive loss; random negatives are trivially separable).
    *
    * Same shape as [[bruteTopK]]: queries broadcast, one corpus scan,
    * kind derived per pair, and the per-(query, kind) rank limit
    * compiles to WindowGroupLimit (map-side truncation before the
    * shuffle). Returns (query_id, kind 'pos'|'neg', vec_id, cos, rank). */
  def tripletMine(corpus: DataFrame, queries: DataFrame, labelCol: String,
                  k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def side(df: DataFrame, p: String) = df.select(
      col("vec_id").as(s"${p}id"), col("embedding").as(s"${p}emb"),
      graft.plans.DotQExpr(col("embedding"), col("embedding")).as(s"${p}norm"),
      col(labelCol).as(s"${p}lab"))
    val scored = side(corpus, "")
      .join(broadcast(side(queries, "q_").withColumnRenamed("q_id", "query_id")),
        col("id") =!= col("query_id"))
      .withColumn("cos", pairCos(col("emb"), col("norm"), col("q_emb"), col("q_norm")))
      .withColumn("kind", when(col("lab") === col("q_lab"), "pos").otherwise("neg"))
    val w = Window.partitionBy("query_id", "kind")
      .orderBy(desc("cos"), asc("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("kind"), col("id").as("vec_id"),
        col("cos"), col("rank").cast("long").as("rank"))
      .orderBy("query_id", "kind", "rank")
  }

  /** Exact squared-L2 top-k with per-dimension 1e-12-quantized integer
    * distances (the same quantization as [[pqAdcTopK]]'s ADC, so recall
    * evals compare like against like and both engines rank bitwise
    * identically). Broadcast queries, one shuffle-free corpus pass, rank
    * window per query. */
  def l2TopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("id"), col("embedding").as("emb"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("l2_q"), col("vec_id"))
    c.join(broadcast(q), col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("vec_id"),
        aggregate(
          zip_with(col("emb"), col("q_emb"), (a, b) => {
            val d = a.cast(DoubleType) - b.cast(DoubleType)
            floor(d * d * lit(1e12) + lit(0.5)).cast(LongType)
          }),
          lit(0L), (acc, v) => acc + v).as("l2_q"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("l2_q"),
        col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Exact cosine top-k: broadcast the query rows, score every corpus row,
    * keep k per query. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = normed(corpus, "")
    val q = normed(queries, "q_").withColumnRenamed("q_id", "query_id")
    val scored = c.join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("cos", pairCos(col("emb"), col("norm"), col("q_emb"), col("q_norm")))
      .select(col("query_id"), col("id").as("vec_id"), col("cos"))
    ranked(scored, k)
  }

  /** IVF-style top-k: only score corpus rows whose coarse bucket matches
    * the query's (partition pruning — the ANN trade: recall bounded by the
    * coarse quantizer, cost cut by the bucket fan-out). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, bucketCol: String, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("id"), col("embedding").as("emb"),
      graft.plans.DotQExpr(col("embedding"), col("embedding")).as("norm"),
      col(bucketCol).as("bucket"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      graft.plans.DotQExpr(col("embedding"), col("embedding")).as("q_norm"),
      col(bucketCol).as("q_bucket"))
    val scored = c
      .join(broadcast(q), col("bucket") === col("q_bucket") && col("id") =!= col("query_id"))
      .withColumn("cos", pairCos(col("emb"), col("norm"), col("q_emb"), col("q_norm")))
      .select(col("query_id"), col("id").as("vec_id"), col("cos"))
    ranked(scored, k)
  }

  /** Embedding-cosine near-duplicate pairs ≥ `threshold` (id_a < id_b).
    * Brute force at verify scale; at 100 TB bucket by a coarse quantizer
    * first (same shape as [[Dedup.minhashLshPairs]]). */
  def nearDupPairs(corpus: DataFrame, threshold: Double): DataFrame = {
    // repartition the stream side: a small single-file corpus would
    // otherwise drive the whole n² compare through ONE task (the n²
    // work is inherent to the baseline; serializing it is not)
    val a = normed(corpus, "a_")
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    val b = normed(corpus, "b_")
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("cos", pairCos(col("a_emb"), col("a_norm"), col("b_emb"), col("b_norm")))
      .filter(col("cos") >= threshold)
      .select(col("a_id").as("id_a"), col("b_id").as("id_b"), col("cos"))
      .orderBy("id_a", "id_b")
  }

  /** Brute near-dup truth restricted to pairs INCIDENT to an anchor
    * sample (`vec_id % anchorMod = 0`) — the recall-audit truth
    * generator for corpora where the full O(n²) enumeration is
    * infeasible (n·n/anchorMod comparisons instead; at n = 200k,
    * anchorMod = 100 that is 4×10⁸ quantized dots — minutes at 32
    * threads — vs 2×10¹⁰ for the full matrix). Recall measured on
    * anchor-incident pairs is an unbiased estimate of pair recall: the
    * LSH collision event for a pair is independent of whether either id
    * is ≡ 0 mod anchorMod. `anchorMod = 1` must not be passed — use
    * [[nearDupPairs]] (same result, half the comparisons). */
  def nearDupPairsAnchored(corpus: DataFrame, threshold: Double,
                           anchorMod: Long): DataFrame = {
    require(anchorMod > 1, "use nearDupPairs for the full matrix")
    val a = normed(corpus.filter(col("vec_id") % anchorMod === 0), "a_")
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    val b = normed(corpus, "b_")
    a.crossJoin(b).filter(col("a_id") =!= col("b_id"))
      .withColumn("cos", pairCos(col("a_emb"), col("a_norm"), col("b_emb"), col("b_norm")))
      .filter(col("cos") >= threshold)
      .select(least(col("a_id"), col("b_id")).as("id_a"),
        greatest(col("a_id"), col("b_id")).as("id_b"), col("cos"))
      .dropDuplicates("id_a", "id_b") // anchor–anchor pairs surface twice
  }

  /** Deterministic ±1 random-hyperplane matrix for sign-LSH: plane i,
    * component j = ±1.0f from a fixed LCG — identical literals are emitted
    * into the DuckDB oracle, so sketches match across engines. */
  def signPlanes(planes: Int, dim: Int): Array[Array[Float]] =
    Array.tabulate(planes, dim) { (i, j) =>
      // splitmix64 finalizer — a REAL avalanche. The previous xorshift
      // of a linear (i, j) combination was GF(2)-structured: distinct
      // plane indices produced perfectly correlated (even identical)
      // sign rows, which collapsed band-key entropy into mega-buckets
      // (measured at sf3: 5k-vector buckets from an 11-bit key and a
      // 200 s q47). Every plane literal in the DuckDB oracles is
      // rendered from THIS function at SQL-build time, so both engines
      // move together.
      var x = i.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xC2B2AE3D27D4EB4FL
      x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
      x ^= x >>> 27; x *= 0x94D049BB133111EBL
      x ^= x >>> 31
      if ((x & 1L) == 0L) 1.0f else -1.0f
    }

  /** Sign-LSH sketch: bit i = [v·rᵢ ≥ 0] over `planes` hyperplanes —
    * cosine-similar vectors collide with probability 1 − θ/π per bit.
    * Uses the quantized dot so the sketch is engine-reproducible. */
  def signSketch(emb: Column, planes: Array[Array[Float]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(graft.plans.DotQExpr(emb, lit(p)) >= 0L, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)

  /** Hyperplane allocation stride for [[lshNearDupPairs]]: band `b`'s key
    * bits use planes `[b·PlaneStride, b·PlaneStride + keyBits)` of the
    * deterministic [[signPlanes]] matrix. Because [[signPlanes]] derives
    * each row from its absolute index alone, a band's planes never change
    * when the key widens or more bands are added — configurations NEST
    * (candidates at `bands = k` ⊆ candidates at `bands = k+1`; candidates
    * at `keyBits = w` ⊆ candidates at `keyBits = w−1`), which is what
    * makes recall monotone in `bands`, anti-monotone in `keyBits`, and
    * rung-to-rung comparable on the adaptive ladder. */
  val PlaneStride = 16

  /** Declared recall contract for the banded sign-LSH path: recall of a
    * pair at cosine ≥ [[RecallTargetCos]] is ≥ [[RecallFloor]] at EVERY
    * rung of the adaptive key ladder (absent maxBucket shedding, which is
    * observable and oracle-modeled, never silent). */
  val RecallTargetCos = 0.9
  val RecallFloor = 0.9

  /** Key widths at or below this carry ONE band of safety margin over the
    * closed form (round 13, VERDICT r12 #1): the closed form treats sign
    * bits as independent, which clustered corpora with deterministic
    * planes violate hardest at SMALL n — the r12 ladder measured rung 1
    * (n=2k, w=6) at 0.9017, BELOW its 0.9187 closed form and 0.0017 from
    * the floor, while the wide rungs (w=10, w=13) measured ABOVE theirs.
    * The extra band costs ~10–33 % more candidate volume and lifts every
    * margined width's closed form ≥ floor + 0.02; the r13/r14 ladder
    * re-measurements are the evidence the margin is real, and the
    * fuzz-CI gate pins the MEASURED rung-1 value so a future dip fails
    * loudly, not silently.
    *
    * Extended 8 → 10 in round 14 (VERDICT r13 #3): w=10 was the first
    * width with neither a margin band nor a measured CI gate, and its
    * bare closed form (0.9080 at b=10) left only 0.016 of margin —
    * under the ≥ 0.02 bar the narrow rungs hold. b(9) 9→10 lifts
    * 0.9230→0.9421; b(10) 10→11 lifts 0.9080→0.9276 (~10 % more
    * candidate volume at mid-size corpora); rung 2 of the ladder
    * (n=20k, w=10) re-measured at the new band count — see
    * SCALE_r14.json `recall_ladder`. Widths above 10 stay bare: the
    * adaptive ladder reaches them only at n > 65k, where the
    * measured evidence runs the OTHER way — every wide rung measured
    * ABOVE its closed form (w=13 rung: 0.9284 vs 0.9122 form; the
    * clustered-corpus pessimism the margin exists for is a small-n
    * effect of deterministic planes on few clusters). */
  val NarrowMarginMaxBits = 10

  /** Closed-form band count that HOLDS the declared recall floor as the
    * adaptive key widens (VERDICT r11 #1): a sign bit collides for a pair
    * at angle θ with p = 1 − θ/π, a `w`-bit band with p^w, and `b`
    * OR-amplified bands recall 1 − (1 − p^w)^b — so
    * b(w) = ⌈ln(1 − floor) / ln(1 − p^w)⌉ is the least band count with
    * recall ≥ floor at the target cosine, plus one safety band at narrow
    * widths (see [[NarrowMarginMaxBits]]; the margin is CALIBRATED at
    * the default (0.9, 0.9) operating point and applies only there — a
    * caller passing a different targetCos/floor gets the bare closed
    * form, since a margin tuned for one curve is noise on another). At
    * (cos 0.9, floor 0.9):
    * w = 4→4, 5→5, 6→6, 7→7, 8→8, 9→10, 10→11, 11→12, 12→14, 13→17,
    * 14→19, 15→23 — without the closed form, fixed 4-band recall at
    * cos 0.9 decays 0.90 (w=4) → 0.34 (w=15) as the ladder widens with
    * corpus growth: a silent quality cliff at exactly the high-cosine
    * near-dup operating point the path exists for. Candidate volume grows
    * only linearly in b and stays bucket-bounded (the maxBucket cap is
    * per (band, key)). */
  def recallBands(keyBits: Int, targetCos: Double = RecallTargetCos,
                  floor: Double = RecallFloor): Int = {
    val p = 1.0 - math.acos(targetCos) / math.Pi
    val pw = math.pow(p, keyBits)
    val closed = math.max(1, math.ceil(math.log(1.0 - floor) / math.log1p(-pw)).toInt)
    val defaultOperatingPoint = targetCos == RecallTargetCos && floor == RecallFloor
    if (keyBits <= NarrowMarginMaxBits && defaultOperatingPoint) closed + 1 else closed
  }

  /** Sign-LSH near-dup: each of `bands` bands keys the corpus by a
    * `keyBits`-bit sign sketch over its OWN hyperplanes (see
    * [[PlaneStride]]); candidates share ANY band's key, verified by exact
    * cosine ≥ `threshold`. Banding is what makes this a scale path: one
    * wide sketch collides with p^w ≈ 1e-4 at w = 15 near the target
    * cosine (recall collapses), while `b` OR-amplified `w`-bit bands give
    * 1 − (1 − p^w)^b with candidate volume Σ bucketᵢ² per band, never
    * O(n²). Same shuffle shape as
    * [[graft.operators.Dedup.minhashLshPairs]]: the banded relation is
    * slim (id, band, key) and lineage-truncated so the self-join does not
    * re-derive the sketch per side.
    *
    * `keyBits` is the adaptive-cardinality hook — with a fixed key space
    * the per-band bucket population grows linearly and Σ bucketᵢ²
    * quadratically, so a caller tracking corpus growth widens `keyBits`
    * on an integer ladder (see q47) to hold bucket sizes roughly
    * constant. `bands = 0` (the default) derives [[recallBands]] from the
    * key width so the declared floor HOLDS at every rung; an explicit
    * band count is the A/B and test hook.
    *
    * `shed` is the cap-shed audit: ONE row
    * `(n_shed_buckets, n_shed_rows)` — over-cap (band, key) buckets
    * dropped by `maxBucket` and the DISTINCT vectors that sat in at least
    * one of them. The declared recall floor ([[RecallFloor]] at cosine ≥
    * [[RecallTargetCos]]) is a property of the blocking scheme and
    * applies to a run IFF both counts are 0 — with shedding firing,
    * recall over shed mass is arbitrary (the ladder's cap-100 row
    * measured 0.1385 on a clustered 20k corpus; hot-cluster
    * mass is owned by the centroid/SemDeDup paths). Callers that report
    * pairs should report the audit beside them (q298 carries it as
    * oracle-checked output columns); the audit is one group-by over the
    * already-materialized slim banded checkpoint, never a second corpus
    * pass. */
  def lshNearDupPairs(corpus: DataFrame, threshold: Double,
                      keyBits: Int = 4, bands: Int = 0,
                      maxBucket: Int = Dedup.DefaultMaxBucket): Dedup.CappedPairs = {
    require(keyBits >= 1 && keyBits < PlaneStride,
      s"keyBits must be in [1, ${PlaneStride - 1}], got $keyBits")
    val b = if (bands > 0) bands else recallBands(keyBits)
    val planes = signPlanes(b * PlaneStride, 64)
    def bandKey(band: Int) =
      (0 until keyBits).map(i =>
        when(graft.plans.DotQExpr(col("embedding"),
          lit(planes(band * PlaneStride + i))) >= 0L, lit(1L << i))
          .otherwise(lit(0L))).reduce(_ + _)
    val base = corpus.select(
      col("vec_id"), col("embedding"),
      graft.plans.DotQExpr(col("embedding"), col("embedding")).as("norm"))
    val banded = corpus.select(col("vec_id"),
      posexplode(array((0 until b).map(bandKey): _*)).as(Seq("band", "key")))
    val cap = Dedup.capBuckets(banded, maxBucket, "embed_lsh")
    def side(p: String) = base.select(
      col("vec_id").as(s"id_$p"), col("embedding").as(s"${p}_emb"),
      col("norm").as(s"${p}_norm"))
    val pairs = cap.selfPairs("vec_id").join(side("a"), "id_a").join(side("b"), "id_b")
      .withColumn("cos", pairCos(col("a_emb"), col("a_norm"), col("b_emb"), col("b_norm")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
      .orderBy("id_a", "id_b")
    new Dedup.CappedPairs(pairs,
      cap.overCap.agg(count(lit(1)).as("n_shed_buckets"))
        .crossJoin(broadcast(cap.shed.agg(count(lit(1)).as("n_shed_rows")))))
  }

  /** Per-bucket centroids — the coarse-quantizer training primitive for
    * [[ivfTopK]] (and dataset cartography): mean vector per bucket,
    * computed DIMENSION-WISE (posexplode → groupBy (bucket, dim)) so no
    * executor ever holds a bucket's vectors and the shuffle carries one
    * partial sum per (partition, bucket, dim) — the columnar aggregation
    * shape that survives any corpus size. Components quantize to integer
    * 1e-6 units before the exact integer sum (double addition is
    * order-sensitive; integer sums are engine-portable), and the mean is
    * rounded at 6 decimals. Output: (bucket, dim, n, centroid). */
  def centroids(corpus: DataFrame, bucketCol: String): DataFrame =
    corpus.select(col(bucketCol).as("bucket"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("bucket", "dim")
      .agg(
        count(lit(1)).as("n"),
        sum(floor(col("v").cast(DoubleType) * lit(1e6) + lit(0.5))
          .cast("long")).as("__sum_q"))
      .select(col("bucket"), col("dim"), col("n"),
        Det.roundAt(col("__sum_q").cast(DoubleType) /
          (col("n").cast(DoubleType) * lit(1e6)), 6).as("centroid"))
      .orderBy("bucket", "dim")

  /** Lloyd assignment step over trained [[centroids]]: every corpus row is
    * assigned to its nearest centroid in ONE shuffle-free pass — the
    * long-form centroid table pivots back to k dense arrays (k·dims
    * doubles — tiny by construction), collapses to a single broadcast row,
    * and each row's argmin is an `array_min` over per-centroid
    * (distance, bucket) structs: lexicographic struct ordering gives the
    * deterministic min-bucket tie-break for free. Distances are quantized
    * to integer 1e-12 units (engine-exact, like [[VectorFns.dotQ]]).
    * Together with [[centroids]] this is one k-means iteration — iterate
    * the pair for Lloyd's; output = corpus columns + `bucket`. */
  def assignToNearest(corpus: DataFrame, centroids: DataFrame, dims: Int): DataFrame = {
    val cArr = centroids.groupBy("bucket")
      .agg(map_from_entries(collect_list(struct(col("dim"), col("centroid")))).as("m"))
      .select(struct(col("bucket"),
        transform(sequence(lit(0), lit(dims - 1)), d => element_at(col("m"), d)).as("c")).as("bc"))
      .agg(collect_list(col("bc")).as("cs")) // one row; argmin is order-independent
    // ROUND 15: native argmin kernel (plans/PqMinsExpr.scala) — the HOF
    // spelling ran an interpreted zip_with + aggregate chain per
    // CENTROID per row. Same quantized distances, same (d, bucket)
    // tie-break (PqMinsSpec pins it against the old spelling).
    corpus.crossJoin(broadcast(cArr))
      .withColumn("bucket",
        graft.plans.NearestCentroidExpr(col("embedding"), col("cs")))
      .drop("cs")
  }

  /** Full k-means over the embedding column: hash-seeded initial buckets
    * (portable md5 of the id — deterministic, uniform, no label column
    * needed), then `iters` Lloyd rounds of [[centroids]] →
    * [[assignToNearest]]. The whole computation is ONE lazy plan (no
    * driver loop over data, no eager actions): per round one
    * dimension-wise centroid shuffle + one shuffle-free broadcast
    * assignment pass, so a round costs two scans regardless of corpus
    * size. Returns corpus columns + final `bucket`. */
  def kmeansBuckets(corpus: DataFrame, k: Int, iters: Int, dims: Int): DataFrame = {
    var assigned = corpus.withColumn("bucket",
      pmod(graft.functions.TextFns.portableHash(col("vec_id")), lit(k.toLong)).cast("int"))
    for (_ <- 1 to iters)
      assigned = assignToNearest(corpus, centroids(assigned, "bucket"), dims)
    assigned
  }

  /** Converged k-means: Lloyd rounds until the quantized centroid table
    * reaches an exact fixed point (identical between rounds) or
    * `maxIters`. [[kmeansBuckets]] builds ONE lazy plan whose depth grows
    * with the round count — fine for 2-3 unrolled rounds, but analysis
    * and codegen blow up past ~10. Here each round COLLECTS the centroid
    * table (k·dims rows — hundreds, never data-sized) into a literal
    * relation, so plan depth is CONSTANT in the round count and the loop
    * can stop early. This is the 100 TB shape: per round one
    * dimension-wise centroid shuffle + one broadcast assignment scan of
    * the corpus; driver traffic is k·dims rows per round. Inherently an
    * eager multi-job operator (like any Lloyd driver loop) — not for use
    * inside a single lazy plan.
    *
    * Rounds after the fixed point are idempotent (identical centroids →
    * identical argmin assignment), so `kmeansConverged(maxIters = n)`
    * always equals `kmeansBuckets(iters = n)` — which is what lets a
    * fixed-iters unrolled SQL mirror oracle-check a converging run.
    * Returns (corpus + final `bucket`, rounds actually run). */
  def kmeansConverged(corpus: DataFrame, k: Int, maxIters: Int, dims: Int): (DataFrame, Int) = {
    val spark = corpus.sparkSession
    var assigned = corpus.withColumn("bucket",
      pmod(graft.functions.TextFns.portableHash(col("vec_id")), lit(k.toLong)).cast("int"))
    var prev: Map[(Int, Int), Double] = null
    var rounds = 0
    var done = false
    while (rounds < maxIters && !done) {
      val cents = centroids(assigned, "bucket")
      val rows = cents.collect()
      val cur = rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
      if (cur == prev) done = true
      else {
        val local = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), cents.schema)
        assigned = assignToNearest(corpus, local, dims)
        prev = cur
        rounds += 1
      }
    }
    (assigned, rounds)
  }

  /** Bucket-pruned exact-cosine near-dup: pairs restricted to the same
    * coarse bucket — the n² cross join becomes Σ|bucketᵢ|², the
    * production dedup shape at 100 TB (bucket = quantizer/LSH cell).
    * Callers MUST supply a bucket whose CARDINALITY grows
    * with the corpus (e.g. the adaptive label#sign-sub-bucket ladder
    * q35/q112 build); a fixed-cardinality bucket makes this quadratic
    * (measured: the 10-way label bucket hit 36 s at sf3).
    *
    * Buckets over `maxBucket` are DROPPED (the [[Dedup.capBuckets]]
    * guard, same constant and observability as the text-side LSH; an
    * uncheckpointed variant was A/B-measured WORSE — +32-53% vs +7-10%
    * — because each anti-join side re-derives the 12-plane sketch,
    * the round-9 recompute class. The wide checkpoint is the cheaper
    * evil and the guard's A/B cost is ~7-10% on q218/q112): on a
    * CLUSTERED embedding corpus the sign-bit ladder cannot split a hot
    * cluster — every member shares the centroid's signs, so extra
    * ladder bits produce the same key and the top bucket grows linearly
    * with the corpus (measured on the round-10 mixture corpus: max
    * bucket 158→743→2294 for n 2k→20k→60k, within-bucket pair work
    * ~quadratic). Hot clusters are the vector analog of boilerplate
    * mega-buckets, and they get the same answer: deterministic capping
    * with the shed volume observable, never a silent O(b²). (Quantized
    * projection SHELLS were measured as the alternative ladder — they
    * bound the bucket, max 26→27→68 on the same corpora, but cost 10×
    * in blocking recall at cosine 0.3: 0.037 vs 0.38 — so the sign
    * ladder + cap keeps the better recall and bounds the blowup;
    * SCALE_r10.json `ivf_clustered`.) */
  def bucketedNearDupPairs(corpus: DataFrame, bucketCol: String,
                           threshold: Double,
                           maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val keyed = corpus.select(
      col("vec_id"), col("embedding"),
      graft.plans.DotQExpr(col("embedding"), col("embedding")).as("norm"),
      lit(0).as("band"), col(bucketCol).as("key"))
    def side(p: String) = Seq(col("vec_id").as(s"${p}id"),
      col("embedding").as(s"${p}emb"), col("norm").as(s"${p}norm"))
    // one band, so each pair meets once: no dedup
    Dedup.capBuckets(keyed, maxBucket, "vec_bucket").bucketJoin(side("a_"), side("b_"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", pairCos(col("a_emb"), col("a_norm"), col("b_emb"), col("b_norm")))
      .filter(col("cos") >= threshold)
      .select(col("a_id").as("id_a"), col("b_id").as("id_b"), col("cos"))
      .orderBy("id_a", "id_b")
  }

  /** SemDeDup-style semantic dedup apply (Abbas et al. 2023,
    * arXiv:2303.09540): within each coarse cluster, greedily keep the
    * lowest-id member of every near-duplicate relation — a vector is
    * dropped iff some LOWER-id vector in its bucket has cosine ≥
    * `threshold` to it. Deterministic (no RNG, min-id keep rule), and the
    * survivor set provably contains no within-bucket pair ≥ threshold:
    * if (x < y, cos ≥ τ) both survived, y's drop condition fired.
    *
    * Scale: the candidate relation is [[bucketedNearDupPairs]]
    * (Σ bucketᵢ², never n²); the dropped-id set is distinct slim ids and
    * the apply is a shuffled left-anti join on the corpus key — at 100 TB
    * both sides hash-partition on vec_id, no broadcast assumption. */
  def semDedup(corpus: DataFrame, bucketCol: String, threshold: Double,
               maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val dropped = bucketedNearDupPairs(corpus, bucketCol, threshold, maxBucket)
      .select(col("id_b").as("vec_id")).distinct()
    corpus.join(dropped, Seq("vec_id"), "left_anti")
  }

  /** PCA top component (the whitening/compression front of an embedding
    * pipeline) by deterministic power iteration: ONE distributed pass
    * builds the exact quantized Gram matrix through the mergeable
    * [[graft.functions.GramAgg]] (a 2,080-long shuffle regardless of
    * corpus size), then `iters` power-iteration rounds run on the driver
    * over the collected dims×dims matrix — O(dims²) work, the right
    * split at 100 TB: data-sized work distributed, model-sized work local.
    *
    * Every step is exact or identically-rounded in both engines: Gram
    * cells are exact integer sums; each matvec runs in exact BigInt;
    * renormalization is one double divide + floor-round at 1e6 (identical
    * IEEE ops); the Rayleigh quotient rounds at 1e4. Output: one row per
    * dimension with the quantized eigenvector and the shared eigenvalue. */
  def pcaTopComponent(corpus: DataFrame, dims: Int = 64, iters: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    val tri = corpus
      .agg(graft.functions.GramAgg.column(col("embedding"), dims).as("tri"))
      .collect()(0).getAs[scala.collection.Seq[Long]]("tri")
    val g = Array.ofDim[BigInt](dims, dims)
    var k = 0
    for (i <- 0 until dims; j <- i until dims) {
      g(i)(j) = BigInt(tri(k)); g(j)(i) = g(i)(j); k += 1
    }
    var x = Array.fill(dims)(BigInt(1000000L))
    def matvec(v: Array[BigInt]): Array[BigInt] =
      Array.tabulate(dims)(i => (0 until dims).map(j => g(i)(j) * v(j)).sum)
    for (_ <- 1 to iters) {
      val y = matvec(x)
      val m = y.map(_.abs).max
      if (m != BigInt(0))
        x = y.map(v => BigInt(math.floor(v.toDouble / m.toDouble * 1e6 + 0.5).toLong))
    }
    val yF = matvec(x)
    val num = (0 until dims).map(i => x(i) * yF(i)).sum
    val den = (0 until dims).map(i => x(i) * x(i)).sum
    val lambda =
      if (den == BigInt(0)) 0.0
      else math.floor(num.toDouble / den.toDouble * 1e4 + 0.5) / 1e4
    import spark.implicits._
    (0 until dims).map(i => (i.toLong, x(i).toLong, lambda))
      .toDF("dim", "eig_q", "lambda")
  }

  // ── product quantization (Jégou et al., TPAMI 2011) ──────────────────
  // Split the embedding into m contiguous subspaces and vector-quantize
  // each independently with its own k-codeword codebook: a vector
  // compresses to m small codes (4 bytes here vs 256 raw), and distances
  // are approximated from per-subspace lookup tables (ADC) without ever
  // touching the raw vectors — the memory layout that makes
  // billion-vector ANN feasible. All distances are per-dimension-
  // quantized integer squared-L2 (floor(Δ²·10¹² + ½) summed as longs),
  // centroids are 1e-6-rounded means of 1e-6-quantized components — every
  // intermediate is engine-portable, so a SQL oracle reproduces codes,
  // codebooks and ADC rankings bit-for-bit.

  /** Per-subspace codebook means of the current assignment, long form
    * (subspace, code, subdim, centroid). `codes` must hold one code per
    * subspace. One map-combinable aggregate; output is m·k·(dims/m) rows
    * — broadcastable by construction. */
  private def pqCbFrom(assigned: DataFrame, m: Int, dims: Int): DataFrame = {
    val sd = dims / m
    assigned.select(col("codes"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(expr(s"dim div $sd").cast("int").as("subspace"), (col("dim") % sd).as("subdim"),
        col("v").cast(DoubleType).as("v"), col("codes"))
      .withColumn("code", element_at(col("codes"), col("subspace") + 1))
      .groupBy("subspace", "code", "subdim")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("v") * lit(1e6) + lit(0.5)).cast(LongType)).as("sq"))
      .select(col("subspace"), col("code"), col("subdim"),
        Det.roundAt(col("sq").cast(DoubleType) /
          (col("n").cast(DoubleType) * lit(1e6)), 6).as("centroid"))
  }

  /** Collapse a long-form codebook to ONE broadcastable row:
    * array of (subspace, code, c: dense array<double>[sd]). */
  private def pqCbRow(codebooks: DataFrame, sd: Int): DataFrame =
    codebooks.groupBy("subspace", "code")
      .agg(map_from_entries(collect_list(struct(col("subdim"), col("centroid")))).as("mm"))
      .select(struct(col("subspace"), col("code"),
        transform(sequence(lit(0), lit(sd - 1)), d => element_at(col("mm"), d)).as("c")).as("e"))
      .agg(collect_list(col("e")).as("cbs"))

  /** Per-subspace argmin structs (d, code) for one row's embedding
    * against the broadcast codebook column `cbs`. */
  private def pqMins(emb: Column, cbs: Column, m: Int, sd: Int): Column =
    // ROUND 15: native kernel (plans/PqMinsExpr) — the HOF spelling ran
    // an interpreted filter + array_min + zip_with + aggregate chain per
    // CODEWORD per row (m·k chains). Same (d, code) argmin structs, same
    // quantized arithmetic (PqMinsSpec pins it against this spelling).
    graft.plans.PqMinsExpr(emb, cbs, m, sd)

  /** Train PQ codebooks: hash-seeded init (portable md5 of the id, one
    * shared init code per subspace) then `iters` Lloyd rounds of
    * reassign → recompute means. Per round: one shuffle-free broadcast
    * assignment scan + one map-combinable codebook aggregate — corpus
    * cost is independent of k. Returns long form
    * (subspace, code, subdim, centroid). */
  def pqCodebooks(corpus: DataFrame, m: Int, k: Int, dims: Int,
                  iters: Int = 1): DataFrame = {
    val sd = dims / m
    val init = corpus.withColumn("codes",
      transform(sequence(lit(0), lit(m - 1)), _ =>
        pmod(graft.functions.TextFns.portableHash(col("vec_id")), lit(k.toLong))))
    var cb = pqCbFrom(init, m, dims)
    for (_ <- 1 to iters) {
      val assigned = corpus.crossJoin(broadcast(pqCbRow(cb, sd)))
        .withColumn("codes",
          transform(pqMins(col("embedding"), col("cbs"), m, sd), _.getField("code")))
        .drop("cbs")
      cb = pqCbFrom(assigned, m, dims)
    }
    cb
  }

  /** Encode every vector against trained codebooks: per-subspace argmin
    * code + total quantization distance. Shuffle-free (one broadcast
    * scan). Returns corpus columns + `codes` array<long>[m] +
    * `qdist_q` (Σ per-subspace integer distances). */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int,
               dims: Int): DataFrame = {
    val sd = dims / m
    corpus.crossJoin(broadcast(pqCbRow(codebooks, sd)))
      .withColumn("__mins", pqMins(col("embedding"), col("cbs"), m, sd))
      .withColumn("codes", transform(col("__mins"), _.getField("code")))
      .withColumn("qdist_q",
        aggregate(col("__mins"), lit(0L), (acc, e) => acc + e.getField("d")))
      .drop("cbs", "__mins")
  }

  /** ADC (asymmetric distance computation) top-k: each query builds a
    * per-subspace lookup table of distances to every codeword; a corpus
    * vector's approximate distance is the sum of m table lookups on its
    * CODES — the raw corpus vectors are never read at query time. The
    * LUT is (queries · m · k) rows — broadcast — so scoring is one
    * shuffle-free pass over the code table followed by a per-query
    * rank-limited window. Returns (query_id, vec_id, adist_q, rank). */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, codebooks: DataFrame,
                m: Int, dims: Int, topK: Int): DataFrame = {
    val sd = dims / m
    // the _outer form on purpose: an inner explode makes the optimizer infer
    // `size(codes) > 0 AND isnotnull(codes)` and push it through the alias
    // into pqEncode's join condition, re-running graft_pq_mins twice more
    // per row. The null (subspace, code) rows it keeps drop at the inner
    // equi-join below.
    val enc = pqEncode(corpus, codebooks, m, dims)
      .select(col("vec_id"), posexplode_outer(col("codes")).as(Seq("subspace", "code")))
    val lutD = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(pqCbRow(codebooks, sd)))
      .select(col("query_id"), col("q_emb"), explode(col("cbs")).as("e"))
      .select(col("query_id"), col("e.subspace").as("subspace"), col("e.code").as("code"),
        aggregate(
          zip_with(slice(col("q_emb"), col("e.subspace") * sd + 1, lit(sd)),
            col("e.c"), (x, c) => {
              val diff = x.cast(DoubleType) - c
              floor(diff * diff * lit(1e12) + lit(0.5)).cast(LongType)
            }),
          lit(0L), (acc, v) => acc + v).as("d"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adist_q"), col("vec_id"))
    enc.join(broadcast(lutD), Seq("subspace", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("d")).as("adist_q"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("vec_id"), col("adist_q").cast(LongType).as("adist_q"),
        col("rank").cast(LongType).as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Margin-based candidate pair mining between two embedding sets (the
    * CCMatrix/LASER bitext-mining score): a pair (a, b) scores
    * `margin = cos(a,b) / ((avgₖ(a) + avgₖ(b)) / 2)` where avgₖ(x) is the
    * mean cosine of x's k nearest neighbors on the OTHER side — a pair
    * counts only if it stands out from BOTH endpoints' neighborhoods,
    * which kills hub vectors that are everybody's nearest neighbor.
    *
    * `bucketCol = Some(c)`: candidates come from a shuffle equi-join on
    * the coarse bucket (IVF-style; at 100 TB bucket count grows ~√n so
    * per-bucket work stays bounded) — the scale path. `None`: the full
    * cross product — the exact baseline, verification scale only.
    *
    * One scored relation feeds BOTH direction ranks as two sequential
    * window ops (no recompute, no second join); only the ≤ k(|A|+|B|)
    * surviving candidate rows are checkpointed. All cosines are
    * 6-rounded, neighborhood means are decimal-exact, so `margin` is
    * bit-portable. Returns (a_id, b_id, cos, margin, rank) for forward
    * top-k pairs with margin ≥ `threshold`. */
  def marginMine(a: DataFrame, b: DataFrame, k: Int, threshold: Double,
                 bucketCol: Option[String] = None,
                 maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def side(df: DataFrame, p: String) = {
      val cols = Seq(col("vec_id").as(s"${p}id"),
        col("embedding").as(s"${p}emb"),
        graft.plans.DotQExpr(col("embedding"), col("embedding")).as(s"${p}norm")) ++
        bucketCol.map(c => col(c).as(s"${p}bucket"))
      df.select(cols: _*)
    }
    val sa = side(a, "a_")
    val sb = side(b, "b_")
    val joined = bucketCol match {
      case Some(_) =>
        // One union-side cap on the COMBINED per-bucket population
        // (same shape as Dedup.crossLshPairs): a hot cluster floods
        // Σ|Aᵦ|·|Bᵦ| no matter which side its rows came from — see
        // bucketedNearDupPairs' scaladoc for the clustered-corpus
        // measurements that make this guard load-bearing.
        val u = sa.select(col("a_id").as("vid"), col("a_emb").as("emb"),
            col("a_norm").as("nrm"), lit(true).as("is_a"),
            lit(0).as("band"), col("a_bucket").as("key"))
          .unionByName(sb.select(col("b_id").as("vid"), col("b_emb").as("emb"),
            col("b_norm").as("nrm"), lit(false).as("is_a"),
            lit(0).as("band"), col("b_bucket").as("key")))
        def cols(p: String) = Seq(col("vid").as(s"${p}id"),
          col("emb").as(s"${p}emb"), col("nrm").as(s"${p}norm"))
        Dedup.capBuckets(u, maxBucket, "margin_bucket")
          .bucketJoin(cols("a_"), cols("b_"), Some("is_a"))
      case None    => sa.crossJoin(sb)
    }
    val scored = joined.withColumn("cos",
      pairCos(col("a_emb"), col("a_norm"), col("b_emb"), col("b_norm")))
      .select(col("a_id"), col("b_id"), col("cos"))
    val wF = Window.partitionBy("a_id").orderBy(desc("cos"), asc("b_id"))
    val wB = Window.partitionBy("b_id").orderBy(desc("cos"), asc("a_id"))
    val kept = Ckpt.local(scored
      .withColumn("r_fwd", row_number().over(wF))
      .withColumn("r_bwd", row_number().over(wB))
      .filter(col("r_fwd") <= k || col("r_bwd") <= k))
    def nbhdAvg(idCol: String, rankCol: String, out: String) =
      kept.filter(col(rankCol) <= k).groupBy(idCol)
        .agg((Det.dsum(col("cos"), 6) / count(lit(1))).as(out))
    val avgA = nbhdAvg("a_id", "r_fwd", "avg_a")
    val avgB = nbhdAvg("b_id", "r_bwd", "avg_b")
    kept.filter(col("r_fwd") <= k)
      .join(avgA, "a_id").join(avgB, "b_id")
      .withColumn("margin", Det.roundAt(
        col("cos") * 2.0 / (col("avg_a") + col("avg_b")), 6))
      .filter(col("margin") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos"), col("margin"),
        col("r_fwd").cast(LongType).as("rank"))
      .orderBy("a_id", "rank")
  }
}
