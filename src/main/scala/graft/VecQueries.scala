package graft

import graft.functions.Det
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Embedding / similarity-search workload over the `embeddings` table
  * (`vec_id bigint, embedding array<float>, label int`): brute-force
  * cosine top-k (the exact baseline), IVF-bucketed top-k (the scale
  * path), and embedding-cosine near-dedup.
  *
  * Cosines use [[graft.functions.VectorFns.cosineQ]] — elementwise
  * products quantized to integer 1e-12 units then summed exactly — so the
  * DuckDB oracle reproduces every similarity bit-for-bit.
  */
object VecQueries {
  import Queries.tbl

  /** DuckDB mirror of VectorFns.dotQ: Σ round(aᵢ·bᵢ·1e12) as BIGINT. */
  private def dotQSql(a: String, b: String) =
    s"""CAST(list_sum(list_transform(range(1, len($a) + 1),
        i -> CAST(floor(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) * 1e12 + 0.5) AS BIGINT))) AS BIGINT)"""
  private def cosQSql(a: String, b: String) = {
    val (na, nb, ab) = (dotQSql(a, a), dotQSql(b, b), dotQSql(a, b))
    s"""CASE WHEN $na = 0 OR $nb = 0 THEN 0.0
        ELSE CAST($ab AS DOUBLE) / sqrt(CAST($na AS DOUBLE) * CAST($nb AS DOUBLE)) END"""
  }
  private def cos6(a: String, b: String) = Det.roundAtSql(cosQSql(a, b), 6)

  /** Query set: every 100th vector, capped at vec_id < 5000 — a CONSTANT
    * ≤50 queries at any scale (5 at sf0.01, 50 at sf0.1 and beyond), so
    * the broadcast query side never grows with the corpus. */
  private val isQuery = "vec_id % 100 = 0 AND vec_id < 5000"

  // ── adaptive sub-bucketing (the round-7 scale fix) ────────────────────
  // A FIXED-cardinality bucket makes within-bucket pair work quadratic in
  // the corpus (measured: q218's label-only bucket hit 39.5 s at sf3).
  // These helpers derive a sign-LSH sub-bucket whose bit count follows an
  // integer ladder in the corpus size — ⌊log₂(max(1, n/64))⌋ capped at 12,
  // i.e. ~64 vectors per (label, sub) bucket at any scale — with the
  // ladder, the 12 deterministic ±1 hyperplanes, and the quantized-dot
  // sign bits all replayed exactly in DuckDB, so candidate sets stay
  // engine-identical at every corpus size.
  //
  // ROUND-10 CAVEAT (measured on the clustered mixture corpus): the
  // ladder only holds "~64 per bucket" on ISOTROPIC data. Inside a tight
  // cluster every vector shares the centroid's sign bits, so widening
  // the ladder does not split a hot cluster — max bucket grew
  // 158→743→2294 for n 2k→20k→60k on the k=50 power-law corpus. The
  // consumers therefore run their bucket joins through the shared
  // Dedup.DefaultMaxBucket cap (shed-observable, oracle-modeled via
  // eb_ok below), which bounds the blowup without giving up the sign
  // key's blocking recall — quantized-projection shells bound buckets
  // ladder-style but cost 10× blocking recall (SCALE_r10 ivf_clustered).
  private val subPlanes = Similarity.signPlanes(12, 64)

  private def subBits(n: Long): Int =
    math.max(0, math.min(12,
      63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n / 64L)))).toInt

  /** CASE body matching [[subBits]] over a column named `n`. */
  private val subLadder = (0 until 12)
    .map(b => s"WHEN n < ${64L * (1L << (b + 1))} THEN $b").mkString(" ")

  private def planeLit(p: Array[Float]) =
    p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")

  /** The 12-plane sign sketch of `embedding`, as SQL (mirrors
    * [[Similarity.signSketch]] over [[subPlanes]]). */
  private def sk12Sql: String = {
    def dotPlane(k: Int) =
      s"""CAST(list_sum(list_transform(range(1, 65),
          i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * (${planeLit(subPlanes(k))})[i] * 1e12 + 0.5) AS BIGINT))) AS BIGINT)"""
    (0 until 12)
      .map(k => s"CASE WHEN ${dotPlane(k)} >= 0 THEN ${1L << k} ELSE 0 END")
      .mkString(" + ")
  }

  /** Spark side: label#sub bucket column for a corpus of `n` rows.
    * NEVER NULL for the non-null (label, embedding) rows the corpus
    * carries, and declared so via the unreachable coalesce branch: a
    * nullable equi-join key makes the optimizer infer `isnotnull(key)`
    * on both sides, and pushdown inlines the key's definition into the
    * inferred filter — which re-ran the full 12-plane sign sketch
    * (12 DotQ evaluations) per row per side below the projection that
    * binds it once (round-9 plan census, q35/q112). */
  private def adaptiveBucket(n: Long): org.apache.spark.sql.Column =
    coalesce(
      concat(col("label").cast("string"), lit("#"),
        Similarity.signSketch(col("embedding"), subPlanes)
          .bitwiseAND(lit((1L << subBits(n)) - 1L)).cast("string")),
      lit(""))

  /** Oracle CTEs ending in `eb(vec_id, embedding, label, mb)` where `mb`
    * is the label#sub bucket; `countWhere` selects the rows the ladder
    * counts (whole corpus or one side). */
  private def adaptiveBucketCtes(countWhere: String = "TRUE"): String =
    s"""sk12 AS (SELECT vec_id, embedding, label, $sk12Sql AS sk FROM embeddings),
        nc AS (SELECT COUNT(*) AS n FROM sk12 WHERE $countWhere),
        bc AS (SELECT CASE $subLadder ELSE 12 END AS bits FROM nc),
        eb AS (SELECT vec_id, embedding, label,
            CAST(label AS VARCHAR) || '#' ||
              CAST(sk % CAST(pow(2, bits) AS BIGINT) AS VARCHAR) AS mb
          FROM sk12, bc),
        ok_mb AS (SELECT mb FROM eb
          GROUP BY mb HAVING COUNT(*) <= ${graft.operators.Dedup.DefaultMaxBucket}),
        eb_ok AS (SELECT e.* FROM eb e JOIN ok_mb USING (mb))"""

  // q28 — brute-force cosine top-10 per query vector: broadcast the query
  // set, one scan of the corpus, rank-limited window. The exact-ANN
  // baseline; headline vector op.
  private val q28 = Q(
    "q28_ann_brute",
    (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.bruteTopK(emb, emb.filter(expr(isQuery)), 10)
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE $isQuery),
      scored AS (SELECT query_id, e.vec_id, ${cos6("e.embedding", "q_emb")} AS cos
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> query_id),
      r AS (SELECT query_id, vec_id, cos,
        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM scored)
      SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 10
      ORDER BY query_id, rank"""),
    headline = true)

  // q29 — IVF-bucketed top-k: the label column stands in for a coarse
  // k-means assignment; search prunes to the query's bucket. At 100 TB
  // this is the partition-pruned ANN path.
  private val q29 = Q(
    "q29_ann_ivf",
    (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(expr(isQuery)), "label", 10)
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
        FROM embeddings WHERE $isQuery),
      scored AS (SELECT query_id, e.vec_id, ${cos6("e.embedding", "q_emb")} AS cos
        FROM embeddings e JOIN q ON e.label = q_label AND e.vec_id <> query_id),
      r AS (SELECT query_id, vec_id, cos,
        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM scored)
      SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 10
      ORDER BY query_id, rank"""))

  // q30 — embedding-cosine near-duplicate pairs ≥ 0.4 (the corpus carries
  // no near-identical vectors, so the threshold sits at the top of the
  // actual similarity distribution). Brute force at verify scale.
  private val q30 = Q(
    "q30_embed_neardup",
    (s, dir) => Similarity.nearDupPairs(tbl(s, dir, "embeddings"), 0.4),
    Some(s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        ${cos6("a.embedding", "b.embedding")} AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE ${cos6("a.embedding", "b.embedding")} >= 0.4
      ORDER BY id_a, id_b"""))

  // q35 — bucket-pruned near-dup: same scoring as q30 restricted to pairs
  // sharing the coarse bucket (label = stand-in quantizer). At 100 TB the
  // cross join shrinks from n² to Σ bucketᵢ² — the production dedup shape.
  private val q35 = Q(
    "q35_embed_neardup_ivf",
    (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      // bucket = (label, adaptive sign-LSH sub-bucket): a fixed 10-way
      // label bucket makes the within-bucket pair space quadratic (the
      // q218 lesson, measured at sf3); the ladder keeps ~64 vectors per
      // bucket at any scale, candidates mirrored exactly in the oracle
      Similarity.bucketedNearDupPairs(
        emb.withColumn("mbucket", adaptiveBucket(emb.count())), "mbucket", 0.3)
    },
    Some(s"""WITH ${adaptiveBucketCtes()}
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        ${cos6("a.embedding", "b.embedding")} AS cos
      FROM eb_ok a JOIN eb_ok b
        ON a.mb = b.mb AND a.vec_id < b.vec_id
      WHERE ${cos6("a.embedding", "b.embedding")} >= 0.3
      ORDER BY id_a, id_b"""))

  // q36 — the 100 TB sketch path: approx_percentile (t-digest-style, no
  // per-group value collection) and HLL distinct counts. The sketches are
  // approximate by design, so the oracle checks BOUNDS, not values: the
  // query emits the exact anchors plus booleans asserting each sketch
  // lands inside its band (HLL within ±2% of the exact distinct count at
  // rsd 0.01; approx_percentile, whose rank error is ≤ n/1000, inside the
  // exact p45–p55 / p98.5–p99.5 rank bands). DuckDB recomputes the exact
  // anchors and expects every bound flag TRUE — a sketch drifting out of
  // band flips a boolean and fails the hash compare.
  private val q36 = Q(
    "q36_approx_sketches",
    (s, dir) => {
      val li = tbl(s, dir, "lineitem")
      li.agg(
          approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("__hll"),
          countDistinct(col("l_orderkey")).as("exact_orders"),
          approx_percentile(col("l_extendedprice"), lit(0.5), lit(1000))
            .cast(DoubleType).as("__amed"),
          approx_percentile(col("l_extendedprice"), lit(0.99), lit(1000))
            .cast(DoubleType).as("__ap99"),
          percentile(col("l_extendedprice"), lit(0.45)).as("__p45"),
          percentile(col("l_extendedprice"), lit(0.55)).as("__p55"),
          percentile(col("l_extendedprice"), lit(0.985)).as("__p985"),
          percentile(col("l_extendedprice"), lit(0.995)).as("__p995"))
        .select(
          col("exact_orders"),
          (abs(col("__hll") - col("exact_orders")).cast(DoubleType) /
            col("exact_orders") <= 0.02).as("orders_ok"),
          (col("__amed") >= col("__p45") && col("__amed") <= col("__p55")).as("median_ok"),
          (col("__ap99") >= col("__p985") && col("__ap99") <= col("__p995")).as("p99_ok"))
    },
    Some("""SELECT count(DISTINCT l_orderkey) AS exact_orders,
      TRUE AS orders_ok, TRUE AS median_ok, TRUE AS p99_ok
      FROM lineitem"""))

  /** Harness-only forced band-key width (round 13, VERDICT r12 #5): the
    * adaptive ladder derives w from corpus size, so the upper arms of the
    * oracle's b(w) CASE table (w ≥ 11 needs n > 65k) were unreachable at
    * fuzz-scale corpora — a typo there could hide until a 200k-corpus
    * run. `SPARK_GRAFT_LSH_KEY_BITS` pins w directly for BOTH the engine
    * ([[lshKeyBits]]) and the oracle ([[bandedLshCtes]]' `wc` CTE) — read
    * once at class init, same discipline as
    * [[graft.operators.Dedup.DefaultMaxBucket]], so the two can never see
    * different widths. Loud on stderr: a stray inherited env var must
    * never silently re-key a production run. */
  private[graft] val ForcedKeyBits: Option[Int] = {
    val v = GraftConf.current.lshKeyBits
    v.foreach { w =>
      System.err.println(
        s"[graft] LSH band-key width FORCED: keyBits=$w " +
          "(SPARK_GRAFT_LSH_KEY_BITS; harness-only knob — production " +
          "derives the width from corpus size on the adaptive ladder)")
    }
    v
  }

  /** The adaptive band-key width for a corpus of `n` vectors: the least
    * w in [4, 15] with n ≤ 32·2^w (~32 vectors per band bucket on
    * isotropic data at any scale). Single source of truth for the engine
    * side of q47/q298; [[bandedLshCtes]] interpolates the identical
    * ladder into the oracle. [[ForcedKeyBits]] overrides both. */
  private[graft] def lshKeyBits(n: Long): Int =
    ForcedKeyBits.getOrElse((4 to 15).find(b => n <= 32L * (1L << b)).getOrElse(15))

  /** Shared DuckDB CTE chain mirroring [[Similarity.lshNearDupPairs]]
    * with the adaptive key ladder AND the closed-form band count
    * b(w) = [[Similarity.recallBands]] interpolated as CASE arms — the
    * plane literals, ladder, band table, and cap are all rendered from
    * the same Scala constants the engine compiles, so candidate sets
    * match bit-for-bit at every rung. Yields CTEs `nc, wc, bc, pl, bits,
    * bands, ok_bk, shed_bk, bands_ok, cand` (no WITH prefix; callers
    * append; `shed_bk` mirrors the over-cap bucket relation of
    * [[graft.operators.Dedup.capBucketsScoped]] for the shed audit). */
  private def bandedLshCtes: String = {
    val stride = Similarity.PlaneStride
    val bMax = Similarity.recallBands(15)
    val planes = Similarity.signPlanes(bMax * stride, 64)
    // only planes a reachable (band, bit) pair can read: bit < 15 ≤ stride
    val rows = (0 until bMax).flatMap(band =>
      (0 until 15).map(bit => band * stride + bit))
    val values = rows.map(pid => s"($pid, ${planeLit(planes(pid))})")
      .mkString(",\n        ")
    val ladder = (4 to 15)
      .map(b => s"WHEN n <= ${32L * (1L << b)} THEN $b").mkString(" ")
    val bCase = (4 to 15)
      .map(w => s"WHEN $w THEN ${Similarity.recallBands(w)}").mkString(" ")
    val wSelect = ForcedKeyBits
      .map(w => s"SELECT $w AS w FROM nc")
      .getOrElse(s"SELECT CASE $ladder ELSE 15 END AS w FROM nc")
    s"""nc AS (SELECT COUNT(*) AS n FROM embeddings),
      wc AS ($wSelect),
      bc AS (SELECT w, CASE w $bCase END AS nb FROM wc),
      pl AS (SELECT * FROM (VALUES $values) t(pid, pv)),
      bits AS (SELECT e.vec_id, p.pid // $stride AS band, p.pid % $stride AS bit,
          CASE WHEN CAST(list_sum(list_transform(range(1, 65),
            i -> CAST(floor(CAST(e.embedding[i] AS DOUBLE) * CAST(p.pv[i] AS DOUBLE) * 1e12 + 0.5) AS BIGINT))) AS BIGINT) >= 0
          THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS b1
        FROM embeddings e CROSS JOIN pl p CROSS JOIN bc
        WHERE p.pid // $stride < bc.nb AND p.pid % $stride < bc.w),
      bands AS (SELECT vec_id, band,
          CAST(SUM(b1 * (CAST(1 AS BIGINT) << bit)) AS BIGINT) AS key
        FROM bits GROUP BY vec_id, band),
      ok_bk AS (SELECT band, key FROM bands
        GROUP BY band, key HAVING COUNT(*) <= ${graft.operators.Dedup.DefaultMaxBucket}),
      shed_bk AS (SELECT band, key FROM bands
        GROUP BY band, key HAVING COUNT(*) > ${graft.operators.Dedup.DefaultMaxBucket}),
      bands_ok AS (SELECT b.* FROM bands b JOIN ok_bk USING (band, key)),
      cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bands_ok a JOIN bands_ok b
          ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)"""
  }

  // q47 — sign-LSH near-dup: deterministic ±1 hyperplane band keys bucket
  // the corpus (any-band match → candidate, OR-amplified recall);
  // exact-cosine verify only on collisions. The band key WIDTH is
  // adaptive — w = clamp(⌈log₂(n/32)⌉, 4, 15), ~32 vectors per band
  // bucket at any scale — because a fixed 4-bit key space made
  // Σ bucketᵢ² quadratic (the sf3 checkpoint OOM'd this query before
  // the fix). The band COUNT follows the closed form b(w) =
  // Similarity.recallBands (round 12): recall at the declared operating
  // point (cos ≥ 0.9) is ≥ 0.9 at EVERY ladder rung, instead of
  // decaying 0.90 → 0.34 as fixed 4-band keys widened with corpus
  // growth. The oracle receives the identical plane literals, ladder,
  // and band table, so candidate sets match bit-for-bit.
  private val q47 = Q(
    "q47_embed_lsh",
    (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.lshNearDupPairs(emb, 0.2, keyBits = lshKeyBits(emb.count()))
    },
    Some {
      s"""WITH $bandedLshCtes
      SELECT c.id_a, c.id_b, ${cos6("ea.embedding", "eb.embedding")} AS cos
      FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.id_a
        JOIN embeddings eb ON eb.vec_id = c.id_b
      WHERE ${cos6("ea.embedding", "eb.embedding")} >= 0.2
      ORDER BY id_a, id_b""" })

  // q56 — per-label centroids (the IVF coarse-quantizer training step):
  // dimension-wise quantized-exact means, no vector ever collected.
  private val q56 = Q(
    "q56_label_centroids",
    (s, dir) => Similarity.centroids(tbl(s, dir, "embeddings"), "label"),
    Some(s"""WITH e AS (SELECT label AS bucket, CAST(r.range - 1 AS INT) AS dim,
          CAST(floor(CAST(embedding[r.range] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS vq
        FROM embeddings CROSS JOIN range(1, 65) AS r)
      SELECT bucket, dim, COUNT(*) AS n,
        ${Det.roundAtSql("CAST(SUM(vq) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e6)", 6)} AS centroid
      FROM e GROUP BY bucket, dim ORDER BY bucket, dim"""))

  // q57 — one full k-means (Lloyd) iteration: centroids trained from the
  // label partition (q56's op) then every vector reassigned to its
  // nearest centroid; reports per-bucket population and how many vectors
  // moved off their seed label. Quantized-exact distances + min-bucket
  // tie-break make the iteration bit-deterministic in both engines.
  private val q57 = Q(
    "q57_kmeans_step",
    (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.assignToNearest(emb, Similarity.centroids(emb, "label"), 64)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          sum((col("bucket") =!= col("label")).cast("long")).as("n_moved"))
        .orderBy("bucket")
    },
    Some {
      s"""WITH e AS (SELECT label AS bucket, CAST(r.range - 1 AS INT) AS dim,
          CAST(floor(CAST(embedding[r.range] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS vq
        FROM embeddings CROSS JOIN range(1, 65) AS r),
      cent AS (SELECT bucket, dim,
          ${Det.roundAtSql("CAST(SUM(vq) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e6)", 6)} AS centroid
        FROM e GROUP BY bucket, dim),
      carr AS (SELECT bucket, array_agg(centroid ORDER BY dim) AS c
        FROM cent GROUP BY bucket),
      scored AS (SELECT v.vec_id, v.label, cc.bucket,
          CAST(list_sum(list_transform(range(1, 65),
            i -> CAST(floor((CAST(v.embedding[i] AS DOUBLE) - cc.c[i]) *
                            (CAST(v.embedding[i] AS DOUBLE) - cc.c[i]) * 1e12 + 0.5) AS BIGINT)))
            AS BIGINT) AS d
        FROM embeddings v CROSS JOIN carr cc),
      a AS (SELECT vec_id, label, bucket,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, bucket) AS rn
        FROM scored)
      SELECT bucket, COUNT(*) AS n,
        CAST(SUM(CASE WHEN bucket <> label THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
      FROM a WHERE rn = 1 GROUP BY bucket ORDER BY bucket""" })

  // q64 — full k-means (hash-seeded init + 2 Lloyd rounds), bucket
  // populations with id sums pinning exact final membership. The oracle
  // unrolls the identical iterations as generated CTE chains — every
  // round's centroids and assignments are bit-deterministic (quantized
  // sums, min-bucket tie-break), so a fixed-point SQL mirror exists.
  private val q64 = Q(
    "q64_kmeans",
    (s, dir) => Similarity.kmeansBuckets(tbl(s, dir, "embeddings"), k = 8, iters = 2, dims = 64)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("id_sum"))
      .orderBy("bucket"),
    Some(kmeansSql(k = 8, iters = 2)))

  /** DuckDB mirror of [[Similarity.kmeansBuckets]]: assignment CTE a0 from
    * the hash init, then per round i: eᵢ (explode+quantize from aᵢ₋₁),
    * cᵢ (centroids), rᵢ (dense arrays), sᵢ (scored), aᵢ (argmin). */
  private def kmeansSql(k: Int, iters: Int): String = {
    val h = "CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    val ctes = Seq.newBuilder[String]
    ctes += s"a0 AS (SELECT vec_id, CAST($h % $k AS INT) AS bucket FROM embeddings)"
    for (i <- 1 to iters) {
      val p = i - 1
      ctes += s"""e$i AS (SELECT a.bucket, CAST(r.range - 1 AS INT) AS dim,
          CAST(floor(CAST(v.embedding[r.range] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS vq
        FROM a$p a JOIN embeddings v USING (vec_id) CROSS JOIN range(1, 65) AS r)"""
      ctes += s"""c$i AS (SELECT bucket, dim,
          ${Det.roundAtSql("CAST(SUM(vq) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e6)", 6)} AS centroid
        FROM e$i GROUP BY bucket, dim)"""
      ctes += s"""r$i AS (SELECT bucket, array_agg(centroid ORDER BY dim) AS c
        FROM c$i GROUP BY bucket)"""
      ctes += s"""s$i AS (SELECT v.vec_id, cc.bucket,
          CAST(list_sum(list_transform(range(1, 65),
            j -> CAST(floor((CAST(v.embedding[j] AS DOUBLE) - cc.c[j]) *
                            (CAST(v.embedding[j] AS DOUBLE) - cc.c[j]) * 1e12 + 0.5) AS BIGINT)))
            AS BIGINT) AS d
        FROM embeddings v CROSS JOIN r$i cc)"""
      ctes += s"""a$i AS (SELECT vec_id, bucket FROM (
          SELECT vec_id, bucket,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, bucket) AS rn
          FROM s$i) WHERE rn = 1)"""
    }
    s"""WITH ${ctes.result().mkString(",\n")}
      SELECT bucket, COUNT(*) AS n, CAST(SUM(vec_id) AS BIGINT) AS id_sum
      FROM a$iters GROUP BY bucket ORDER BY bucket"""
  }

  // q71 — CONVERGED k-means (driver-loop Lloyd with literal-relation
  // centroids and early stop — see Similarity.kmeansConverged). Because
  // rounds after the fixed point are idempotent, the run at maxIters = 4
  // is bit-identical to 4 unrolled rounds whether or not it stopped
  // early — so the same generated CTE-chain oracle applies.
  private val q71 = Q(
    "q71_kmeans_converged",
    (s, dir) => Similarity
      .kmeansConverged(tbl(s, dir, "embeddings"), k = 8, maxIters = 4, dims = 64)._1
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("id_sum"))
      .orderBy("bucket"),
    Some(kmeansSql(k = 8, iters = 4)))

  // q78 — Johnson–Lindenstrauss random projection (the dim-reduction
  // front of an ANN/clustering pipeline): 64 dims → 4 via deterministic
  // ±1 planes and quantized dots, so the projected values themselves are
  // engine-exact. Aggregates per label with decimal-exact sums of the
  // rounded coordinates. Per-row projection + one small shuffle.
  private val q78 = Q(
    "q78_random_projection",
    (s, dir) => {
      val planes = Similarity.signPlanes(4, 64)
      val proj = graft.functions.VectorFns.randomProject(col("embedding"), planes)
      tbl(s, dir, "embeddings")
        .select(col("label"), proj.as("proj"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          Det.dsum(element_at(col("proj"), 1), 6).as("p0_sum"),
          Det.dsum(element_at(col("proj"), 2), 6).as("p1_sum"),
          Det.dsum(element_at(col("proj"), 3), 6).as("p2_sum"),
          Det.dsum(element_at(col("proj"), 4), 6).as("p3_sum"))
        .orderBy("label")
    },
    Some {
      val planes = Similarity.signPlanes(4, 64)
      val scale = (1e12 * math.sqrt(4.0)).toString
      def planeLit(p: Array[Float]) =
        p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      def projK(k: Int) = Det.roundAtSql(
        s"""CAST(list_sum(list_transform(range(1, 65),
            i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * (${planeLit(planes(k))})[i] * 1e12 + 0.5) AS BIGINT)))
          AS DOUBLE) / $scale""", 6)
      val sums = (0 until 4).map(k =>
        s"CAST(SUM(CAST(p$k AS DECIMAL(28,6))) AS DOUBLE) AS p${k}_sum").mkString(", ")
      s"""WITH proj AS (SELECT label,
          ${(0 until 4).map(k => s"${projK(k)} AS p$k").mkString(", ")}
        FROM embeddings)
      SELECT label, COUNT(*) AS n, $sums
      FROM proj GROUP BY label ORDER BY label"""
    })

  // q85 — symmetric int8 quantization (VectorFns.int8Scale/quantizeInt8):
  // the 4× embedding compression step of a large-scale ANN pipeline,
  // checked end to end — integer code sums are exact, the max
  // dequantization error per label is a fixed-order double pipeline
  // rounded at 9, and the scale column itself is pinned via rounded
  // decimal sums. Per-row narrow math + one small shuffle.
  private val q85 = Q(
    "q85_int8_quantize",
    (s, dir) => {
      val scale = graft.functions.VectorFns.int8Scale(col("embedding"))
      val xd = transform(col("embedding"), x => x.cast(DoubleType))
      val codes = graft.functions.VectorFns.quantizeInt8(col("embedding"), col("scale"))
      tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"), scale.as("scale"))
        .select(col("vec_id"), col("label"), col("scale"),
          codes.as("codes"), xd.as("xd"))
        .select(col("vec_id"), col("label"), col("scale"),
          aggregate(col("codes"), lit(0L), (acc, c) => acc + c).as("code_sum"),
          array_max(zip_with(col("codes"), col("xd"),
            (c, x) => abs(c.cast(DoubleType) / col("scale") - x))).as("vec_err"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(col("code_sum")).as("code_sum_total"),
          Det.roundAt(max(col("vec_err")), 9).as("max_err"),
          Det.dsum(Det.roundAt(col("scale"), 6), 6).as("scale_sum"))
        .orderBy("label")
    },
    Some {
      val xd = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
      s"""WITH base AS (SELECT vec_id, label, $xd AS xd FROM embeddings),
        sc AS (SELECT vec_id, label, xd,
            CASE WHEN list_max(list_transform(xd, x -> abs(x))) > CAST(0.0 AS DOUBLE)
              THEN CAST(127.0 AS DOUBLE) / list_max(list_transform(xd, x -> abs(x)))
              ELSE CAST(1.0 AS DOUBLE) END AS scale
          FROM base),
        qq AS (SELECT vec_id, label, scale,
            list_transform(xd, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS codes,
            xd FROM sc),
        pv AS (SELECT vec_id, label, scale,
            CAST(list_sum(codes) AS BIGINT) AS code_sum,
            list_max(list_transform(range(1, len(codes) + 1),
              i -> abs(CAST(codes[i] AS DOUBLE) / scale - xd[i]))) AS vec_err
          FROM qq)
      SELECT label, COUNT(*) AS n,
        CAST(SUM(code_sum) AS BIGINT) AS code_sum_total,
        ${Det.roundAtSql("MAX(vec_err)", 9)} AS max_err,
        CAST(SUM(CAST(${Det.roundAtSql("scale", 6)} AS DECIMAL(28,6))) AS DOUBLE) AS scale_sum
      FROM pv GROUP BY label ORDER BY label"""
    })

  // q95 — hybrid search: BM25 (term 'join') fused with cosine retrieval
  // (query = vec_id 0's embedding) by reciprocal-rank fusion,
  // score = Σ 1/(60 + rank). The two retrievers run independently —
  // lexical ranks from Rank.bm25TopK, vector top-50 via the distributed
  // TakeOrderedAndProject (orderBy+limit, NOT a global window; the
  // row_number that assigns ranks runs over the already-limited 50-row
  // result) — and meet in a full-outer join on doc id. Every arithmetic
  // step is fixed-order double with CAST-pinned literals, so the fused
  // ranking is bit-identical in both engines.
  private val q95 = Q(
    "q95_hybrid_search",
    (s, dir) => {
      val lex = graft.operators.Rank
        .bm25TopK(tbl(s, dir, "documents"), "doc_id", "text", Seq("join"), topK = 50)
        .select(col("doc_id"), col("rank").as("rank_lex"))
      val emb = tbl(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0L).select(col("embedding").as("q_emb"))
      val vec = emb.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= 0L)
        .select(col("vec_id"),
          Det.roundAt(graft.functions.VectorFns.cosineQ(col("embedding"), col("q_emb")), 6).as("cos"))
        .orderBy(desc("cos"), asc("vec_id")).limit(50)
        .withColumn("rank_vec", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(desc("cos"), asc("vec_id"))).cast("long"))
        .select(col("vec_id").as("doc_id"), col("rank_vec"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("rrf", Det.roundAt(
          coalesce(lit(1.0) / (lit(60.0) + col("rank_lex").cast("double")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("rank_vec").cast("double")), lit(0.0)), 9))
        .orderBy(desc("rrf"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("rank_lex"), col("rank_vec"), col("rrf"))
    },
    Some {
      val rrf = Det.roundAtSql(
        """coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(rank_lex AS DOUBLE)), CAST(0.0 AS DOUBLE))
         + coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(rank_vec AS DOUBLE)), CAST(0.0 AS DOUBLE))""", 9)
      s"""WITH lex AS (SELECT doc_id, rank AS rank_lex
          FROM (${TextQueries.bm25Sql("'join'", 50)})),
        q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
        scored AS (SELECT vec_id, ${cos6("e.embedding", "q_emb")} AS cos
          FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
        vtop AS (SELECT vec_id AS doc_id, cos,
            ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id ASC) AS rank_vec
          FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 50),
        fused AS (SELECT coalesce(lex.doc_id, vtop.doc_id) AS doc_id,
            rank_lex, rank_vec, $rrf AS rrf
          FROM lex FULL OUTER JOIN vtop ON lex.doc_id = vtop.doc_id)
      SELECT doc_id, rank_lex, rank_vec, rrf FROM fused
      ORDER BY rrf DESC, doc_id ASC LIMIT 10"""
    })

  // q112 — SemDeDup apply (semantic dedup, arXiv:2303.09540): within each
  // coarse bucket drop every vector with cosine ≥ 0.3 to a lower-id
  // vector; keep-min-id is deterministic so the survivor set is exact.
  // Per-label survivor counts + id sums pin the exact membership. The
  // candidate relation is q35's bucket-pruned pair join (Σ bᵢ², not n²);
  // the apply is a slim anti join on vec_id.
  private val q112 = Q(
    "q112_semdedup",
    (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      // same adaptive (label, sub) clusters as q35 — SemDeDup's own
      // prescription is a cluster count that grows with the corpus
      // (arXiv:2303.09540 uses k ~ 10-100k on LAION); the fixed 10-way
      // label stand-in was quadratic at sf3
      Similarity.semDedup(
          emb.withColumn("mbucket", adaptiveBucket(emb.count())), "mbucket", 0.3)
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"), sum(col("vec_id")).as("id_sum"))
        .orderBy("label")
    },
    Some(s"""WITH ${adaptiveBucketCtes()},
      dropped AS (SELECT DISTINCT b.vec_id
        FROM eb_ok a JOIN eb_ok b
          ON a.mb = b.mb AND a.vec_id < b.vec_id
        WHERE ${cos6("a.embedding", "b.embedding")} >= 0.3)
      SELECT label, COUNT(*) AS n_kept, CAST(SUM(vec_id) AS BIGINT) AS id_sum
      FROM embeddings e WHERE NOT EXISTS
        (SELECT 1 FROM dropped d WHERE d.vec_id = e.vec_id)
      GROUP BY label ORDER BY label"""))

  // q123 — PCA top component by deterministic power iteration: the Gram
  // matrix is ONE mergeable-aggregate pass (GramAgg, 2,080 longs through
  // the shuffle at any corpus size), the O(dims²) eigen work runs on the
  // driver. The oracle rebuilds the identical quantized Gram relationally
  // and unrolls the same iterations as CTE rounds — exact integer matvecs
  // (HUGEINT ↔ BigInt) with one identically-rounded double divide per
  // round — so the eigenvector matches bit-for-bit.
  private val q123 = Q(
    "q123_pca_top",
    (s, dir) => Similarity.pcaTopComponent(tbl(s, dir, "embeddings"), dims = 64, iters = 3),
    Some(pcaSql(iters = 3)))

  private def pcaSql(iters: Int): String = {
    val ctes = Seq.newBuilder[String]
    ctes += s"""e AS (SELECT vec_id, CAST(i.range AS BIGINT) AS i,
        CAST(floor(CAST(embedding[i.range + 1] AS DOUBLE) * 1e4 + 0.5) AS BIGINT) AS v
      FROM embeddings CROSS JOIN range(0, 64) AS i)"""
    ctes += s"""g AS (SELECT a.i AS i, b.i AS j,
        CAST(SUM(CAST(a.v AS HUGEINT) * b.v) AS HUGEINT) AS g
      FROM e a JOIN e b USING (vec_id) GROUP BY a.i, b.i)"""
    ctes += "x0 AS (SELECT CAST(range AS BIGINT) AS j, CAST(1000000 AS HUGEINT) AS x FROM range(0, 64))"
    for (r <- 1 to iters) {
      val p = r - 1
      ctes += s"y$r AS (SELECT g.i, SUM(g.g * x$p.x) AS y FROM g JOIN x$p ON g.j = x$p.j GROUP BY g.i)"
      ctes += s"m$r AS (SELECT MAX(ABS(y)) AS m FROM y$r)"
      ctes += s"""x$r AS (SELECT i AS j,
          CAST(floor(CAST(y AS DOUBLE) / CAST(m AS DOUBLE) * 1e6 + 0.5) AS HUGEINT) AS x
        FROM y$r, m$r)"""
    }
    s"""WITH ${ctes.result().mkString(",\n")},
      yF AS (SELECT g.i, SUM(g.g * xx.x) AS y FROM g JOIN x$iters xx ON g.j = xx.j GROUP BY g.i),
      ray AS (SELECT SUM(xx.x * yF.y) AS num, SUM(xx.x * xx.x) AS den
        FROM x$iters xx JOIN yF ON xx.j = yF.i)
      SELECT CAST(xx.j AS BIGINT) AS dim, CAST(xx.x AS BIGINT) AS eig_q,
        floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e4 + 0.5) / 1e4 AS lambda
      FROM x$iters xx, ray ORDER BY dim"""
  }

  // q141 — MMR diverse re-rank (maximal marginal relevance): greedy k=8
  // from the query's top-30 candidates, λ=0.7. The oracle UNROLLS the
  // greedy — one CTE pair per step, each picking argmax of
  // λ·rel − (1−λ)·max-sim-to-selected over the not-yet-chosen — so the
  // driver checks the entire selection trajectory, not just the final
  // set. `(1 - λ)` is spelled as a subtraction in BOTH engines (a 0.3
  // literal is NOT the double 1-0.7). Every CTE is MATERIALIZED:
  // DuckDB inlines plain CTEs per reference, and the selall chain
  // references each predecessor twice — unmaterialized, evaluation
  // cost triples per step (3^k re-evaluations of the cosine CTEs).
  private val mmrK = 8
  private val mmrN = 30
  private val mmrLam = 0.7
  private def mmrSql: String = {
    val steps = (2 to mmrK).map { i =>
      s"""sel$i AS MATERIALIZED (SELECT vec_id, rel, score, CAST($i AS BIGINT) AS rank FROM (
            SELECT c.vec_id, c.rel,
              ${Det.roundAtSql(s"$mmrLam * c.rel - (1 - $mmrLam) * ms.m", 6)} AS score
            FROM cand c JOIN (SELECT ia, MAX(sim) AS m FROM sims
                WHERE ib IN (SELECT vec_id FROM selall${i - 1}) GROUP BY ia) ms
              ON ms.ia = c.vec_id
            WHERE c.vec_id NOT IN (SELECT vec_id FROM selall${i - 1}))
          ORDER BY score DESC, vec_id LIMIT 1),
        selall$i AS MATERIALIZED (SELECT * FROM selall${i - 1} UNION ALL SELECT * FROM sel$i)"""
    }.mkString(",\n        ")
    s"""WITH q AS MATERIALIZED (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        cand AS MATERIALIZED (SELECT vec_id, embedding, ${cos6("embeddings.embedding", "qe")} AS rel
          FROM embeddings, q WHERE vec_id <> 0
          ORDER BY rel DESC, vec_id LIMIT $mmrN),
        sims AS MATERIALIZED (SELECT a.vec_id AS ia, b.vec_id AS ib,
            ${cos6("a.embedding", "b.embedding")} AS sim
          FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
        sel1 AS MATERIALIZED (SELECT vec_id, rel, rel AS score, CAST(1 AS BIGINT) AS rank
          FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
        selall1 AS MATERIALIZED (SELECT * FROM sel1),
        $steps
      SELECT rank, vec_id, rel, score FROM selall$mmrK ORDER BY rank"""
  }
  private val q141 = Q(
    "q141_mmr_rerank",
    (s, dir) => Similarity.mmrRerank(tbl(s, dir, "embeddings"),
      queryId = 0L, nCandidates = mmrN, k = mmrK, lambda = mmrLam)
      .orderBy("rank"),
    Some(mmrSql))

  // q142 — TRIPLET MINING for contrastive training data: per query, the
  // top-5 same-label neighbors (hardest positives) and top-5 different-
  // label neighbors (hard negatives). One corpus scan, queries broadcast,
  // per-(query, kind) rank limit → WindowGroupLimit.
  private val q142 = Q(
    "q142_hard_negatives",
    (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.tripletMine(emb, emb.filter(expr(isQuery)), "label", 5)
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
        FROM embeddings WHERE $isQuery),
      scored AS (SELECT query_id, e.vec_id,
          ${cos6("e.embedding", "q_emb")} AS cos,
          CASE WHEN e.label = q_label THEN 'pos' ELSE 'neg' END AS kind
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> query_id),
      r AS (SELECT query_id, kind, vec_id, cos,
        ROW_NUMBER() OVER (PARTITION BY query_id, kind
          ORDER BY cos DESC, vec_id ASC) AS rank
        FROM scored)
      SELECT query_id, kind, vec_id, cos, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 5 ORDER BY query_id, kind, rank"""))

  /** Shared CTE chain mirroring Similarity.pqCodebooks(m=4, k=16,
    * dims=64, iters=1) + pqEncode: hash-init codes → per-subspace
    * codebook means (1e-6-quantized) → argmin reassign → refined
    * codebook → final codes `enc(vec_id, s, code, d)` with integer
    * 1e-12-unit squared-L2 distances. Used by q162/q163 so both oracles
    * derive the IDENTICAL quantizer. */
  private val pqCtes: String = {
    val r6 = (e: String) => Det.roundAtSql(e, 6)
    s"""sub AS (SELECT vec_id, r.range // 16 AS s, r.range % 16 AS sd_i,
          CAST(embedding[r.range + 1] AS DOUBLE) AS v
        FROM embeddings CROSS JOIN range(0, 64) r),
      init AS (SELECT vec_id,
          ${graft.functions.TextFns.portableHashSql("CAST(vec_id AS VARCHAR)")} % 16 AS code
        FROM embeddings),
      cb0 AS (SELECT s, code, sd_i, COUNT(*) AS n,
          CAST(SUM(CAST(floor(v * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sq
        FROM sub JOIN init USING (vec_id) GROUP BY s, code, sd_i),
      cb0c AS (SELECT s, code, sd_i,
          ${r6("CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)")} AS c
        FROM cb0),
      d1 AS (SELECT sub.vec_id, sub.s, cb.code,
          CAST(SUM(CAST(floor((v - c) * (v - c) * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS d
        FROM sub JOIN cb0c cb ON sub.s = cb.s AND sub.sd_i = cb.sd_i
        GROUP BY sub.vec_id, sub.s, cb.code),
      codes1 AS (SELECT vec_id, s, code FROM (
          SELECT vec_id, s, code,
            ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
          FROM d1) WHERE rn = 1),
      cb1 AS (SELECT sub.s, c1.code, sd_i, COUNT(*) AS n,
          CAST(SUM(CAST(floor(v * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sq
        FROM sub JOIN codes1 c1 ON sub.vec_id = c1.vec_id AND sub.s = c1.s
        GROUP BY sub.s, c1.code, sd_i),
      cb1c AS (SELECT s, code, sd_i,
          ${r6("CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)")} AS c
        FROM cb1),
      d2 AS (SELECT sub.vec_id, sub.s, cb.code,
          CAST(SUM(CAST(floor((v - c) * (v - c) * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS d
        FROM sub JOIN cb1c cb ON sub.s = cb.s AND sub.sd_i = cb.sd_i
        GROUP BY sub.vec_id, sub.s, cb.code),
      enc AS (SELECT vec_id, s, code, d FROM (
          SELECT vec_id, s, code, d,
            ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
          FROM d2) WHERE rn = 1)"""
  }

  /** ADC ranking CTEs over [[pqCtes]] (query LUT → approximate distances →
    * rank). Shared by q163 (which emits the ranks) and q195 (which
    * evaluates their recall) so both oracles score the identical search. */
  private val pqAdcRankCtes: String =
    s"""lut AS (SELECT q.vec_id AS query_id, cb.s, cb.code,
          CAST(SUM(CAST(floor((q.v - cb.c) * (q.v - cb.c) * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS d
        FROM (SELECT * FROM sub WHERE $isQuery) q
        JOIN cb1c cb ON q.s = cb.s AND q.sd_i = cb.sd_i
        GROUP BY q.vec_id, cb.s, cb.code),
      adist AS (SELECT l.query_id, e.vec_id, CAST(SUM(l.d) AS BIGINT) AS adist_q
        FROM enc e JOIN lut l ON e.s = l.s AND e.code = l.code
        WHERE e.vec_id <> l.query_id
        GROUP BY l.query_id, e.vec_id),
      r AS (SELECT query_id, vec_id, adist_q,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist_q, vec_id) AS rank
        FROM adist)"""

  // q162 — PRODUCT-QUANTIZATION encode (Jégou et al. 2011): 4 subspaces
  // × 16 codewords trained by hash init + one Lloyd round, every vector
  // compressed to 4 codes (4 bytes vs 256 raw — the layout that makes
  // billion-vector ANN memory-feasible). Codebook training is one tiny
  // aggregate per round; assignment is a shuffle-free broadcast scan.
  // Output: per-vector codes + integer quantization distance.
  private val q162 = Q(
    "q162_pq_encode",
    (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cb = Similarity.pqCodebooks(emb, m = 4, k = 16, dims = 64, iters = 1)
      Similarity.pqEncode(emb, cb, m = 4, dims = 64)
        .select(col("vec_id"),
          element_at(col("codes"), 1).as("c0"),
          element_at(col("codes"), 2).as("c1"),
          element_at(col("codes"), 3).as("c2"),
          element_at(col("codes"), 4).as("c3"),
          col("qdist_q"))
        .orderBy("vec_id")
    },
    Some(s"""WITH $pqCtes
      SELECT vec_id,
        MAX(CASE WHEN s = 0 THEN code END) AS c0,
        MAX(CASE WHEN s = 1 THEN code END) AS c1,
        MAX(CASE WHEN s = 2 THEN code END) AS c2,
        MAX(CASE WHEN s = 3 THEN code END) AS c3,
        CAST(SUM(d) AS BIGINT) AS qdist_q
      FROM enc GROUP BY vec_id ORDER BY vec_id"""))

  // q163 — PQ ADC top-k (asymmetric distance computation): each query
  // builds a 4×16 lookup table of subspace distances to every codeword;
  // a corpus vector's approximate distance is FOUR table lookups on its
  // codes — raw vectors are never read at query time. The LUT is
  // broadcast; scoring is one shuffle-free pass over the code table.
  // The compressed-domain sibling of q28 (exact brute) and q29 (IVF).
  private val q163 = Q(
    "q163_pq_adc",
    (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cb = Similarity.pqCodebooks(emb, m = 4, k = 16, dims = 64, iters = 1)
      Similarity.pqAdcTopK(emb, emb.filter(expr(isQuery)), cb,
        m = 4, dims = 64, topK = 10)
    },
    Some(s"""WITH $pqCtes,
      $pqAdcRankCtes
      SELECT query_id, vec_id, adist_q, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 10 ORDER BY query_id, rank"""))

  // q195 — PQ RECALL@10: how much of the EXACT squared-L2 top-10 does the
  // compressed-domain ADC search (q163) actually return? The eval that
  // decides whether 4-byte codes are usable at 100 TB before anyone ships
  // them — the PQ sibling of q53's LSH-vs-brute recall. Both sides rank by
  // the SAME 1e-12-quantized integer distances with (dist, vec_id)
  // tie-breaks, so the overlap count is exact in both engines: recall is
  // INTEGER hits over 10·|queries|, divided once at the end. Exact side is
  // a broadcast-query corpus pass; at 100 TB the eval runs over a sampled
  // query set exactly like this one (50 queries), so the brute side stays
  // bounded by design.
  private val q195 = Q(
    "q195_pq_recall",
    (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val cb = Similarity.pqCodebooks(emb, m = 4, k = 16, dims = 64, iters = 1)
      val adc = Similarity.pqAdcTopK(emb, emb.filter(expr(isQuery)), cb,
          m = 4, dims = 64, topK = 10)
        .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
      val exact = Similarity.l2TopK(emb, emb.filter(expr(isQuery)), 10)
        .select("query_id", "vec_id")
      exact.join(adc, Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("h"))
        .agg(count(lit(1)).as("n_queries"), sum(col("h")).as("n_hits"),
          min(col("h")).as("min_hits"))
        .select(col("n_queries"), col("n_hits"),
          Det.roundAt(col("n_hits").cast("double")
            / (lit(10.0) * col("n_queries").cast("double")), 6).as("recall_at_10"),
          Det.roundAt(col("min_hits").cast("double") / lit(10.0), 6)
            .as("min_query_recall"))
    },
    Some(s"""WITH $pqCtes,
      $pqAdcRankCtes,
      exact AS (SELECT q.vec_id AS query_id, c.vec_id,
          CAST(SUM(CAST(floor((c.v - q.v) * (c.v - q.v) * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS l2_q
        FROM sub c JOIN (SELECT * FROM sub WHERE $isQuery) q
          ON c.s = q.s AND c.sd_i = q.sd_i
        WHERE c.vec_id <> q.vec_id GROUP BY 1, 2),
      er AS (SELECT query_id, vec_id,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY l2_q, vec_id) AS rn
        FROM exact),
      etop AS (SELECT query_id, vec_id FROM er WHERE rn <= 10),
      atop AS (SELECT query_id, vec_id FROM r WHERE rank <= 10),
      hits AS (SELECT e.query_id, CAST(COUNT(a.vec_id) AS BIGINT) AS h
        FROM etop e LEFT JOIN atop a
          ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        GROUP BY e.query_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        CAST(SUM(h) AS BIGINT) AS n_hits,
        ${Det.roundAtSql(
          "CAST(SUM(h) AS DOUBLE) / (10.0 * CAST(COUNT(*) AS DOUBLE))", 6)} AS recall_at_10,
        ${Det.roundAtSql("CAST(MIN(h) AS DOUBLE) / 10.0", 6)} AS min_query_recall
      FROM hits"""))

  // q196 — IVF RECALL@10 vs exact cosine: the coarse-quantizer loss of
  // q29's partition-pruned search measured against q28's exact ranking —
  // completes the eval pair (every index family in the engine now carries
  // its own recall audit: LSH→q53, PQ→q195, IVF→this). Cosines are the
  // 1e-6-rounded quantized-dot values both engines share; overlap stays
  // integer until two final divisions.
  private val q196 = Q(
    "q196_ivf_recall",
    (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val ivf = Similarity.ivfTopK(emb, emb.filter(expr(isQuery)), "label", 10)
        .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
      val exact = Similarity.bruteTopK(emb, emb.filter(expr(isQuery)), 10)
        .select("query_id", "vec_id")
      exact.join(ivf, Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("h"))
        .agg(count(lit(1)).as("n_queries"), sum(col("h")).as("n_hits"),
          min(col("h")).as("min_hits"))
        .select(col("n_queries"), col("n_hits"),
          Det.roundAt(col("n_hits").cast("double")
            / (lit(10.0) * col("n_queries").cast("double")), 6).as("recall_at_10"),
          Det.roundAt(col("min_hits").cast("double") / lit(10.0), 6)
            .as("min_query_recall"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
        FROM embeddings WHERE $isQuery),
      escore AS (SELECT query_id, e.vec_id, ${cos6("e.embedding", "q_emb")} AS cos
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> query_id),
      er AS (SELECT query_id, vec_id,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
        FROM escore),
      etop AS (SELECT query_id, vec_id FROM er WHERE rn <= 10),
      iscore AS (SELECT query_id, e.vec_id, ${cos6("e.embedding", "q_emb")} AS cos
        FROM embeddings e JOIN q ON e.label = q_label AND e.vec_id <> query_id),
      ir AS (SELECT query_id, vec_id,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
        FROM iscore),
      itop AS (SELECT query_id, vec_id FROM ir WHERE rn <= 10),
      hits AS (SELECT e.query_id, CAST(COUNT(i.vec_id) AS BIGINT) AS h
        FROM etop e LEFT JOIN itop i
          ON i.query_id = e.query_id AND i.vec_id = e.vec_id
        GROUP BY e.query_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        CAST(SUM(h) AS BIGINT) AS n_hits,
        ${Det.roundAtSql(
          "CAST(SUM(h) AS DOUBLE) / (10.0 * CAST(COUNT(*) AS DOUBLE))", 6)} AS recall_at_10,
        ${Det.roundAtSql("CAST(MIN(h) AS DOUBLE) / 10.0", 6)} AS min_query_recall
      FROM hits"""))

  // q298 — banded sign-LSH RECALL vs exact cosine: q47's recall-targeting
  // vector scale path (OR-amplified adaptive-band sketch, adaptive key
  // width, capBuckets-guarded) measured pair-for-pair against the brute
  // O(n²) truth of q28's ranking machinery. Completes the per-index
  // recall audit set (minhash-LSH→q53, PQ→q195, IVF→q196,
  // banded-sign→this): round 10's clustered-corpus probe showed hot
  // clusters stress exactly this path's blocking (every member shares the
  // centroid's sign bits), so the audit runs wherever the corpus dir
  // points — the shipped isotropic set under the driver's gate, the
  // clustered mixture corpora in the SCALE_r12 ladder runs. LSH
  // verification applies the same cosine predicate as brute, so
  // n_common = n_lsh when nothing is shed; the join computes it honestly
  // rather than assuming the subset property. Round 12 adds the
  // OPERATING-POINT columns (`*_hi`, the cos ≥ 0.9 truth bin): with
  // bands = Similarity.recallBands(w), recall_hi carries the declared
  // ≥ 0.9 floor at every ladder rung (absent cap shedding) — the
  // contract is now a first-class oracle-checked output, not a probe.
  // Round 13 adds the SHED AUDIT columns (n_shed_buckets, n_shed_rows,
  // VERDICT r12 #2): the floor contract says "absent cap shedding", and
  // these columns are how a caller SEES whether it applied to this run —
  // zeros when the cap is idle (the shipped corpora), exact
  // DuckDB-matched counts when it fires (the fuzz-CI cap recipes).
  private val q298 = Q(
    "q298_embed_lsh_recall",
    (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val brute = Similarity.nearDupPairs(emb, 0.2)
      val (lshPairs, shedAudit) = Similarity.lshNearDupPairsScoped(emb, 0.2,
        keyBits = lshKeyBits(emb.count()))
      val lsh = lshPairs.select(col("id_a").as("l_a"), col("id_b").as("l_b"))
      val nLsh = lsh.agg(count(lit(1)).as("n_lsh"))
      val hi = col("cos") >= Similarity.RecallTargetCos
      val hit = col("l_a").isNotNull
      brute.join(lsh, col("id_a") === col("l_a") && col("id_b") === col("l_b"), "left")
        .agg(
          count(lit(1)).as("n_brute"),
          coalesce(sum(hit.cast("long")), lit(0L)).as("n_common"),
          coalesce(sum(hi.cast("long")), lit(0L)).as("n_brute_hi"),
          coalesce(sum((hi && hit).cast("long")), lit(0L)).as("n_common_hi"))
        .crossJoin(broadcast(nLsh))
        .crossJoin(broadcast(shedAudit))
        .select(col("n_brute"), col("n_lsh"), col("n_common"),
          Det.roundAt(try_divide(col("n_common").cast(DoubleType),
            col("n_brute").cast(DoubleType)), 6).as("recall"),
          col("n_brute_hi"), col("n_common_hi"),
          Det.roundAt(try_divide(col("n_common_hi").cast(DoubleType),
            col("n_brute_hi").cast(DoubleType)), 6).as("recall_hi"),
          col("n_shed_buckets"), col("n_shed_rows"))
    },
    Some {
      s"""WITH $bandedLshCtes,
      lsh AS (SELECT c.id_a, c.id_b
        FROM cand c
          JOIN embeddings ea ON ea.vec_id = c.id_a
          JOIN embeddings eb ON eb.vec_id = c.id_b
        WHERE ${cos6("ea.embedding", "eb.embedding")} >= 0.2),
      brute AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          ${cos6("a.embedding", "b.embedding")} AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE ${cos6("a.embedding", "b.embedding")} >= 0.2),
      counts AS (SELECT
        (SELECT COUNT(*) FROM brute) AS n_brute,
        (SELECT COUNT(*) FROM lsh) AS n_lsh,
        (SELECT COUNT(*) FROM brute t JOIN lsh p
           ON t.id_a = p.id_a AND t.id_b = p.id_b) AS n_common,
        (SELECT COUNT(*) FROM brute
           WHERE cos >= ${Similarity.RecallTargetCos}) AS n_brute_hi,
        (SELECT COUNT(*) FROM brute t JOIN lsh p
           ON t.id_a = p.id_a AND t.id_b = p.id_b
           WHERE t.cos >= ${Similarity.RecallTargetCos}) AS n_common_hi,
        (SELECT COUNT(*) FROM shed_bk) AS n_shed_buckets,
        (SELECT COUNT(DISTINCT b.vec_id) FROM bands b
           JOIN shed_bk USING (band, key)) AS n_shed_rows)
      SELECT CAST(n_brute AS BIGINT) AS n_brute, CAST(n_lsh AS BIGINT) AS n_lsh,
        CAST(n_common AS BIGINT) AS n_common,
        ${Det.roundAtSql("CAST(n_common AS DOUBLE) / CAST(n_brute AS DOUBLE)", 6)} AS recall,
        CAST(n_brute_hi AS BIGINT) AS n_brute_hi,
        CAST(n_common_hi AS BIGINT) AS n_common_hi,
        ${Det.roundAtSql("CAST(n_common_hi AS DOUBLE) / CAST(n_brute_hi AS DOUBLE)", 6)} AS recall_hi,
        CAST(n_shed_buckets AS BIGINT) AS n_shed_buckets,
        CAST(n_shed_rows AS BIGINT) AS n_shed_rows
      FROM counts""" })

  /** Shared SQL body for q217/q218 — identical margin math, only the
    * candidate generator differs (`CROSS JOIN` vs bucket equi-join). */
  private def marginSql(candJoin: String, k: Int, threshold: String,
                        abCtes: String =
                          """a AS (SELECT vec_id AS a_id, embedding AS a_emb, label AS a_bucket
          FROM embeddings WHERE vec_id % 2 = 0),
        b AS (SELECT vec_id AS b_id, embedding AS b_emb, label AS b_bucket
          FROM embeddings WHERE vec_id % 2 = 1)""") =
    s"""WITH $abCtes,
        scored AS (SELECT a_id, b_id, ${cos6("a_emb", "b_emb")} AS cos
          FROM a $candJoin),
        rk AS (SELECT a_id, b_id, cos,
            ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id ASC) AS r_fwd,
            ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY cos DESC, a_id ASC) AS r_bwd
          FROM scored),
        avga AS (SELECT a_id,
            CAST(SUM(CAST(cos AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_a
          FROM rk WHERE r_fwd <= $k GROUP BY a_id),
        avgb AS (SELECT b_id,
            CAST(SUM(CAST(cos AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_b
          FROM rk WHERE r_bwd <= $k GROUP BY b_id),
        m AS (SELECT rk.a_id, rk.b_id, cos,
            ${Det.roundAtSql("cos * 2.0 / (avg_a + avg_b)", 6)} AS margin,
            CAST(r_fwd AS BIGINT) AS rank
          FROM rk JOIN avga USING (a_id) JOIN avgb USING (b_id)
          WHERE r_fwd <= $k)
      SELECT a_id, b_id, cos, margin, rank FROM m WHERE margin >= $threshold
      ORDER BY a_id, rank"""

  // q217 — MARGIN-BASED PAIR MINING, exact baseline (CCMatrix/LASER
  // bitext-mining score): even/odd vec_ids stand in for the two corpora
  // (e.g. two languages). A pair survives only if its cosine stands out
  // from BOTH endpoints' k-NN neighborhoods — the margin rule that kills
  // hub vectors. Brute cross-product candidates: verification scale
  // only, NOT headline; q218 is the production path.
  private val q217 = Q(
    "q217_margin_mining",
    (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.marginMine(emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), k = 4, threshold = 1.05)
    },
    Some(marginSql("CROSS JOIN b", 4, "1.05")))

  // q218 — margin mining, IVF-bucketed scale path: candidates only
  // within the coarse bucket, so the pair space is Σ|Aᵦ|·|Bᵦ| instead
  // of |A|·|B|. The bucket is (label, sign-LSH sub-bucket) with the
  // sub-bucket bit count ADAPTIVE in the corpus size (integer ladder:
  // bits = ⌊log₂(max(1, n_side/64))⌋, capped at 12 — ~64 vectors per
  // side per bucket at any scale), because a fixed-cardinality bucket
  // makes Σ|Aᵦ|·|Bᵦ| quadratic again as the corpus grows — measured:
  // the label-only variant curved 0.65 s → 2.6 s → 39.5 s across
  // sf0.1/1/3 (super-linear); this form stays ~linear. The ladder, the
  // 12 deterministic ±1 hyperplanes, and the quantized-dot sign bits
  // are all replayed exactly in the oracle, so the candidate set is
  // engine-identical at every corpus size. Neighborhood averages are
  // bucket-local by construction (mirrored exactly in the oracle).
  private val q218 = Q(
    "q218_margin_mining_ivf",
    (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val nSide = emb.filter(col("vec_id") % 2 === 0).count()
      val withB = emb.withColumn("mbucket", adaptiveBucket(nSide))
      Similarity.marginMine(withB.filter(col("vec_id") % 2 === 0),
        withB.filter(col("vec_id") % 2 === 1), k = 4, threshold = 1.05,
        bucketCol = Some("mbucket"))
    },
    Some {
      val abCtes =
        s"""${adaptiveBucketCtes("vec_id % 2 = 0")},
        a AS (SELECT vec_id AS a_id, embedding AS a_emb, mb AS a_bucket
          FROM eb_ok WHERE vec_id % 2 = 0),
        b AS (SELECT vec_id AS b_id, embedding AS b_emb, mb AS b_bucket
          FROM eb_ok WHERE vec_id % 2 = 1)"""
      marginSql("JOIN b ON a_bucket = b_bucket", 4, "1.05", abCtes)
    })

  // q220 — EMBEDDING ISOTROPY profile per coarse bucket: anisotropy =
  // ‖mean vector‖² / mean‖x‖² — the "common-direction" diagnostic (a
  // collapsed/degenerate embedding space scores near 1, an isotropic one
  // near 0; the statistic behind all-but-the-top postprocessing). One
  // pass for the quantized self-norms + one dimension-grain aggregate
  // (rows × dims, but grouped on (bucket, dim) — at 100 TB the shuffle
  // is bucket·dim grain, i.e. tiny). All sums are integer-quantized so
  // the ratio is bit-portable.
  private val q220 = Q(
    "q220_embedding_isotropy",
    (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val norms = emb.select(col("label"),
          graft.plans.DotQExpr(col("embedding"), col("embedding")).as("n2q"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), sum(col("n2q")).as("sum_n2q"))
      val meanNorm = emb
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("xq", floor(col("x").cast(DoubleType) * lit(1e6) + lit(0.5)).cast("long"))
        .groupBy("label", "dim")
        .agg(sum(col("xq")).as("sxq"), count(lit(1)).as("nd"))
        .withColumn("m", col("sxq").cast(DoubleType) / (col("nd").cast(DoubleType) * lit(1e6)))
        .withColumn("m2q", floor(col("m") * col("m") * lit(1e12) + lit(0.5)).cast("long"))
        .groupBy("label").agg(sum(col("m2q")).as("mean_norm2q"))
      norms.join(meanNorm, "label")
        .select(col("label").cast("long").as("label"), col("n"),
          Det.roundAt(col("sum_n2q").cast(DoubleType)
            / (col("n").cast(DoubleType) * lit(1e12)), 6).as("avg_norm2"),
          Det.roundAt(col("mean_norm2q").cast(DoubleType) / lit(1e12), 6).as("mean_vec_norm2"),
          Det.roundAt(col("mean_norm2q").cast(DoubleType) * col("n").cast(DoubleType)
            / col("sum_n2q").cast(DoubleType), 6).as("anisotropy"))
        .orderBy("label")
    },
    Some(s"""WITH n2 AS (SELECT label, ${dotQSql("embedding", "embedding")} AS n2q
          FROM embeddings),
        agg1 AS (SELECT label, COUNT(*) AS n, CAST(SUM(n2q) AS BIGINT) AS sum_n2q
          FROM n2 GROUP BY label),
        dd AS (SELECT label, u.i AS dim,
            CAST(floor(CAST(embedding[u.i + 1] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS xq
          FROM embeddings, unnest(range(0, len(embedding))) AS u(i)),
        dm AS (SELECT label, dim, CAST(SUM(xq) AS BIGINT) AS sxq, COUNT(*) AS nd
          FROM dd GROUP BY 1, 2),
        mm AS (SELECT label, CAST(SUM(CAST(floor(
            (CAST(sxq AS DOUBLE) / (CAST(nd AS DOUBLE) * 1000000.0))
            * (CAST(sxq AS DOUBLE) / (CAST(nd AS DOUBLE) * 1000000.0))
            * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS mean_norm2q
          FROM dm GROUP BY label)
      SELECT CAST(label AS BIGINT) AS label, n,
        ${Det.roundAtSql("CAST(sum_n2q AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12)", 6)} AS avg_norm2,
        ${Det.roundAtSql("CAST(mean_norm2q AS DOUBLE) / 1e12", 6)} AS mean_vec_norm2,
        ${Det.roundAtSql(
          "CAST(mean_norm2q AS DOUBLE) * CAST(n AS DOUBLE) / CAST(sum_n2q AS DOUBLE)", 6)} AS anisotropy
      FROM agg1 JOIN mm USING (label) ORDER BY label"""))

  // q243 — LABEL-NOISE DETECTION via k-NN disagreement (confident-
  // learning style data QA): for each audited vector, do its 5 nearest
  // neighbors' labels out-vote its own? Disagreements are mislabeling
  // suspects. Reuses q28's broadcast-query brute scorer on the constant
  // audit sample; majority is a deterministic (count desc, label asc)
  // rank. Label-grain rollup.
  private val q243 = Q(
    "q243_label_noise_knn",
    (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val audit = emb.filter(expr(isQuery))
      val nn = Similarity.bruteTopK(emb, audit, 5)
        .join(broadcast(emb.select(col("vec_id"), col("label").as("nb_label"))),
          "vec_id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("votes"), asc("nb_label"))
      val majority = nn.groupBy("query_id", "nb_label")
        .agg(count(lit(1)).as("votes"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("nb_label").as("maj_label"))
      audit.select(col("vec_id").as("query_id"), col("label").as("own_label"))
        .join(majority, "query_id")
        .groupBy(col("own_label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_audited"),
          sum((col("maj_label") =!= col("own_label")).cast("long"))
            .as("n_suspect"))
        .withColumn("suspect_rate", Det.roundAt(
          col("n_suspect").cast("double") / col("n_audited").cast("double"), 6))
        .orderBy("label")
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS own_label
          FROM embeddings WHERE $isQuery),
        scored AS (SELECT query_id, own_label, e.vec_id, e.label AS nb_label,
            ${cos6("e.embedding", "q_emb")} AS cos
          FROM embeddings e CROSS JOIN q WHERE e.vec_id <> query_id),
        nn AS (SELECT query_id, own_label, nb_label FROM (
            SELECT query_id, own_label, nb_label, cos,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cos DESC, vec_id ASC) AS rank
            FROM scored) z WHERE rank <= 5),
        maj AS (SELECT query_id, own_label, nb_label AS maj_label FROM (
            SELECT query_id, own_label, nb_label, COUNT(*) AS votes,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY COUNT(*) DESC, nb_label ASC) AS rk
            FROM nn GROUP BY query_id, own_label, nb_label) z WHERE rk = 1)
      SELECT CAST(own_label AS BIGINT) AS label, COUNT(*) AS n_audited,
        CAST(SUM(CASE WHEN maj_label <> own_label THEN 1 ELSE 0 END) AS BIGINT)
          AS n_suspect,
        ${Det.roundAtSql(
          "CAST(SUM(CASE WHEN maj_label <> own_label THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)",
          6)} AS suspect_rate
      FROM maj GROUP BY own_label ORDER BY label"""))

  // q283 — INT8 QUANTIZATION AUDIT (the serving/storage dial next to
  // PQ q162: affine per-dimension int8 shrinks an embedding store 4×,
  // and this is the fidelity report that says whether it's safe): per
  // dim, min/max calibration → scale = (max−min)/255, quantize
  // q = clamp(⌊(v−min)/scale + ½⌋, 0, 255), and report the
  // reconstruction RMSE and max |error|. Plan: posexplode to value
  // grain (map-side partial agg collapses it to 64 dim rows), stats
  // broadcast back onto the value stream, error moments as INTEGER
  // micro-unit sums (err²·1e15, |err|·1e9 — decimal-summed so the
  // 1e11-value corpus can't overflow) — both engines agree bitwise.
  // At 100 TB: two corpus map passes (stats, errors), dim-grain
  // shuffles only; an element-wise array aggregator would save the
  // explode but the shuffled volume is already dim-grain.
  private val q283 = Q(
    "q283_int8_quant_audit",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val e = tbl(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "v0")))
        .select(col("dim").cast("long").as("dim"), col("v0").cast(DoubleType).as("v"))
      val stats = e.groupBy("dim").agg(min("v").as("mn"), max("v").as("mx"))
      val sc = (col("mx") - col("mn")) / lit(255.0)
      val qv = least(greatest(floor((col("v") - col("mn")) / sc + lit(0.5)),
        lit(0.0)), lit(255.0))
      val err = when(sc === 0.0, lit(0.0))
        .otherwise(col("v") - (col("mn") + qv * sc))
      e.join(broadcast(stats), "dim")
        .select(col("dim"), col("mn"), col("mx"),
          floor(err * err * lit(1e15) + lit(0.5)).cast(DecimalType(38, 0)).as("e2"),
          floor(abs(err) * lit(1e9) + lit(0.5)).cast("long").as("ae"))
        .groupBy("dim", "mn", "mx")
        .agg(sum(col("e2")).as("s2"), max(col("ae")).as("mae"),
          count(lit(1)).as("n"))
        .select(col("dim"),
          Det.roundAt(col("mn"), 6).as("mn"),
          Det.roundAt(col("mx"), 6).as("mx"),
          Det.roundAt((col("mx") - col("mn")) / lit(255.0), 9).as("q_scale"),
          Det.roundAt(sqrt(col("s2").cast(DoubleType) / lit(1e15)
            / col("n").cast(DoubleType)), 9).as("rmse"),
          (col("mae").cast(DoubleType) / lit(1e9)).as("max_abs_err"))
        .orderBy("dim")
    },
    Some(s"""WITH e AS (SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
          FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)),
        st AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM e GROUP BY dim),
        j AS (SELECT e.dim, mn, mx, v, (mx - mn) / 255.0 AS sc
          FROM e JOIN st ON st.dim = e.dim),
        q AS (SELECT dim, mn, mx,
            CASE WHEN sc = 0.0 THEN 0.0
              ELSE v - (mn + LEAST(GREATEST(floor((v - mn) / sc + 0.5), 0.0), 255.0) * sc)
            END AS err
          FROM j),
        g AS (SELECT dim, mn, mx,
            SUM(CAST(floor(err * err * 1e15 + 0.5) AS BIGINT)) AS s2,
            MAX(CAST(floor(abs(err) * 1e9 + 0.5) AS BIGINT)) AS mae,
            COUNT(*) AS n
          FROM q GROUP BY 1, 2, 3)
      SELECT CAST(dim AS BIGINT) AS dim,
        ${Det.roundAtSql("mn", 6)} AS mn,
        ${Det.roundAtSql("mx", 6)} AS mx,
        ${Det.roundAtSql("(mx - mn) / 255.0", 9)} AS q_scale,
        ${Det.roundAtSql(
          "sqrt(CAST(s2 AS DOUBLE) / 1e15 / CAST(n AS DOUBLE))", 9)} AS rmse,
        CAST(mae AS DOUBLE) / 1e9 AS max_abs_err
      FROM g ORDER BY dim"""))

  // q287 — MATRYOSHKA TRUNCATION FIDELITY (the audit behind serving
  // MRL-style embeddings at reduced dimension): for each truncation
  // width d ∈ {8,16,32,64}, (a) the mean energy fraction the first d
  // dims retain (vectors are unit-norm, so this is the norm² of the
  // prefix), and (b) the mean absolute cosine distortion over a
  // deterministic linear pair set (vec i vs vec i+1 — n−1 pairs, one
  // sort-merge join, NO quadratic pair set). All cosines go through the
  // quantized-integer dot path and round at 6 dp before the delta, and
  // per-row metrics quantize to integer micro-units before summing, so
  // both engines aggregate exact integers. Everything is computed in ONE
  // pass per side: the 4 widths are 4 columns of the same projection,
  // unpivoted at the end — scan cost is independent of the width count.
  // The d=64 row is a built-in sanity check (delta must be 0).
  private val q287 = Q(
    "q287_matryoshka_fidelity",
    (s, dir) => {
      import graft.functions.VectorFns
      val dims = Seq(8, 16, 32, 64)
      val e = tbl(s, dir, "embeddings")
      // energy: one scan over vectors
      // the full-vector denominator is bound once: the four width
      // columns each divide by it, and an inlined copy per width would
      // ride on codegen subexpression elimination holding — the aliased
      // projection makes one-evaluation the plan's shape, not a codegen
      // courtesy (round-9 plan census)
      val en = e.select(col("embedding"),
          graft.plans.DotQExpr(col("embedding"), col("embedding"))
            .cast("double").as("__den"))
        .select(dims.map { d =>
          floor(Det.roundAt(
            graft.plans.DotQExpr(slice(col("embedding"), 1, d),
              slice(col("embedding"), 1, d)).cast("double")
            / col("__den"),
            6) * lit(1e6) + lit(0.5)).cast("long").as(s"en$d")
        }: _*).agg(count(lit(1)).as("nv"), dims.map(d =>
          sum(col(s"en$d")).as(s"sen$d")): _*)
      // cosine distortion: adjacent pairs (vec_id, vec_id + 1)
      val a = e.select(col("vec_id").as("ida"), col("embedding").as("ea"))
      val b = e.select((col("vec_id") - 1).as("ida"), col("embedding").as("eb"))
      def cos6c(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        Det.roundAt(VectorFns.cosineQ(x, y), 6)
      val pairs = a.join(b, "ida")
      // same shape for the full-width cosine each delta subtracts
      val de = pairs.select(col("ea"), col("eb"),
          cos6c(col("ea"), col("eb")).as("__cosfull"))
        .select(dims.map { d =>
          floor(abs(cos6c(slice(col("ea"), 1, d), slice(col("eb"), 1, d))
            - col("__cosfull")) * lit(1e6) + lit(0.5))
            .cast("long").as(s"d$d")
        }: _*).agg(count(lit(1)).as("np"), dims.map(d =>
          sum(col(s"d$d")).as(s"sd$d")): _*)
      val stacked = en.crossJoin(broadcast(de)).select(col("nv"), col("np"), expr(
        """stack(4, 8, sen8, sd8, 16, sen16, sd16, 32, sen32, sd32,
                 64, sen64, sd64) AS (trunc_dim, sen, sd)"""))
      stacked.select(col("trunc_dim").cast("long").as("trunc_dim"),
          col("np").as("n_pairs"),
          Det.roundAt(col("sen").cast("double") / lit(1e6)
            / col("nv").cast("double"), 6).as("mean_energy_frac"),
          Det.roundAt(col("sd").cast("double") / lit(1e6)
            / col("np").cast("double"), 6).as("mean_abs_cos_delta"))
        .orderBy("trunc_dim")
    },
    Some {
      val dims = Seq(8, 16, 32, 64)
      def enQ(d: Int) =
        s"""CAST(floor(${Det.roundAtSql(
          s"CAST(${dotQSql(s"embedding[1:$d]", s"embedding[1:$d]")} AS DOUBLE)" +
          s" / CAST(${dotQSql("embedding", "embedding")} AS DOUBLE)", 6)}
          * 1e6 + 0.5) AS BIGINT)"""
      def deQ(d: Int) =
        s"""CAST(floor(abs(${cos6(s"ea[1:$d]", s"eb[1:$d]")}
          - ${cos6("ea", "eb")}) * 1e6 + 0.5) AS BIGINT)"""
      s"""WITH en AS (SELECT COUNT(*) AS nv,
            ${dims.map(d => s"SUM(${enQ(d)}) AS sen$d").mkString(", ")}
          FROM embeddings),
        p AS (SELECT x.embedding AS ea, y.embedding AS eb
          FROM embeddings x JOIN embeddings y ON y.vec_id = x.vec_id + 1),
        de AS (SELECT COUNT(*) AS np,
            ${dims.map(d => s"SUM(${deQ(d)}) AS sd$d").mkString(", ")}
          FROM p),
        u AS (${dims.map(d =>
            s"SELECT $d AS trunc_dim, sen$d AS sen, sd$d AS sd FROM en, de")
          .mkString(" UNION ALL ")})
      SELECT CAST(trunc_dim AS BIGINT) AS trunc_dim,
        (SELECT CAST(np AS BIGINT) FROM de) AS n_pairs,
        ${Det.roundAtSql("CAST(sen AS DOUBLE) / 1e6 / CAST((SELECT nv FROM en) AS DOUBLE)", 6)}
          AS mean_energy_frac,
        ${Det.roundAtSql("CAST(sd AS DOUBLE) / 1e6 / CAST((SELECT np FROM de) AS DOUBLE)", 6)}
          AS mean_abs_cos_delta
      FROM u ORDER BY trunc_dim"""
    })

  val all: Seq[Q] = Seq(q28, q29, q30, q35, q36, q47, q56, q57, q64, q71,
    q78, q85, q95, q112, q123, q141, q142, q162, q163, q195, q196,
    q217, q218, q220, q243, q283, q287, q298)
}
