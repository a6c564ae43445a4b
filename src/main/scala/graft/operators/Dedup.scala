package graft.operators

import graft.functions.{Det, TextFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for large-scale training-data pipelines: exact
  * (fingerprint groupBy), MinHash+LSH banding, SimHash with banded hamming
  * search, and brute-force n-gram Jaccard as the small-scale oracle
  * baseline.
  *
  * Everything is built from the md5-based portable hash
  * ([[TextFns.portableHash]]) so signatures, band keys, and therefore
  * candidate pairs are bit-identical in any engine — the DuckDB oracle
  * re-derives the *same* pipeline, not an approximation of it.
  *
  * Scale shape (100 TB): signatures are per-row projections (no shuffle);
  * LSH banding explodes k_bands rows per doc and groupBys the band key —
  * one shuffle whose width is bands×docs, with skewed mega-buckets bounded
  * by `maxBucket`; the verify join is a shuffle join on doc_id. Nothing
  * ever collects to the driver, and no O(n²) stage exists in the LSH path.
  */
object Dedup {

  /** Mega-bucket guard shared by the LSH pair generators. Boilerplate text
    * (license headers, templated pages) lands thousands of docs on one
    * (band, key) — locally O(b²) candidate explosion at corpus scale. The
    * per-bucket size is a window count over the banding shuffle's own key
    * (no extra join); rows in buckets over `maxBucket` are DROPPED, not
    * salted — salting would split a bucket and silently change the
    * candidate set per run, dropping is deterministic and auditable. The
    * drop is never silent: `lhs` carries an `observe` metric
    * (`<tag>_cap`: rows_in_dropped_buckets, max_bucket) that
    * [[graft.GraftSession]]'s listener WARN-logs on any direct action.
    * Returns (observed lhs, plain rhs) — the metric sits on one join side
    * only so the self-join never duplicates the CollectMetrics name, and
    * the name carries a per-invocation sequence number so two capped
    * operators composed into ONE plan (e.g. a union of two
    * [[minhashLshPairs]] calls) can't collide either. */
  private val capSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Default LSH bucket cap. 100000 everywhere in production: sized so it
    * never fires below corpus scale and only sheds boilerplate
    * mega-buckets. Env-overridable (`SPARK_GRAFT_LSH_MAX_BUCKET`) for
    * HARNESS runs only — the cap-firing experiments (SCALE_r10
    * `lsh_cap_fire`) lower it on a boilerplate-planted corpus to measure
    * shed-rate vs pair-recall with engine and oracle under the SAME cap
    * (the oracle CTEs interpolate this constant, so parity is provable
    * while the cap fires, not only while it is idle). Read once at class
    * init: queries and oracle SQL are built in the same JVM, so the two
    * can never see different values. */
  val DefaultMaxBucket: Int = {
    val v = graft.GraftConf.current.lshMaxBucket
    // A stray inherited env var would silently lower the cap for every
    // LSH operator AND every oracle CTE in a run — shed results would
    // look like normal output. Make a non-default cap loud in the run's
    // stderr artifacts (class init is the only safe place: the value is
    // read exactly once, before any query or oracle is built).
    if (v != graft.GraftConf.DefaultLshMaxBucket)
      System.err.println(
        s"[graft] LSH bucket cap OVERRIDDEN: DefaultMaxBucket=$v " +
          "(SPARK_GRAFT_LSH_MAX_BUCKET; harness-only knob — production runs " +
          "expect 100000; capped operators will shed over-cap buckets)")
    v
  }

  private[operators] def capBuckets(banded: DataFrame, maxBucket: Int,
                                    tag: String): (DataFrame, DataFrame) = {
    val (l, r, _, _, _) = capBucketsScoped(banded, maxBucket, tag); (l, r)
  }

  /** [[capBuckets]] plus the shed audit: the third element is the
    * DISTINCT non-(band,key) tuples (for the LSH callers: doc ids) that
    * appear in at least one over-cap bucket, the fourth the over-cap
    * (band, key) buckets themselves — both computed from the SAME banded
    * checkpoint the candidate join reads, so exposing shed volume costs
    * one group-by over the materialized slim relation, never a second
    * corpus pass. A production funnel reports these numbers (see q119's
    * `lsh_capped` row and q298's `n_shed_*` columns): capping is
    * deterministic and loud in the logs, but a report that doesn't carry
    * the shed count invites treating "0 pairs found" and "pairs shed by
    * the cap" as the same outcome.
    *
    * The FIFTH element is the banded checkpoint itself: callers that need
    * further passes over the same exploded relation (e.g. winnowing's
    * document-frequency and prefix builds) must read this materialization
    * instead of re-deriving the lazy input — otherwise the exploded index
    * is materialized twice (round-14 ADVICE). */
  private[operators] def capBucketsScoped(banded: DataFrame, maxBucket: Int,
      tag: String): (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val obsName = s"${tag}_${capSeq.incrementAndGet()}_cap"
    // The slim banded relation is checkpointed once (the self-join must
    // never re-derive signatures per side). Bucket sizes come from a
    // groupBy — partial map-side aggregation, unlike a window count which
    // would shuffle every banded row — and only the OVER-CAP keys (at
    // most n_rows/maxBucket of them; in practice a handful of boilerplate
    // buckets) are broadcast into a left-anti join, so the banded rows
    // themselves reach the candidate self-join without an extra shuffle.
    // The observe metric rides the lhs copy only: a duplicated
    // CollectMetrics name inside the self-join would fail analysis.
    val ck = Ckpt.local(banded)
    def overCap(observed: Boolean) = {
      val o = ck.groupBy("band", "key").agg(count(lit(1)).as("__bn"))
        .filter(col("__bn") > maxBucket)
      if (observed)
        o.observe(obsName,
          coalesce(sum(col("__bn")), lit(0L)).as("rows_in_dropped_buckets"),
          coalesce(max(col("__bn")), lit(0L)).as("max_bucket"))
      else o
    }
    def kept(observed: Boolean) =
      ck.join(broadcast(overCap(observed).select("band", "key")),
        Seq("band", "key"), "left_anti")
    val shed = ck.join(broadcast(overCap(observed = false).select("band", "key")),
        Seq("band", "key"), "left_semi")
      .drop("band", "key").distinct()
    (kept(observed = true), kept(observed = false), shed,
      overCap(observed = false).select("band", "key"), ck)
  }

  /** Distinct endpoint ids of a pair list (columns `id_a`, `id_b`) in ONE
    * pass: explode both endpoints per row, then distinct. The
    * `select(id_a).union(select(id_b))` spelling plans the pair subtree
    * once PER UNION BRANCH — for a lazy (non-checkpointed) LSH pair
    * pipeline that re-executes the whole candidate-verify join twice
    * (round-14 ProbeJobs: the two branch jobs were ~1 s each of q158's
    * ~2.6 s warm pass). Row multiset is identical, so every consumer and
    * the oracle see the same ids. */
  def pairEndpointIds(pairs: DataFrame, idA: String = "id_a",
                      idB: String = "id_b"): DataFrame =
    pairs.select(explode(array(col(idA), col(idB))).as("id")).distinct()

  /** Exact-duplicate profile via content fingerprints: one groupBy on a
    * 60-bit fingerprint — the scale path for whole-corpus exact dedup
    * (hash compare, never full-text compare). */
  def exactStats(df: DataFrame, textCol: String): DataFrame = {
    val fp = df.select(TextFns.fingerprint(col(textCol)).as("fp"))
    fp.groupBy("fp").agg(count(lit(1)).as("n"))
      .agg(
        sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("n") > 1, col("n")).otherwise(0)).as("n_dup_docs"),
        sum(when(col("n") > 1, 1).otherwise(0)).as("n_dup_groups"))
  }

  /** MinHash prime modulus (2³¹−1): keeps aᵢ·h′+bᵢ < 2⁶² — no ANSI
    * overflow — and the family portable to any engine's 64-bit ints. */
  val MinhashP: Long = 2147483647L

  /** Deterministic universal-hash seeds (aᵢ odd, bᵢ arbitrary, both < p):
    * one md5 base hash per shingle, then numHashes cheap affine maps —
    * 32× fewer md5 evaluations than seeded string hashing. */
  def minhashSeeds(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val a = ((i + 1) * 2654435761L % MinhashP) | 1L
      val b = ((i + 1) * 1099511628211L) % MinhashP
      (a, b)
    }

  /** MinHash signature: array<long> of `numHashes` minima of
    * (aᵢ·(h(x) mod p) + bᵢ) mod p over the doc's distinct word
    * `shingleN`-shingles, h = the portable md5 hash. All minima come from
    * ONE native pass over the base hashes ([[graft.plans.MinhashSigExpr]])
    * instead of numHashes interpreted transform+array_min evaluations. */
  def minhashSignature(text: Column, numHashes: Int, shingleN: Int): Column =
    graft.plans.MinhashSigExpr(
      graft.plans.Hash60MapExpr(TextFns.wordShingles(text, shingleN), MinhashP),
      numHashes)

  /** One band key per (doc, band): bands of `rowsPerBand` signature slots,
    * keyed by the portable hash of the joined slice. */
  private def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      TextFns.portableHash(
        concat_ws("-", lit(b.toString) +: (0 until rowsPerBand)
          .map(r => element_at(sig, b * rowsPerBand + r + 1).cast(StringType)): _*))
    }: _*)

  /** Band keys from a PRECOMPUTED signature column — the same bucket
    * space (identical literals) as [[minhashLshPairs]], exposed for
    * consumers that maintain the bucket index incrementally instead of
    * self-joining it: the streaming near-dup tagger
    * ([[graft.streaming.Streams]]) and its batch twin
    * [[seqFirstBucketStats]].
    *
    * The signature MUST be projected in its own aliased select and
    * referenced here as a plain column. Inlining
    * `minhashSignature(text, …)` directly (the old `bandKeysCol`) embeds
    * the full shingle→hash→minhash pipeline once per band-key slot, and
    * because the pipeline contains higher-order functions (lambda
    * variables), codegen subexpression elimination CANNOT dedup the
    * copies — measured 32× slower at 32 hashes on the sf10 corpus
    * (163 s vs 5 s for the signature pass). The aliased-projection shape
    * computes it once: CollapseProject declines to merge a non-trivial
    * alias referenced `numHashes` times. */
  def bandKeysFromSig(sig: Column, numHashes: Int, bands: Int): Column =
    bandKeys(sig, bands, numHashes / bands)

  /** Batch twin of the STREAMING LSH near-dup tagger: with arrival order
    * = ascending `idCol`, a doc is suppressed iff ANY of its band buckets
    * already holds an earlier doc — exactly the first-in-bucket state the
    * streaming operator keeps. Two shuffles (bucket window + per-doc
    * combine), no self-join, no pair materialization: this is the O(n)
    * "keep first, drop later near-dups" ingest shape, vs
    * [[minhashLshPairs]]'s O(candidates) pair enumeration.
    * Returns one row: n_docs, n_suppressed, n_kept, kept_id_sum (the id
    * sum pins exact survivor membership for the oracle). */
  def seqFirstBucketStats(df: DataFrame, idCol: String, textCol: String,
                          numHashes: Int = 32, bands: Int = 8,
                          shingleN: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "key")
    df.select(col(idCol).cast(LongType).as("id"),
        minhashSignature(col(textCol), numHashes, shingleN).as("__sig"))
      .select(col("id"),
        posexplode(bandKeysFromSig(col("__sig"), numHashes, bands))
          .as(Seq("band", "key")))
      .withColumn("bmin", min(col("id")).over(w))
      .groupBy("id").agg(min(col("bmin")).as("first_seen"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("first_seen") < col("id"), 1L).otherwise(0L)).as("n_suppressed"),
        sum(when(col("first_seen") >= col("id"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("first_seen") >= col("id"), col("id")).otherwise(0L)).as("kept_id_sum"))
  }

  /** MinHash+LSH near-duplicate pairs: shingle → minhash → band → bucket
    * self-join → exact-Jaccard verify ≥ `threshold`.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, Jaccard rounded to 6.
    * Deterministic end-to-end: both candidate generation (identical band
    * keys) and verification (integer set sizes) are engine-portable.
    * Buckets over `maxBucket` rows are dropped (see [[capBuckets]]) —
    * sized so the cap never fires at verify scale and only sheds
    * boilerplate mega-buckets at corpus scale. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 32, bands: Int = 8,
                      shingleN: Int = 3, threshold: Double = 0.5,
                      maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashLshPairsWithShed(df, idCol, textCol, numHashes, bands, shingleN,
      threshold, maxBucket)._1

  /** [[minhashLshPairs]] plus the cap-shed audit: also returns the
    * distinct doc ids (column `id`) that had at least one band bucket
    * excluded by the cap. A shed doc still enters candidate generation
    * through its other (under-cap) bands — the shed count measures
    * cap EXPOSURE, not docs fully removed from dedup; only pairs whose
    * every shared band is over-cap are lost. Shares the banded
    * checkpoint with the pair
    * join — the audit is one extra group-by over the materialized slim
    * relation. Consumers (the q119 funnel report) surface the count so
    * shed volume is part of the pipeline's output, not only a log line. */
  def minhashLshPairsWithShed(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 32, bands: Int = 8,
                      shingleN: Int = 3, threshold: Double = 0.5,
                      maxBucket: Int = DefaultMaxBucket): (DataFrame, DataFrame) = {
    val rowsPerBand = numHashes / bands
    val docs = df.select(
      col(idCol).as("id"),
      TextFns.wordShingles(col(textCol), shingleN).as("sh"))
    // Signature from precomputed shingles (avoid re-shingling 32×). The
    // banded relation is slim — (id, band, key) only, no shingle arrays —
    // and lineage-truncated (inside capBuckets) before the self-join:
    // otherwise BOTH join sides re-derive the full 32-hash signature
    // pipeline (measured 30× slower at sf0.1). At cluster scale the same
    // holds: materialize the bands×docs relation (persist/exchange),
    // never recompute signatures per join side.
    val banded = docs.select(col("id"),
        graft.plans.MinhashSigExpr(
          graft.plans.Hash60MapExpr(col("sh"), MinhashP),
          numHashes).as("sig"))
      .select(col("id"), posexplode(bandKeys(col("sig"), bands, rowsPerBand)).as(Seq("band", "key")))
    val (lhs, rhs, shedIds, _, _) = capBucketsScoped(banded, maxBucket, "minhash_lsh")
    // Candidates are checkpointed (slim: two ids/row) so the id-set
    // extraction and both verify joins read one materialization of the
    // candidate shuffle instead of re-running it.
    val cand = Ckpt.local(
      lhs.select(col("band"), col("key"), col("id").as("id_a"))
        .join(rhs.select(col("band"), col("key"), col("id").as("id_b")), Seq("band", "key"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates("id_a", "id_b"))
    // Exact-Jaccard verify: shingles are recomputed ONLY for candidate
    // ids — LSH leaves a candidate set orders of magnitude smaller than
    // the corpus, so shingling post-join against a broadcast id set beats
    // re-shingling the whole corpus per join side (at 100 TB: two full
    // text passes saved; the candidate re-scan prunes on id at the
    // parquet reader).
    val ids = pairEndpointIds(cand) // one scan of the cand checkpoint, not two
    // small enough to recompute per verify side (a pruned scan + broadcast
    // probe) — a checkpoint barrier here costs more than it saves
    val candSh =
      df.select(col(idCol).as("id"), col(textCol).as("__text"))
        .join(broadcast(ids), "id") // shingle ABOVE the join: matched rows only
        // sorted ONCE per doc so the per-PAIR verify below is an
        // allocation-free merge walk (SortedJaccardExpr) instead of an
        // array_intersect + array_union hash-set build per candidate
        .select(col("id"),
          sort_array(TextFns.wordShingles(col("__text"), shingleN)).as("sh"))
    val pairs = cand
      .join(candSh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(candSh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", Det.roundAt(
        graft.plans.SortedJaccardExpr(col("sh_a"), col("sh_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
    (pairs, shedIds)
  }

  /** Incremental LSH near-dup join of a NEW batch against an existing
    * corpus INDEX: band buckets are computed on both sides and candidates
    * are only index×incoming — never index×index, which is the point: in
    * a steady-state ingest pipeline the index dwarfs each batch, and
    * re-enumerating its internal pairs per batch would dominate cost.
    * (At 100 TB the index side's banded relation is exactly the
    * band-bucket INDEX a production pipeline keeps materialized between
    * batches — here it is recomputed because the testdata has no
    * persisted index.) Same signature space, cap, and verify as
    * [[minhashLshPairs]], so an incoming doc flagged here would also be
    * flagged by the full self-join. Returns (id_new, id_idx, jaccard ≥
    * `threshold`). */
  def crossLshPairs(index: DataFrame, incoming: DataFrame,
                    idCol: String, textCol: String,
                    numHashes: Int = 32, bands: Int = 8,
                    shingleN: Int = 3, threshold: Double = 0.5,
                    maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val rowsPerBand = numHashes / bands
    def bandedOf(df: DataFrame, isIdx: Boolean) = df.select(
        col(idCol).as("id"), lit(isIdx).as("is_idx"),
        minhashSignature(col(textCol), numHashes, shingleN).as("sig"))
      .select(col("id"), col("is_idx"),
        posexplode(bandKeys(col("sig"), bands, rowsPerBand)).as(Seq("band", "key")))
    // One union-side cap: a mega-bucket floods pairs regardless of which
    // side its rows came from, so the size that matters is the COMBINED
    // bucket population.
    val (lhs, rhs) = capBuckets(
      bandedOf(index, isIdx = true).union(bandedOf(incoming, isIdx = false)),
      maxBucket, "cross_lsh")
    val cand = Ckpt.local(
      lhs.filter(col("is_idx")).select(col("band"), col("key"), col("id").as("id_idx"))
        .join(rhs.filter(!col("is_idx"))
          .select(col("band"), col("key"), col("id").as("id_new")), Seq("band", "key"))
        .select("id_new", "id_idx")
        .dropDuplicates("id_new", "id_idx"))
    def candSh(src: DataFrame, side: String) = {
      val ids = cand.select(col(side).as("id")).distinct()
      src.select(col(idCol).as("id"), col(textCol).as("__text"))
        .join(broadcast(ids), "id")
        // per-doc sort → per-pair merge-walk verify (see minhashLshPairs)
        .select(col("id"),
          sort_array(TextFns.wordShingles(col("__text"), shingleN)).as("sh"))
    }
    cand
      .join(candSh(incoming, "id_new")
        .select(col("id").as("id_new"), col("sh").as("sh_n")), "id_new")
      .join(candSh(index, "id_idx")
        .select(col("id").as("id_idx"), col("sh").as("sh_i")), "id_idx")
      .withColumn("jaccard", Det.roundAt(
        graft.plans.SortedJaccardExpr(col("sh_n"), col("sh_i")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_new", "id_idx", "jaccard")
      .orderBy("id_new", "id_idx")
  }

  /** 32-bit SimHash over distinct word `shingleN`-shingles: bit i is set
    * when at least half the shingle hashes have bit i set (2·ones ≥ n). */
  def simhash(text: Column, shingleN: Int = 3, bits: Int = 32): Column =
    TextFns.bindOnce(
      graft.plans.Hash60MapExpr(TextFns.wordShingles(text, shingleN), 0L)) { hs =>
      val n = size(hs)
      (0 until bits).map { i =>
        val ones = size(filter(hs, h => h.bitwiseAND(lit(1L << i)) =!= 0L))
        when(ones * 2 >= n, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    }

  /** SimHash near-duplicate pairs: band the 32-bit sketch into 4 bytes;
    * pairs sharing any byte at the same position are candidates (guarantees
    * recall for hamming ≤ 3 by pigeonhole); verify bit_count(xor) ≤
    * `maxHamming`. Same LSH shuffle shape as [[minhashLshPairs]]. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, maxHamming: Int = 3,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // The banded relation (id, 64-bit sketch, band, key) is checkpointed
    // inside capBuckets for the same self-join-recompute reason as
    // [[minhashLshPairs]] — the 32-bit sketch costs 32 filters over the
    // shingle hashes and must not be derived once per join side.
    val banded = df.select(col(idCol).as("id"),
        simhash(col(textCol), shingleN).as("sh"))
      .select(col("id"), col("sh"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("sh"), 8 * b).bitwiseAND(255L)): _*)).as(Seq("band", "key")))
    val (l, r) = capBuckets(banded, maxBucket, "simhash")
    val lhs = l.select(col("band"), col("key"), col("id").as("id_a"), col("sh").as("sh_a"))
    val rhs = r.select(col("band"), col("key"), col("id").as("id_b"), col("sh").as("sh_b"))
    lhs.join(rhs, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast(LongType))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  /** Connected components over a near-dup pair list: each doc labeled
    * with the minimum doc id reachable through pairs (its cluster
    * representative). Iterative min-label propagation WITH pointer
    * doubling — per round one edge join (1-hop propagation) + one
    * label self-join (each node jumps to its representative's label,
    * doubling the propagated distance) + one min-aggregate, so a chain
    * of length L converges in O(log L) rounds rather than O(L); on the
    * clique-like clusters near-dedup produces it is still 1-3 rounds.
    * The standard shuffle-based connected-components shape; no
    * driver-side graph, only a scalar convergence check per round.
    *
    * Throws IllegalArgumentException if the checksum has not reached a
    * fixpoint within `maxRounds` rounds (would need a component of
    * diameter ≳ 2^maxRounds) — never returns silently-unconverged
    * labels.
    *
    * Input columns (id_a, id_b); output (id, cluster). */
  def clusters(pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    // materialize pairs BEFORE the union — otherwise both union branches
    // re-derive the (expensive) pair pipeline independently
    val (p, pIds) = Ckpt.localScoped(pairs)
    val (edges, edgeIds) = Ckpt.localScoped(
      p.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(p.select(col("id_b").as("src"), col("id_a").as("dst"))))
    // Round 1 fused into initialization: label(id) = min(id, neighbors) is
    // one groupBy over the edge list — no join, no checkpoint round-trip —
    // and lands exactly where the first propagation round would.
    var labels = edges.select(col("dst").as("id"), col("src").as("cluster"))
      .union(edges.select(col("src").as("id"), col("src").as("cluster")))
      .groupBy("id").agg(min("cluster").as("cluster"))
    // Labels only ever decrease (min-propagation), so an unchanged label
    // checksum proves a fixpoint — one scalar aggregate per round instead
    // of a change-detection join.
    def checksum(df: DataFrame): Long =
      df.agg(coalesce(sum("cluster"), lit(0L))).collect()(0).getLong(0)
    var prev = checksum(labels)
    var prevIds = Set.empty[Int]
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val msgs = edges.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("cluster"))
      // Pointer doubling: every cluster label is itself a node id present
      // in `labels`, so one label self-join rewrites each node's label to
      // its representative's (smaller-or-equal) label — the propagated
      // distance doubles per round, giving O(log diameter) convergence
      // on chains where 1-hop propagation alone would need O(diameter).
      val jump = labels
        .join(labels.select(col("id").as("cluster"), col("cluster").as("c2")),
          "cluster")
        .select(col("id"), col("c2").as("cluster"))
      val (next, nextIds) = Ckpt.localScoped(
        labels.union(msgs).union(jump)
          .groupBy("id").agg(min("cluster").as("cluster")))
      labels = next
      val cur = checksum(labels) // materializes this round's checkpoint …
      Ckpt.releaseIds(spark, prevIds) // … so last round's blocks can go
      prevIds = nextIds
      converged = cur == prev
      prev = cur
      rounds += 1
    }
    if (!converged) { // fail loudly, but free this invocation's blocks first
      Ckpt.releaseIds(spark, pIds ++ edgeIds ++ prevIds)
      require(converged,
        s"Dedup.clusters: min-label propagation not at a fixpoint after " +
          s"$maxRounds rounds (component diameter ≳ 2^$maxRounds?) — " +
          "refusing to return unconverged cluster labels")
    }
    // The final labels are materialized, so the pair/edge checkpoints are
    // no longer reachable from any future action — free them now. The
    // final round's blocks stay until the caller's terminal action, then
    // fall to the session-level Ckpt.release.
    Ckpt.releaseIds(spark, pIds ++ edgeIds)
    labels
  }

  /** End-to-end near-dedup: keep one representative per cluster (the
    * minimum id — deterministic), pass through docs with no near-dup. */
  def dedupByClusters(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = clusters(pairs).filter(col("id") =!= col("cluster")).select("id")
    df.join(drop, df(idCol) === drop("id"), "left_anti")
  }

  /** Brute-force char n-gram Jaccard pairs ≥ `threshold` — the exact
    * baseline the LSH path approximates. O(n²) cross join: correct at
    * verification scale; at 100 TB use [[minhashLshPairs]] (this operator
    * exists precisely to measure its recall). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 5, threshold: Double = 0.8): DataFrame =
    bruteJaccard(df.select(col(idCol).as("id"),
      TextFns.charShingles(col(textCol), n).as("sh")), threshold)

  /** Brute-force WORD n-shingle Jaccard pairs ≥ `threshold` — the exact
    * ground truth for [[minhashLshPairs]]' recall: same shingling, same
    * verify predicate, no banding. O(n²); verify-scale only. */
  def wordJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, threshold: Double = 0.5): DataFrame =
    bruteJaccard(df.select(col(idCol).as("id"),
      TextFns.wordShingles(col(textCol), shingleN).as("sh")), threshold)

  /** Winnowing near-duplicate pairs: rolling-hash fingerprints
    * ([[TextFns.winnowingFingerprints]]) joined through an inverted index
    * — explode (fingerprint, id), self-join on the fingerprint, count
    * shared prints per pair, keep pairs whose overlap
    * `n_shared / min(|fp_a|, |fp_b|)` ≥ `threshold`.
    *
    * The scale shape is the same as [[minhashLshPairs]]: candidate volume
    * is Σ bucketᵢ² over fingerprint buckets (never O(n²)), mega-buckets
    * (a fingerprint shared by half the corpus — boilerplate) are bounded
    * by the same `maxBucket` guard, and texts are never compared — only
    * 60-bit hashes travel through the shuffle. */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 5, w: Int = 4, threshold: Double = 0.5,
                     maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // ROUND 14 REWRITE — prefix-filtered candidate generation. The old
    // shape joined the FULL inverted index against itself and grouped
    // the raw pair stream: boilerplate fingerprints shared by thousands
    // of docs made that Σ bucket² — ~24M candidate rows (575 MB of
    // shuffle) to surface 666 pairs at sf0.1, 86 s of CPU in one stage
    // (ProbeJobs). Same lossless prefix-filter family as
    // [[prefixJaccardPairs]] (Bayardo 2007 / Xiao 2008), min-overlap
    // form: overlap(a,b) = |fps_a ∩ fps_b| / min(|fps_a|,|fps_b|) ≥ τ
    // needs α = ⌈τ·n_small⌉ shared prints, so the SMALLER side's first
    // n − α + 1 prints (any fixed per-doc order; rarest-first chosen so
    // prefix buckets are the df tail) must share a print with the other
    // side ANYWHERE — pairs whose smaller side's prefix hits nothing
    // are provably below τ and are never enumerated. One extra prefix
    // element covers the 1e-6 output rounding (roundAt can admit
    // n_shared/min a half-ulp under τ, i.e. α−1 shared prints).
    //
    // Cap semantics are preserved exactly: shared prints are counted
    // net of over-cap fingerprints (array_except against the over-cap
    // key set — the same keys capBuckets drops from the index, and the
    // same ok_fp CTE the oracle applies), and any pair with α net-of-cap
    // shared prints has, by the same pigeonhole, an UNDER-cap shared
    // print in the smaller side's prefix — so capping never invalidates
    // the pruning. The full-index side keeps the observe metric and a
    // merge hint (a broadcast inverted index is not survivable at
    // corpus scale, and the tiny checkpoint size estimate tempted the
    // planner into exactly that). Measured 90.1 -> 13.6 s warm at sf0.1
    // (ProbeJobs pass 3; remaining time is the fingerprint expression
    // pass plus candidate verify); output verified identical against
    // the unchanged full-join oracle at sf0.01.
    // fps sorted at the source: per-PAIR verify below is a merge walk,
    // and no consumer depends on fingerprint order (explode/size only).
    // Native single-pass fingerprint kernel (round 15): the HOF spelling
    // ran ~3 s of interpreted per-gram lambdas per materialization at
    // sf0.1 (thread dumps: ArrayTransform/Substring.eval); value-equal
    // by construction, pinned in WinnowingFpSpec.
    val docs = Ckpt.local(df.select(col(idCol).as("id"),
      graft.plans.WinnowingFpExpr(TextFns.normText(col(textCol)), k, w).as("fps")))
    // nfp rides the explode so neither join side needs an id-keyed join
    // against a per-doc count relation
    val inv = docs.select(col("id"), size(col("fps")).as("nfp"),
      explode(col("fps")).as("key"), lit(0).as("band"))
    // invCk is the SAME banded checkpoint the candidate join reads —
    // dfreq/pre below read it instead of re-materializing the lazy
    // exploded index a second time (round-14 ADVICE: duplicate
    // storage-memory for the full inverted index)
    val (lhs, _, _, overCap, invCk) = capBucketsScoped(inv, maxBucket, "winnow")
    // global rarity order (df asc, key asc — total and deterministic);
    // the prefix needs only SOME fixed per-doc order for correctness,
    // rarest-first minimizes candidate volume
    val dfreq = invCk.groupBy("key").agg(count(lit(1)).as("cnt"))
    val pre = invCk.join(dfreq, "key")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("cnt"), col("key")))).as("s"))
      .select(col("id"),
        expr("transform(s, x -> x.key)").as("sorted"), size(col("s")).as("nfp"))
      .select(col("id").as("id_x"), col("nfp").as("nfp_x"),
        // n − α + 2 prints: one extra element absorbs the 1e-6 output
        // rounding (roundAt can admit α−1 shared prints). PRECONDITION
        // (ADVICE r14): that one-element slack covers the rounding only
        // while 1/n_fps > 5e-7, i.e. docs under 2,000,000 fingerprints
        // (≈ 8M chars at w=4 — far above any chunked-corpus doc; like
        // q169's 10⁶-token note, raise the slack for book-scale inputs).
        explode(expr(s"slice(sorted, 1, " +
          s"cast(size(sorted) - (ceil($threshold * size(sorted)) - 1) + 1 as int))"))
          .as("key"))
    val full = lhs
      .select(col("id").as("id_y"), col("nfp").as("nfp_y"), col("key"))
    val cand = pre
      // Pin the candidate join's parallelism (round 15): AQE coalesces
      // post-shuffle partitions by JOIN-INPUT size, and this join's
      // input is a few MB of slim prefix rows while its OUTPUT is the
      // Σ bucket² candidate stream (~84 MB / ~5M rows at sf0.1) — the
      // input heuristic under-provisions an output-exploding join by
      // construction (measured: 4 tasks, 3 s wall, 9 s CPU; pinned at
      // defaultParallelism: 32 tasks, q54 warm 6.1 → 3.2 s). Same
      // justification family as the brute baselines' stream-side
      // repartition; scale-adaptive (defaultParallelism = cluster
      // cores), keyed so the merge join's clustering is preserved.
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("key"))
      .join(full.hint("merge"), Seq("key"))
      .filter(col("nfp_x") < col("nfp_y") ||
        (col("nfp_x") === col("nfp_y") && col("id_x") < col("id_y")))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
      .distinct()
    // net-of-cap shared count on candidates only: intersect the raw
    // fingerprint arrays, minus the (rare, usually empty) over-cap keys.
    // BOUND (ADVICE r14): this single-row array holds every over-cap
    // fingerprint — at most n_index_rows / maxBucket keys (a handful of
    // boilerplate prints in practice; ~n/10⁵ worst case), broadcast
    // once. A corpus whose boilerplate makes that array large should
    // compute the net-of-cap count with a left-anti join on the
    // exploded candidate keys instead of this broadcast.
    val capped = overCap.agg(
      coalesce(collect_list(col("key")), array().cast("array<long>")).as("capped_keys"))
    cand
      .join(docs.select(col("id").as("id_a"), col("fps").as("fps_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("fps").as("fps_b")), "id_b")
      .crossJoin(broadcast(capped))
      // cap idle (every shipped corpus): array_except(X, []) = X and the
      // merge walk equals size(array_intersect) on the sorted distinct
      // fps — so the branches agree exactly; the hash-set spelling runs
      // only when over-cap keys actually exist
      .withColumn("n_shared", when(size(col("capped_keys")) === 0,
        graft.plans.SortedIntersectCountExpr(col("fps_a"), col("fps_b")))
        .otherwise(size(array_except(array_intersect(col("fps_a"), col("fps_b")),
          col("capped_keys")))))
      // nfp = |fps| rides the attached arrays — no extra counts joins
      .withColumn("overlap", Det.roundAt(
        col("n_shared").cast(DoubleType) /
          least(size(col("fps_a")), size(col("fps_b"))), 6))
      .filter(col("overlap") >= threshold)
      .select("id_a", "id_b", "overlap")
      .orderBy("id_a", "id_b")
  }

  private def bruteJaccard(docs: DataFrame, threshold: Double): DataFrame = {
    // Still the O(n²) pair enumeration BY DESIGN (this is the recall
    // oracle the LSH paths are measured against — it must not share
    // their candidate-pruning machinery), but the per-pair work is cut
    // two ways (round 15, guide §1.2 "per-task work"):
    //  1. arrays sorted ONCE per doc → per-pair Jaccard is an
    //     allocation-free merge walk (SortedJaccardExpr), not an
    //     array_intersect + array_union hash-set build per pair;
    //  2. a LOSSLESS size-ratio pre-test short-circuits the walk: the
    //     arrays are distinct, so c ≤ min(|a|,|b|) and u ≥ max(|a|,|b|),
    //     hence j = c/u ≤ min/max; roundAt(j,6) ≥ τ needs
    //     j ≥ τ − 5e-7, so any pair with min/max < τ − 1e-6 (the extra
    //     5e-7 dwarfs double rounding on int ratios) can never reach the
    //     output. Both legs verified identical vs the old spelling
    //     (DedupSpec pins the expression; q24/q53 pin the oracle).
    // repartition the stream side: a small single-file corpus would
    // otherwise drive the whole n² compare through ONE task
    val sorted = docs.select(col("id"), sort_array(col("sh")).as("sh"))
    val a = sorted.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    val b = sorted.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b") &&
        least(size(col("sh_a")), size(col("sh_b"))).cast(DoubleType) >=
          greatest(size(col("sh_a")), size(col("sh_b"))).cast(DoubleType) *
            lit(threshold - 1e-6))
      .withColumn("jaccard", Det.roundAt(
        graft.plans.SortedJaccardExpr(col("sh_a"), col("sh_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Benchmark-contamination check: flag training docs whose word
    * `shingleN`-gram overlap with a held-out benchmark set is at least
    * `minRatio` — the train/test leakage scan every eval-safe corpus
    * build runs before training.
    *
    * Scale shape (100 TB corpus vs a benchmark of at most millions of
    * docs): the benchmark's distinct shingle set is one small shuffle and
    * is then BROADCAST; the corpus side is a narrow explode → broadcast
    * semi join → per-doc partial count — the only corpus-wide shuffle
    * carries (doc_id, n_shingles) partial counts, never shingle text.
    * Docs with zero overlapping shingles vanish in the semi join and are
    * never aggregated.
    *
    * Output: (doc_id, n_shingles, n_overlap, overlap_ratio) for flagged
    * docs, ordered by doc id. The ratio is rounded to 6 digits BEFORE the
    * threshold compare so the cut is engine-portable.
    *
    * `explode_outer`, deliberately: a non-outer explode makes
    * InferFiltersFromGenerate add `size(e) > 0 AND isnotnull(e)` below
    * the Generate, predicate pushdown inlines the `__shs` alias into
    * both predicates, and FilterExec gets no codegen subexpression
    * elimination — so the whole tokenize→shingle HOF pipeline ran THREE
    * extra times per corpus row (round-9 plan census). wordShingles
    * never returns an empty or null array (a shorter-than-n doc yields
    * the whole-text singleton), so outer semantics are identical and the
    * inferred filters never existed to begin with. */
  def contamination(docs: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, shingleN: Int = 3,
                    minRatio: Double = 0.2): DataFrame = {
    val sh = TextFns.wordShingles(col(textCol), shingleN)
    val benchShingles = bench.select(explode_outer(sh).as("sh")).distinct()
    docs.select(col(idCol), sh.as("__shs"))
      .select(col(idCol), size(col("__shs")).cast(LongType).as("n_shingles"),
        explode_outer(col("__shs")).as("sh"))
      .join(broadcast(benchShingles), Seq("sh"), "left_semi")
      .groupBy(idCol, "n_shingles")
      .agg(count(lit(1)).as("n_overlap"))
      .withColumn("overlap_ratio", Det.roundAt(
        col("n_overlap").cast(DoubleType) / col("n_shingles"), 6))
      .filter(col("overlap_ratio") >= minRatio)
      .orderBy(idCol)
  }

  /** PageRank over a near-duplicate pair graph, fixed iteration count:
    * a centrality score for canonical-document selection — inside a dup
    * cluster the highest-rank doc is the best "keep" candidate, and the
    * score doubles as a graph-aware weight for mixture sampling.
    *
    * Determinism: double addition is order-sensitive across partitions,
    * so each neighbor contribution is rounded to 12 digits and summed as
    * DECIMAL(28,12) — exact, order-independent — then the damped update
    * is one fixed double formula. The DuckDB oracle unrolls the identical
    * iterations, so ranks match bit-for-bit.
    *
    * Scale shape: `iters` is a small constant, so the lazy plan is
    * constant-depth — deg is one partitioned window over the checkpointed
    * edge list (no self-join); each iteration is one shuffle join
    * (edges ⋈ ranks on src) + one groupBy (dst). Rank state is O(|V|)
    * rows; nothing collects to the driver. The pair pipeline upstream is
    * checkpointed once (not re-derived 1+iters times); its blocks fall to
    * the session-level [[Ckpt.release]] after the caller's action. */
  def pageRank(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
               iters: Int = 3, damping: Double = 0.85): DataFrame = {
    val p = Ckpt.local(pairs.select(col(idA).cast(LongType).as("id_a"),
      col(idB).cast(LongType).as("id_b")))
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
    val withDeg = Ckpt.local(edges.withColumn("deg", count(lit(1)).over(w)))
    var ranks = withDeg.select(col("src").as("id")).distinct()
      .withColumn("rank", lit(1.0))
    for (_ <- 1 to iters) {
      val contrib = withDeg.join(ranks, col("src") === col("id"))
        .select(col("dst"),
          Det.roundAt(col("rank") / col("deg").cast(DoubleType), 12)
            .cast(DecimalType(28, 12)).as("contrib"))
      ranks = contrib.groupBy("dst")
        .agg(sum("contrib").cast(DoubleType).as("s"))
        .select(col("dst").as("id"),
          Det.roundAt(lit(1 - damping) + lit(damping) * col("s"), 12).as("rank"))
    }
    ranks.select(col("id").as("doc_id"), Det.roundAt(col("rank"), 6).as("pagerank"))
      .orderBy(desc("pagerank"), col("doc_id"))
  }

  /** EXACT set-similarity join via prefix filtering (AllPairs/PPJoin
    * family — Bayardo et al. 2007, Xiao et al. 2008): unlike the LSH
    * paths this is lossless — its output is IDENTICAL to the O(n²) brute
    * Jaccard join at the same threshold. Elements sort by global document
    * frequency (rarest first, id tie-break); if J(x,y) ≥ τ the two sets
    * must share an element within each side's first
    * |x| − ⌈τ·|x|⌉ + 1 sorted elements (else the intersection fits in
    * the suffix, < ⌈τ·|x|⌉ ≤ |x∩y|) — so candidates sharing no PREFIX
    * element are skipped without ever being compared.
    *
    * Scale: the posting explode is the same order as the minhash shingle
    * pass; the candidate self-join runs only over prefix postings, which
    * by construction hold the globally RAREST elements — bucket sizes are
    * the inverse-frequency tail, not the corpus. Mega-buckets (a corpus
    * of near-identical docs) still fall under the [[capBuckets]] guard.
    * Verification joins the two slim doc-set sides on id. */
  /** EXACT containment (asymmetric-Jaccard) join: directed pairs where
    * c(A→B) = |A∩B| / |A| ≥ `threshold` — the quote / near-superset
    * detector. Symmetric Jaccard misses a snippet embedded in a much
    * larger document (the union dwarfs the intersection); containment is
    * the measure curation pipelines use to find them.
    *
    * Prefix filter, containment form: |A∩B| ≥ ⌈τ|A|⌉ forces A's
    * (|A| − ⌈τ|A|⌉ + 1)-prefix in the global (df, element) canonical
    * order to intersect B ANYWHERE — so the candidate join is A-prefix
    * postings × the FULL inverted index (the asymmetric analogue of
    * [[prefixJaccardPairs]]' prefix × prefix), lossless for any
    * deterministic order. The full-index side is the hot one at scale:
    * over-cap (band, key) buckets are dropped there with the observed
    * cap metric, and prefix keys meet the capped index through the same
    * join, so a dropped bucket silences both sides consistently. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, threshold: Double = 0.8,
                       maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // sh sorted at the source (consumers: explode — order-free — and the
    // merge-walk verify below; the prefix rarity order is built separately)
    val docs = Ckpt.local(df.select(col(idCol).as("id"),
      sort_array(TextFns.wordShingles(col(textCol), shingleN)).as("sh")))
    val posting = docs.select(col("id"), explode(col("sh")).as("el"))
    val dfreq = posting.groupBy("el").agg(count(lit(1)).as("cnt"))
    val ordered = posting.join(dfreq, "el")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("cnt"), col("el")))).as("s"))
      .select(col("id"), expr("transform(s, x -> x.el)").as("sorted"))
    val pre = ordered.select(col("id"),
        explode(expr(s"slice(sorted, 1, " +
          s"cast(size(sorted) - ceil($threshold * size(sorted)) + 1 as int))"))
          .as("key"))
    val full = posting.select(col("id"), col("el").as("key"))
      .withColumn("band", lit(0))
    val (fullCapped, _) = capBuckets(full, maxBucket, "containment")
    val cand = pre.select(col("id").as("id_a"), col("key"))
      .join(fullCapped.select(col("id").as("id_b"), col("key")), "key")
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("containment", Det.roundAt(
        graft.plans.SortedIntersectCountExpr(col("sh_a"), col("sh_b"))
          .cast(DoubleType) / size(col("sh_a")), 6))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
      .orderBy("id_a", "id_b")
  }

  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3, threshold: Double = 0.5,
                         maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // sh sorted at the source — see containmentPairs
    val docs = Ckpt.local(df.select(col(idCol).as("id"),
      sort_array(TextFns.wordShingles(col(textCol), shingleN)).as("sh")))
    val posting = docs.select(col("id"), explode(col("sh")).as("el"))
    val dfreq = posting.groupBy("el").agg(count(lit(1)).as("cnt"))
    // global canonical order: (df asc, element asc) — both engines total
    val ordered = posting.join(dfreq, "el")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("cnt"), col("el")))).as("s"))
      .select(col("id"), expr("transform(s, x -> x.el)").as("sorted"))
    val pre = ordered.select(col("id"),
        explode(expr(s"slice(sorted, 1, " +
          s"cast(size(sorted) - ceil($threshold * size(sorted)) + 1 as int))"))
          .as("key"))
      .withColumn("band", lit(0))
    val (lhs, rhs) = capBuckets(pre, maxBucket, "prefix")
    val cand = lhs.select(col("id").as("id_a"), col("key"))
      .join(rhs.select(col("id").as("id_b"), col("key")), "key")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", Det.roundAt(
        graft.plans.SortedJaccardExpr(col("sh_a"), col("sh_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Newman modularity of the near-dup graph under a node partition
    * (`labels`: id → label): Q = Σ_c [e_c/m − (d_c/2m)²], evaluated as
    * the exact integer numerator (4m·intra − Σd_c²) over 4m² with ONE
    * final double division — bit-reproducible on any engine, no float
    * aggregation anywhere. With labels = document source, Q measures
    * whether near-duplication concentrates within sources: Q near 1
    * means per-source sharded dedup is safe (cross-source edges are
    * noise), Q near 0 means duplication crosses sources and sharding by
    * source would miss it — the measurement behind that 100 TB
    * partitioning decision. Three shuffles (two label joins, one degree
    * aggregate); label/degree tables are node-sized. Returns one row
    * (n_edges, intra_edges, cross_edges, modularity); empty graph → Q=0. */
  def partitionModularity(pairs: DataFrame, labels: DataFrame,
                          idCol: String = "id", labelCol: String = "label"): DataFrame = {
    val und = Ckpt.local(pairs.select(col("id_a").cast(LongType).as("id_a"),
      col("id_b").cast(LongType).as("id_b")))
    val lab = labels.select(col(idCol).cast(LongType).as("v"), col(labelCol).as("lab"))
    val e = und
      .join(lab.select(col("v").as("id_a"), col("lab").as("la")), "id_a")
      .join(lab.select(col("v").as("id_b"), col("lab").as("lb")), "id_b")
    val deg = und.select(explode(array(col("id_a"), col("id_b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val dC = deg.join(lab, "v").groupBy("lab").agg(sum(col("d")).as("dsum"))
    val s1 = e.agg(count(lit(1)).as("m"),
      coalesce(sum((col("la") === col("lb")).cast(LongType)), lit(0L)).as("intra"))
    val s2 = dC.agg(coalesce(sum(col("dsum") * col("dsum")), lit(0L)).as("sumd2"))
    s1.crossJoin(s2).select(
      col("m").as("n_edges"), col("intra").as("intra_edges"),
      (col("m") - col("intra")).as("cross_edges"),
      when(col("m") === 0, lit(0.0)).otherwise(Det.roundAt(
        (lit(4L) * col("m") * col("intra") - col("sumd2")).cast(DoubleType) /
          (lit(4L) * col("m") * col("m")).cast(DoubleType), 6)).as("modularity"))
  }

  /** Distributed triangle count over an undirected (id_a < id_b) edge
    * relation — the standard graph health metric for a near-dup graph
    * (triangle-dense components are boilerplate families; triangle-free
    * chains are drift). Degree-oriented node-iterator: every edge points
    * low-degree → high-degree (id tie-break), wedges form only at each
    * triangle's minimum-degree vertex, and the closing edge is probed in
    * the original undirected relation — each triangle counted exactly
    * once, and wedge fan-out is bounded by orientation out-degree
    * (O(√m) on any graph), never by raw hub degree. Three shuffles
    * (degree, wedge join, closure join); nothing collects. */
  def triangleCount(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val und = pairs.select(col(idA).cast(LongType).as("id_a"),
      col(idB).cast(LongType).as("id_b"))
    val deg = und.select(explode(array(col("id_a"), col("id_b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val oriented = und
      .join(deg.select(col("v").as("id_a"), col("d").as("da")), "id_a")
      .join(deg.select(col("v").as("id_b"), col("d").as("db")), "id_b")
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("id_a") < col("id_b")),
          struct(col("id_a").as("s"), col("id_b").as("t")))
        .otherwise(struct(col("id_b").as("s"), col("id_a").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.t").as("u"), col("e2.t").as("w")) // u < w by the join
    val closed = wedges.join(und,
      col("u") === col("id_a") && col("w") === col("id_b"))
    val nTri = closed.agg(count(lit(1)).as("n_triangles"))
    val nV = deg.agg(count(lit(1)).as("n_vertices"))
    val nE = und.agg(count(lit(1)).as("n_edges"))
    nV.crossJoin(nE).crossJoin(nTri)
  }
}
