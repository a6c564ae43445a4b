package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private val near = "the quick brown fox jumps over the lazy dog again and again tonight"
  private val far  = "completely different content about spark catalyst optimizer internals"

  private lazy val docs = Seq(
    (1L, base), (2L, near), (3L, far), (4L, base) // 4 is an exact dup of 1
  ).toDF("doc_id", "text")

  test("exactStats finds exact duplicate groups") {
    val r = Dedup.exactStats(docs, "text").collect()(0)
    assert(r.getAs[Long]("n_docs") == 4)
    assert(r.getAs[Long]("n_distinct") == 3)
    assert(r.getAs[Long]("n_dup_docs") == 2)
    assert(r.getAs[Long]("n_dup_groups") == 1)
  }

  test("minhash LSH finds near and exact dups, not the unrelated doc") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5).pairs
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhashLshPairs: shed audit is empty cap-idle, exact when firing") {
    assert(Dedup.minhashLshPairs(docs, "doc_id", "text").shed.count() == 0,
      "cap idle (default 100k): nothing shed")
    // maxBucket = 1: EVERY (band, key) bucket holding ≥ 2 docs sheds.
    // Recompute the shed ids independently from the band keys.
    val banded = docs
      .select(col("doc_id"), Dedup.minhashSignature(col("text"), 32, 3).as("sig"))
      .select(col("doc_id"),
        posexplode(Dedup.bandKeysFromSig(col("sig"), 32, 8)).as(Seq("band", "key")))
    val multi = banded.groupBy("band", "key").count().filter(col("count") >= 2)
    val expected = banded.join(multi, Seq("band", "key"))
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(expected.contains(1L) && expected.contains(4L), // exact dups share every bucket
      s"fixture must hold multi-doc buckets, got $expected")
    val fired = Dedup.minhashLshPairs(docs, "doc_id", "text", maxBucket = 1)
    val shed = fired.shed.select("id").as[Long].collect().toSet
    assert(shed == expected, s"shed=$shed expected=$expected")
    // with every multi-doc bucket shed there are NO candidates at all
    assert(fired.pairs.count() == 0, "maxBucket=1 should shed every candidate pair")
  }

  test("identical docs get identical minhash signatures and simhash") {
    val sigs = docs.filter($"doc_id".isin(1L, 4L))
      .select(Dedup.minhashSignature(col("text"), 32, 3).as("sig"),
        Dedup.simhash(col("text")).as("sh"))
      .collect()
    assert(sigs(0).getAs[scala.collection.Seq[Long]]("sig") == sigs(1).getAs[scala.collection.Seq[Long]]("sig"))
    assert(sigs(0).getAs[Long]("sh") == sigs(1).getAs[Long]("sh"))
  }

  test("crossLshPairs equals the full self-join restricted to cross pairs") {
    // Split 1,3 → index and 2,4 → incoming: the asymmetric join must
    // return EXACTLY the full self-join's pairs that straddle the split
    // (same signatures, same band space, same verify) and none within a
    // side (1-4 is an exact dup pair but both... 1 is index, 4 incoming —
    // straddles; the within-incoming near pair 2-4 must be absent).
    val index = docs.filter($"doc_id".isin(1L, 3L))
    val incoming = docs.filter($"doc_id".isin(2L, 4L))
    val cross = Dedup.crossLshPairs(index, incoming, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text").pairs
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val idx = Set(1L, 3L)
    val expected = full.collect {
      case (a, b, j) if idx(a) && !idx(b) => (b, a, j)
      case (a, b, j) if !idx(a) && idx(b) => (a, b, j)
    }.toSet
    assert(cross == expected, s"cross=$cross expected=$expected")
    assert(cross.exists(p => p._1 == 4L && p._2 == 1L)) // exact dup straddles
    assert(!cross.exists(p => p._1 == 2L && p._2 == 4L)) // within-side absent
  }

  test("simhashPairs: exact dups at hamming 0; unrelated docs excluded") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0L))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngramJaccardPairs exact baseline agrees on the planted dup") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 5, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 1.0))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("winnowPrefixLen is the shortest lossless prefix, by brute enumeration of the shared count") {
    // The verify filter Det.roundAt(s / n, 6) >= t in plain doubles, the
    // same IEEE operations Spark's generated code runs.
    def admits(s: Long, n: Long, t: Double): Boolean =
      math.floor(s.toDouble / n * 1e6 + 0.5).toLong / 1e6 >= t
    val ns = (1L to 3000L) ++ Seq(399999L, 400000L, 400001L, 1999999L, 2000000L,
      2000001L, 2000005L, 2500000L, 4000000L, 4000003L, 10000000L)
    for (t <- Seq(0.3, 0.5, 0.8, 0.9)) {
      val got = ns.toDF("n")
        .select(col("n"), Dedup.winnowPrefixLen(col("n").cast("int"), t).as("len"))
        .as[(Long, Int)].collect().toMap
      val alpha = ns.map(n => n -> (0L to n).find(admits(_, n, t)).getOrElse(n + 1)).toMap
      for (n <- ns) {
        assert(got(n) == n - alpha(n) + 1, s"t=$t n=$n: prefix ${got(n)}, brute alpha ${alpha(n)}")
        val old = n - (math.ceil(t * n).toLong - 1) + 1 // the fixed one-print slack
        if (n < 2000000L) assert(got(n) <= old, s"t=$t n=$n: prefix ${got(n)} > old $old")
      }
      // the double mirror agrees with Spark's roundAt at each boundary
      val edges = ns.flatMap(n => Seq((n, alpha(n) - 1), (n, alpha(n)))).filter(_._2 >= 0)
      val viaSpark = edges.toDF("n", "s")
        .select(col("n"), col("s"), (graft.functions.Det.roundAt(
          col("s").cast("double") / col("n").cast("int"), 6) >= t).as("ok"))
        .as[(Long, Long, Boolean)].collect()
      viaSpark.foreach { case (n, s, ok) =>
        assert(ok == admits(s, n, t), s"t=$t n=$n s=$s: Spark $ok, mirror ${admits(s, n, t)}")
      }
    }
  }

  test("winnowingPairs: exact dup at overlap 1.0, near dup found, unrelated excluded") {
    val pairs = Dedup.winnowingPairs(docs, "doc_id", "text", k = 5, w = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 1.0)) // exact dup
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 > 0.5))  // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))               // unrelated
  }

  test("embedding near-dup and brute top-k rank by quantized cosine") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (100L, Array(1.0f, 0.05f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val nd = Similarity.nearDupPairs(vecs, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((0L, 1L)) && nd.contains((0L, 100L)) && nd.contains((1L, 100L)))
    assert(!nd.exists(p => p._1 == 2L || p._2 == 2L))
    val topk = Similarity.bruteTopK(vecs, vecs.filter($"vec_id" === 100L), 2)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(topk.toList == List((0L, 1L), (1L, 2L))) // nearest first
  }

  test("contamination flags overlap ratio against the benchmark shingles, drops zero-overlap docs") {
    val bench = Seq((100L, "a b c d")).toDF("doc_id", "text") // shingles: "a b c", "b c d"
    val cand = Seq(
      (1L, "a b c x y"),  // shingles: "a b c","b c x","c x y" → 1/3 overlap
      (2L, "p q r s t u") // zero overlap → must not appear at all
    ).toDF("doc_id", "text")
    val r = Dedup.contamination(cand, bench, "doc_id", "text",
      shingleN = 3, minRatio = 0.2).collect()
    assert(r.length == 1 && r(0).getAs[Long]("doc_id") == 1L)
    assert(r(0).getAs[Long]("n_shingles") == 3 && r(0).getAs[Long]("n_overlap") == 1)
    assert(r(0).getAs[Double]("overlap_ratio") == 0.333333)
    // threshold is applied to the ROUNDED ratio: 1/3 at minRatio 0.34 → out
    assert(Dedup.contamination(cand, bench, "doc_id", "text", 3, 0.34).isEmpty)
  }

  test("prefixJaccardPairs is lossless: identical to the brute O(n²) join") {
    // a corpus with dup families AND singletons, at two thresholds —
    // the prefix filter must drop candidates, never results
    val corpus = Seq(
      (1L, base), (2L, base), (3L, near), (4L, far),
      (5L, "spark catalyst optimizer internals and codegen stages today"),
      (6L, "totally unrelated words about cooking pasta dinner tonight yes"),
      (7L, near + " extended with several extra trailing tokens here")
    ).toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val brute = Dedup.wordJaccardPairs(corpus, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = Dedup.prefixJaccardPairs(corpus, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pref == brute, s"threshold $t: prefix $pref != brute $brute")
    }
  }

  test("containmentPairs is lossless and catches snippet-in-document pairs") {
    // doc 2 is a snippet of doc 1: containment(2→1) = 1.0 but Jaccard is
    // low — the pair symmetric measures miss. Brute directed scan is the
    // ground truth.
    val big = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val snippet = "alpha beta gamma delta epsilon zeta"
    val corpus = Seq(
      (1L, big), (2L, snippet), (3L, big), (4L, "unrelated words entirely " +
        "about cooking pasta dinner tonight with fresh basil and lemon")
    ).toDF("doc_id", "text")
    def bruteDirected(t: Double) = {
      import graft.functions.TextFns
      val sh = corpus.select(col("doc_id"), TextFns.wordShingles(col("text"), 3).as("sh"))
      sh.as("a").crossJoin(sh.as("b"))
        .filter(col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          graft.functions.Det.roundAt(
            size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
              size(col("a.sh")), 6).as("containment"))
        .filter(col("containment") >= t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    for (t <- Seq(0.5, 0.8)) {
      val got = Dedup.containmentPairs(corpus, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == bruteDirected(t), s"threshold $t")
    }
    // the snippet pair is present in BOTH directions' ground truth only
    // for 2→{1,3}; assert it was actually found
    val found = Dedup.containmentPairs(corpus, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains(2L -> 1L) && found.contains(2L -> 3L))
    assert(!found.contains(1L -> 2L), "big doc is not contained in its snippet")
  }

  test("partitionModularity: hand-computed Q on a two-community graph") {
    // community A = {1,2,3} triangle, B = {4,5} edge, one cross edge 3–4.
    // m=5, intra=4, degrees 1:2 2:2 3:3 4:2 5:1 → d_A=7, d_B=3,
    // Σd²=58, Q = (4·5·4 − 58) / (4·25) = 22/100 = 0.22.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (3L, 4L))
      .toDF("id_a", "id_b")
    val labels = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"))
      .toDF("id", "label")
    val r = Dedup.partitionModularity(pairs, labels).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((5L, 4L, 1L)))
    assert(r.getDouble(3) == 0.22)
    // perfect partition (no cross edges, balanced degree) scores higher
    val split = Dedup.partitionModularity(
      Seq((1L, 2L), (4L, 5L)).toDF("id_a", "id_b"), labels).collect()(0)
    assert(split.getDouble(3) == 0.5) // 1 − 2·(2/4)² = 0.5
    // empty graph → Q = 0, no div-by-zero
    val empty = Dedup.partitionModularity(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), labels).collect()(0)
    assert(empty.getLong(0) == 0L && empty.getDouble(3) == 0.0)
  }

  test("triangleCount: hand-counted triangles, degree-oriented, no double count") {
    // K4 on {1,2,3,4} (4 triangles) + pendant 5 + disjoint edge 6–7
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (6L, 7L)).toDF("id_a", "id_b")
    val r = Dedup.triangleCount(edges).collect()(0)
    assert(r.getAs[Long]("n_vertices") == 7L)
    assert(r.getAs[Long]("n_edges") == 8L)
    assert(r.getAs[Long]("n_triangles") == 4L)
    // triangle-free graph → 0
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    assert(Dedup.triangleCount(path).collect()(0).getAs[Long]("n_triangles") == 0L)
  }

  test("pageRank: hand-computed 3-iteration ranks on a path graph") {
    // path 1–2–3: deg(1)=deg(3)=1, deg(2)=2; init 1.0, damping 0.85
    // i1: r2 = .15+.85·(1+1) = 1.85;     r1 = r3 = .15+.85·0.5      = 0.575
    // i2: r2 = .15+.85·(0.575·2)=1.1275; r1 = r3 = .15+.85·(1.85/2) = 0.93625
    // i3: r2 = .15+.85·(0.93625·2);      r1 = r3 = .15+.85·(1.1275/2)
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val r = Dedup.pageRank(pairs).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toList
    assert(r == List((2L, 1.741625), (1L, 0.629188), (3L, 0.629188)))
  }
}
