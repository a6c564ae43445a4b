package graft

import graft.functions.{CleanFns, TextFns}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style invariants over generated inputs (SURVEY §5): one
  * generated batch per property, evaluated in a single Spark pass. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int = 300): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val priceGen: Gen[String] = Gen.oneOf(
    Gen.chooseNum(0, 999999).map(n => f"$$$n%,d.00"),
    Gen.chooseNum(0.0, 99999.9).map(d => f"$d%.2f"),
    Gen.alphaStr,
    Gen.const(null: String))

  test("cleanPrice is total: any string → non-null finite double") {
    val df = sample(priceGen).toDF("c")
      .select(CleanFns.cleanPrice(col("c")).as("p"))
    assert(df.filter(col("p").isNull || isnan(col("p"))).count() == 0)
  }

  test("priceCategory is total: every value falls in exactly one bucket") {
    val cats = Set("Económico", "Medio", "Medio-Alto", "Alto", "Premium", "No especificado")
    val df = sample(Gen.oneOf(Gen.chooseNum(-1e6, 1e6), Gen.const(Double.NaN)))
      .toDF("v").select(CleanFns.priceCategory(col("v")).as("c"))
    val seen = df.select("c").distinct().collect().map(_.getString(0)).toSet
    assert(seen.subsetOf(cats))
    assert(df.filter(col("c").isNull).count() == 0)
  }

  test("sentiment is bounded by the lexicon sizes") {
    val txt = Gen.listOfN(8, Gen.oneOf(
      CleanFns.DefaultPositive ++ CleanFns.DefaultNegative ++ Seq("meh", "spark", "data")))
      .map(_.mkString(" "))
    val df = sample(txt).toDF("t").select(CleanFns.sentiment(col("t")).as("s"))
    val mm = df.agg(min("s"), max("s")).collect()(0)
    assert(mm.getInt(0) >= -CleanFns.DefaultNegative.size)
    assert(mm.getInt(1) <= CleanFns.DefaultPositive.size)
  }

  test("boolBin emits only 0/1; normDate emits null or ISO dates") {
    val df = sample(Gen.oneOf(Gen.alphaStr, Gen.oneOf("t", "f", "1", "si", "TRUE", "")))
      .toDF("c").select(CleanFns.boolBin(col("c")).as("b"))
    assert(df.filter(!col("b").isin(0, 1)).count() == 0)
    val dates = sample(Gen.oneOf(
      Gen.chooseNum(1, 28).map(d => f"2024-03-$d%02d"),
      Gen.chooseNum(1, 28).map(d => f"$d%02d/03/2024"),
      Gen.alphaStr))
    val dd = dates.toDF("c").select(CleanFns.normDate(col("c")).as("d"))
    assert(dd.filter(col("d").isNotNull && !col("d").rlike("^\\d{4}-\\d{2}-\\d{2}$")).count() == 0)
  }

  test("titleCase is idempotent") {
    val df = sample(Gen.asciiPrintableStr).toDF("c")
      .select(CleanFns.titleCase(col("c")).as("t1"))
      .select(col("t1"), CleanFns.titleCase(col("t1")).as("t2"))
    assert(df.filter(col("t1") =!= col("t2")).count() == 0)
  }

  test("portableHash stays in [0, 2^60); shingle arrays are distinct and non-empty") {
    val df = sample(Gen.asciiPrintableStr).toDF("c")
    val h = df.select(TextFns.portableHash(col("c")).as("h"))
    assert(h.filter(col("h") < 0 || col("h") >= (1L << 60)).count() == 0)
    val sh = df.select(TextFns.wordShingles(col("c"), 3).as("s"))
      .select(size(col("s")).as("n"), size(array_distinct(col("s"))).as("nd"))
    assert(sh.filter(col("n") =!= col("nd")).count() == 0)
    assert(sh.filter(col("n") < 1).count() == 0)
  }

  test("cleaning is idempotent: textClean∘textClean = textClean") {
    val df = sample(Gen.oneOf(Gen.asciiPrintableStr.map(s => s"  $s "), Gen.const(null: String)))
      .toDF("c").select(CleanFns.textClean(col("c")).as("t1"))
      .select(col("t1"), CleanFns.textClean(col("t1")).as("t2"))
    assert(df.filter(col("t1") =!= col("t2")).count() == 0)
  }

  test("winnowing guarantee: docs sharing a >= k+w-1 substring share a print") {
    // random word-salads with a fixed 12-char phrase planted in both halves
    val word = Gen.listOfN(6, Gen.alphaLowerChar).map(_.mkString)
    val salad = Gen.listOfN(8, word).map(_.mkString(" "))
    val pairs = sample(Gen.zip(salad, salad), 100)
      .map { case (a, b) => (s"$a shared-phrase $b".take(80), s"$b shared-phrase $a".take(80)) }
      // keep pairs where truncation left the phrase intact in both
      .filter { case (a, b) => a.contains("shared-phrase") && b.contains("shared-phrase") }
    val df = pairs.toDF("a", "b").select(
      TextFns.winnowingFingerprints(col("a"), 5, 4).as("fa"),
      TextFns.winnowingFingerprints(col("b"), 5, 4).as("fb"))
    assert(df.filter(size(array_intersect(col("fa"), col("fb"))) < 1).count() == 0)
  }

  test("hashSample keeps roughly pct% and is stable across invocations") {
    val df = (1L to 2000L).map(i => (i, s"row$i")).toDF("id", "v")
    val n1 = graft.operators.Sampling.hashSample(df, "id", 10).count()
    val n2 = graft.operators.Sampling.hashSample(df, "id", 10).count()
    assert(n1 == n2) // deterministic: identical sample every run
    assert(n1 > 2000 * 0.05 && n1 < 2000 * 0.15, s"10% sample took $n1 of 2000")
    // nested rates: a 5% sample is a subset of the 10% sample
    val ids10 = graft.operators.Sampling.hashSample(df, "id", 10)
      .select("id").as[Long].collect().toSet
    val ids5 = graft.operators.Sampling.hashSample(df, "id", 5)
      .select("id").as[Long].collect().toSet
    assert(ids5.subsetOf(ids10))
  }

  test("AsOf.backward equals a brute-force merge_asof on random data") {
    // random (key, time) events vs a reference implementation computed
    // per-row in plain Scala — semantics, not plan shape
    val rows = sample(for {
      k <- Gen.chooseNum(1L, 6L)
      t <- Gen.chooseNum(0L, 5000L)
    } yield (k, t), 400).zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
    val lefts = rows.filter(_._1 % 2 == 0)
    val rights = rows.filter(_._1 % 2 == 1)
      .groupBy(r => (r._2, r._3)).values.map(_.minBy(_._1)).toSeq // unique (key,time)
    def ts(ms: Long) = new java.sql.Timestamp(1700000000000L + ms * 1000)
    val l = lefts.map(r => (r._1, r._2, ts(r._3))).toDF("lid", "k", "lt")
    val r = rights.map(r => (r._1, r._2, ts(r._3))).toDF("rid", "k", "rt")
    val got = graft.operators.AsOf.backward(l, r, "k", "k", "lt", "rt", Seq("rid"))
      .select(col("lid"), col("asof.rid").as("rid"))
      .collect().map(x => x.getLong(0) -> Option(x.get(1)).map(_.asInstanceOf[Long])).toMap
    val expected = lefts.map { le =>
      val prior = rights.filter(ri => ri._2 == le._2 && ri._3 <= le._3)
      le._1 -> (if (prior.isEmpty) None
                else Some(prior.maxBy(ri => (ri._3, -ri._1))._1))
    }.toMap
    assert(got == expected)
  }

  test("range join equals the naive inequality join on random data") {
    // random (key, time) pairs; window [-120s, +45s] is asymmetric and
    // non-aligned so bucket-boundary handling is actually exercised
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val ls = sample(for { k <- Gen.chooseNum(1L, 5L); t <- Gen.chooseNum(0L, 3000L) } yield (k, t), 250)
      .zipWithIndex.map { case ((k, t), i) => (i.toLong, k, ts(t)) }
    val rs = sample(for { k <- Gen.chooseNum(1L, 5L); t <- Gen.chooseNum(0L, 3000L) } yield (k, t), 250)
      .zipWithIndex.map { case ((k, t), i) => (i.toLong, k, ts(t)) }
    val l = ls.toDF("lid", "lk", "lt")
    val r = rs.toDF("rid", "rk", "rt")
    val got = graft.operators.RangeJoin
      .intervalJoin(l, r, "lk", "rk", "lt", "rt", lowerSec = -120L, upperSec = 45L)
      .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
    val want = (for {
      (lid, lk, lt) <- ls; (rid, rk, rt) <- rs
      if rk == lk && rt.getTime >= lt.getTime - 120000L && rt.getTime <= lt.getTime + 45000L
    } yield (lid, rid)).sorted
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("scd2 compaction equals a brute per-key scan on random logs") {
    val rows = sample(for {
      k <- Gen.chooseNum(1L, 8L)
      st <- Gen.oneOf("a", "b", null: String)
    } yield (k, st), 400).zipWithIndex.map { case ((k, st), i) => (i.toLong, k, st) }
    val df = rows.toDF("seq", "k", "st")
    val got = graft.operators.Cdc.scd2(df, "k", Seq("seq"), "st")
      .select("k", "seq", "valid_to").as[(Long, Long, Option[Long])]
      .collect().sorted.toSeq
    val want = rows.groupBy(_._2).toSeq.flatMap { case (k, g) =>
      val ordered = g.sortBy(_._1)
      val changes = ordered.zip(Option.empty[String] +: ordered.map(r => Option(r._3)))
        .collect { case ((seq, _, st), prev) if prev != Option(st) => seq }
      changes.zip(changes.drop(1).map(Option(_)) :+ None).map { case (f, t) => (k, f, t) }
    }.sorted
    assert(got == want)
    assert(want.exists(_._3.isEmpty) && want.size > 8) // current rows + real compaction
  }

  test("Cdc.merge equals a brute per-key apply on random change batches") {
    val target = (1L to 40L).map(k => (k, k * 10.0)).toSeq
    val ops = sample(for {
      k <- Gen.chooseNum(1L, 50L) // keys beyond 40 exercise pure inserts
      op <- Gen.oneOf("I", "U", "D")
      v <- Gen.chooseNum(0, 999)
    } yield (k, op, v.toDouble), 120).zipWithIndex
      .map { case ((k, op, v), i) => (k, v, op, i.toLong) }
    val got = graft.operators.Cdc.merge(
      target.toDF("k", "v"), ops.toDF("k", "v", "op", "seq"),
      "k", "op", Seq("seq"))
      .as[(Long, Double)].collect().sorted.toSeq
    val latest = ops.groupBy(_._1).map { case (k, g) => k -> g.maxBy(_._4) }
    val want = (target.filterNot { case (k, _) => latest.contains(k) } ++
      latest.values.collect { case (k, v, op, _) if op != "D" => (k, v) })
      .sorted
    assert(got == want)
    // the batch must actually exercise all three verbs against the target
    assert(latest.values.exists(_._3 == "D") && latest.values.exists(_._3 == "U")
      && latest.keys.exists(_ > 40L))
  }

  test("bfsLevels equals brute BFS on random graphs") {
    val edges = sample(for {
      a <- Gen.chooseNum(1L, 12L); b <- Gen.chooseNum(1L, 12L) if a != b
    } yield (a, b), 80).distinct
    val und = (edges ++ edges.map(_.swap)).distinct
    val adj = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val seeds = Seq(1L, 7L)
    // brute: frontier expansion
    var want = seeds.map(_ -> 0L).toMap
    var frontier = seeds.toSet
    (1 to 3).foreach { h =>
      frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- want.keySet
      want = want ++ frontier.map(_ -> h.toLong)
    }
    val got = graft.operators.Graph.bfsLevels(
      und.toDF("src", "dst"), seeds.toDF("id"), maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("kcore equals the brute peel-to-fixpoint on random graphs") {
    val k = 3
    val edges = sample(for {
      a <- Gen.chooseNum(1L, 15L); b <- Gen.chooseNum(1L, 15L) if a != b
    } yield (a, b), 150).distinct
    val und = (edges ++ edges.map(_.swap)).distinct
    val adj = und.groupBy(_._1).map { case (kk, v) => kk -> v.map(_._2).toSet }
    var alive = adj.keySet
    var changed = true
    while (changed) {
      val drop = alive.filter(n => (adj(n) & alive).size < k)
      changed = drop.nonEmpty
      alive = alive -- drop
    }
    val want = alive.map(n => n -> (adj(n) & alive).size.toLong).toMap
    // enough rounds to guarantee the fixpoint on a 15-node graph
    val got = graft.operators.Graph.kcore(und.toDF("src", "dst"), k, rounds = 15)
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("temporalBfs equals brute time-respecting path enumeration") {
    val edges = sample(for {
      a <- Gen.chooseNum(1L, 10L); b <- Gen.chooseNum(1L, 10L) if a != b
      t <- Gen.chooseNum(1L, 50L)
    } yield (a, b, t), 120).distinct
    val seeds = Seq(2L)
    // brute: enumerate all ≤3-edge nondecreasing-time paths
    var states = Set[(Long, Long)]((2L, 0L)) // (node, arrival)
    var all = states
    (1 to 3).foreach { _ =>
      states = for {
        (n, arr) <- states
        (a, b, t) <- edges.toSet if a == n && t >= arr
      } yield (b, t)
      all = all ++ states
    }
    val want = all.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).min }
    val got = graft.operators.Graph.temporalBfs(
      edges.toDF("src", "dst", "ets"), seeds.toDF("id"), maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("bloom semi join equals a plain semi join and actually prunes") {
    // 2000 probe keys vs 40 build keys: the bloom must admit every true
    // match (no false negatives) and the final equi-join must remove any
    // false positives — equality with the plain semi join is exact.
    val probe = sample(Gen.chooseNum(0L, 500L), 2000).zipWithIndex
      .map { case (k, i) => (i.toLong, k) }.toDF("id", "k")
    val build = sample(Gen.chooseNum(0L, 500L), 40).distinct.toDF("bk")
    val got = graft.operators.BloomJoin.semiJoin(probe, build, "k", "bk")
      .select("id").as[Long].collect().sorted.toSeq
    val want = probe.join(build, col("k") === col("bk"), "left_semi")
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == want)
    assert(want.nonEmpty && want.size < 2000) // both branches exercised
  }

  test("maxBucket above every bucket size is a no-op on LSH pairs") {
    val docs = sample(Gen.listOfN(10,
        Gen.oneOf("alpha beta gamma delta", "epsilon zeta eta theta", "iota kappa lambda mu"))
      .map(_.mkString(" ")), 60)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val capped = graft.operators.Dedup
      .minhashLshPairs(docs, "doc_id", "text", maxBucket = Int.MaxValue).pairs
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val default = graft.operators.Dedup
      .minhashLshPairs(docs, "doc_id", "text").pairs
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == default && capped.nonEmpty)
  }

  test("prefix filter theorem: prefixJaccardPairs equals brute on random corpora") {
    // random 6-12-token docs over a 20-word vocab — enough collisions to
    // exercise the prefix blocking AND produce pairs across thresholds
    val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen",
      "ibis", "jay", "kit", "lark", "mole", "newt", "owl", "pig",
      "quail", "rat", "swan", "toad")
    val docGen = Gen.chooseNum(6, 12)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val docs = sample(docGen, 50).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (t <- Seq(0.25, 0.5, 0.75)) {
      val brute = graft.operators.Dedup.wordJaccardPairs(docs, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = graft.operators.Dedup.prefixJaccardPairs(docs, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pref == brute,
        s"t=$t: missing=${brute -- pref} extra=${pref -- brute}")
    }
  }

  test("PrefixSum.overKeys equals the single global window on random histograms") {
    import org.apache.spark.sql.expressions.Window
    val rowGen = for {
      k <- Gen.chooseNum(-5000L, 5000L)
      a <- Gen.chooseNum(0L, 100L)
      b <- Gen.chooseNum(0L, 100L)
    } yield (k, a, b)
    // distinct keys (the operator's contract), including negatives so the
    // floor-division block stays monotone below zero
    val hist = sample(rowGen, 400).distinctBy(_._1).toDF("k", "a", "b")
    for (inclusive <- Seq(true, false)) {
      val hi = if (inclusive) Window.currentRow else -1L
      val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, hi)
      val want = hist
        .withColumn("ca", coalesce(sum(col("a")).over(w), lit(0L)))
        .withColumn("cb", coalesce(sum(col("b")).over(w), lit(0L)))
        .select("k", "ca", "cb").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = graft.operators.PrefixSum.overKeys(hist, "k",
          floor(col("k") / 64L).cast("long"), inclusive,
          Seq("a" -> "ca", "b" -> "cb"))
        .select("k", "ca", "cb").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"inclusive=$inclusive: ${(want -- got).take(5)}")
    }
  }

  test("q281's sorted-run fold equals the max bigram multiplicity") {
    // the repetition filter's top-2-gram share comes from a longest-
    // equal-run fold over the sorted bigram array; pin it against a
    // plain explode+groupBy max count on random token streams
    val vocab = Seq("a", "b", "c", "d")
    val docGen = Gen.chooseNum(3, 40)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val docs = sample(docGen, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val g2 = transform(sequence(lit(1), size(col("tk")) - 1),
      i => concat_ws(" ", element_at(col("tk"), i.cast("int")),
        element_at(col("tk"), i.cast("int") + 1)))
    val base = docs
      .select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("tk"))
      .withColumn("g2s", array_sort(g2))
    val brute = base.select(col("doc_id"), explode(col("g2s")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("mx"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val maxRun = aggregate(
      sequence(lit(2), size(col("g2s"))),
      struct(lit(1L).as("run"), lit(1L).as("mx")),
      (acc, i) => {
        val r = when(element_at(col("g2s"), i.cast("int"))
            === element_at(col("g2s"), i.cast("int") - 1),
          acc.getField("run") + lit(1L)).otherwise(lit(1L))
        struct(r.as("run"), greatest(acc.getField("mx"), r).as("mx"))
      }).getField("mx")
    val folded = base.select(col("doc_id"), maxRun.as("mx"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folded == brute)
  }

  test("globalRowNumber + ntileFromRank equal the single-window row_number/ntile") {
    import org.apache.spark.sql.expressions.Window
    // heavy ties (201 distinct values over 500 rows) exercise the
    // within-value/offset split; id is the unique tiebreak
    val rows = sample(Gen.chooseNum(-100L, 100L), 500).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val n = rows.count()
    for (desc0 <- Seq(true, false)) {
      val ord = if (desc0) Seq(col("v").desc, col("id").asc)
                else Seq(col("v").asc, col("id").asc)
      val w = Window.orderBy(ord: _*)
      val want = rows
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("nt", ntile(7).over(w).cast("long"))
        .select("id", "rk", "nt").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = graft.operators.Rank.globalRowNumber(rows, "v", "id", desc0,
          floor(col("_rnk_v") / lit(16.0)).cast("long"), "rk")
        .withColumn("nt", graft.operators.Rank.ntileFromRank(col("rk"), lit(n), 7))
        .select("id", "rk", "nt").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"desc=$desc0: ${(want -- got).take(5)}")
    }
  }

  test("space-saving ingest: invariants hold for arbitrary streams and capacities") {
    import graft.streaming.{Streams, HhState}
    // skewed alphabets so hot items, ties, and deep eviction all occur
    val streamGen = for {
      nDistinct <- Gen.chooseNum(1, 40)
      len <- Gen.chooseNum(0, 400)
      s <- Gen.listOfN(len, Gen.frequency(
        (4, Gen.chooseNum(0, math.max(nDistinct / 8, 1) - 1)),
        (1, Gen.chooseNum(0, nDistinct - 1))).map(i => s"w$i"))
    } yield s
    for ((items, capacity) <- sample(streamGen, 60).zip(
        Stream.continually(Seq(1, 2, 3, 7, 16)).flatten)) {
      val fin = items.foldLeft(HhState(0L, Map.empty)) {
        (st, it) => Streams.ssIngest(st, it, capacity)
      }
      val exact = items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val n = items.size.toLong
      assert(fin.n == n)
      assert(fin.counters.size <= capacity)
      // count bounds: cnt - err <= true <= cnt for every kept item
      fin.counters.foreach { case (it, (cnt, err)) =>
        val t = exact(it)
        assert(cnt - err <= t && t <= cnt, s"$it: $t outside [${cnt - err}, $cnt]")
      }
      // no false negatives: true count > n/capacity ⇒ kept
      exact.filter { case (_, c) => c > n / capacity }.keys.foreach { it =>
        assert(fin.counters.contains(it), s"lost heavy item $it (cap $capacity, n $n)")
      }
      // total mass is conserved or overestimated, never lost beyond evictions:
      // sum of cnt >= sum of true counts of kept items
      val keptTrue = fin.counters.keys.map(exact).sum
      assert(fin.counters.values.map(_._1).sum >= keptTrue)
    }
  }

  test("space-saving shard union: invariants hold under adversarial shard skew") {
    import graft.streaming.{Streams, HhState}
    // The sharded operator's global summary is the plain UNION of
    // per-shard summaries, because routing sends each item to exactly
    // one shard. That union must stay correct for ANY routing — in
    // particular the adversarial one where ~90% of the mass lands on a
    // single shard (saturating its capacity and forcing deep eviction)
    // while other shards sit near-empty. Routing is modelled as an
    // arbitrary deterministic item→shard map skewed toward shard 0; the
    // production xxhash routing is one instance of it.
    val shards = 4; val capacity = 6
    val cfgGen = for {
      len <- Gen.chooseNum(0, 600)
      items <- Gen.listOfN(len, Gen.frequency(
        (3, Gen.chooseNum(0, 4)),           // hot head
        (2, Gen.chooseNum(0, 80))).map(i => s"w$i"))
      hotShard <- Gen.chooseNum(0, shards - 1)
      // item→shard: ~90% of DISTINCT items pinned to one shard
      routing <- Gen.listOfN(100, Gen.frequency(
        (9, Gen.const(hotShard)), (1, Gen.chooseNum(0, shards - 1))))
    } yield (items, routing)
    for ((items, routing) <- sample(cfgGen, 60)) {
      def shardOf(it: String): Int = routing(it.drop(1).toInt % routing.size)
      val byShard = items.zipWithIndex.groupBy { case (it, _) => shardOf(it) }
      // per-shard fold in arrival order — exactly what the stateful
      // operator does within a shard's group
      val summaries = byShard.map { case (s, evs) =>
        s -> evs.sortBy(_._2).map(_._1).foldLeft(HhState(0L, Map.empty)) {
          (st, it) => Streams.ssIngest(st, it, capacity)
        }
      }
      val exact = items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      // (0) fixed-size state regardless of how skewed the routing is
      assert(summaries.values.map(_.counters.size).sum <= shards * capacity)
      summaries.foreach { case (s, st) =>
        assert(st.n == byShard(s).size.toLong)
      }
      // union = global summary; each item appears in exactly one shard
      val union = summaries.values.flatMap(_.counters).toSeq
      assert(union.map(_._1).distinct.size == union.size,
        "an item appeared in two shard summaries — routing must be disjoint")
      // (1) count bounds survive the union untouched
      union.foreach { case (it, (cnt, err)) =>
        val t = exact(it)
        assert(cnt - err <= t && t <= cnt, s"$it: $t outside [${cnt - err}, $cnt]")
      }
      // (2) per-shard no-false-negative lifts to the union: true count >
      // n_s/capacity of the item's OWN shard ⇒ present globally
      val unionKeys = union.map(_._1).toSet
      exact.foreach { case (it, c) =>
        val ns = summaries.get(shardOf(it)).map(_.n).getOrElse(0L)
        if (c > ns / capacity)
          assert(unionKeys.contains(it),
            s"lost heavy item $it (true $c > ${ns / capacity} in shard ${shardOf(it)})")
      }
    }
  }

  test("DDSketch ingest: relative-error bound holds for arbitrary positive streams") {
    import graft.streaming.{Streams, DdState}
    val alpha = 0.01
    // spans ~9 decades so many distinct log-buckets are exercised
    val valsGen = for {
      len <- Gen.chooseNum(1, 500)
      s <- Gen.listOfN(len, Gen.chooseNum(-4.0, 5.0).map(e => math.pow(10.0, e)))
    } yield s
    for (vals <- sample(valsGen, 40)) {
      val st = vals.foldLeft(DdState(0L, 0L, Map.empty)) {
        (s, v) => Streams.ddIngest(s, v, alpha)
      }
      assert(st.n == vals.size)
      assert(st.counts.values.sum + st.zero == st.n)
      val sorted = vals.sorted
      for (q <- Seq(0.5, 0.9, 0.99)) {
        val rank = math.max(1, math.ceil(q * vals.size).toInt)
        val truth = sorted(rank - 1)
        val est = Streams.ddQuantile(st, q, alpha)
        assert(math.abs(est - truth) <= alpha * truth + 1e-12,
          s"q=$q: est $est vs true $truth (n=${vals.size})")
      }
    }
  }
}
