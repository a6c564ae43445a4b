package graft

/** Plan-shape regression guards: the scale properties SCALE.md claims are
  * asserted against the actual physical plans, so a future edit that
  * silently degrades a dedup path to a cartesian product (or loses a
  * rank-limit pushdown / an explicit dim broadcast) fails the suite, not
  * a 100 TB run. Uses the sf0.001 testdata tables. */
class PlanShapeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Every registry query's executed plan, built once: the registry-wide
    * tests and the single-query guards all read these strings. */
  private lazy val plans: Map[String, String] = Queries.all.map(q =>
    q.name -> q.run(spark, sf).queryExecution.executedPlan.toString()).toMap
  private def plan(name: String): String = plans(name)

  /** The documented O(n²) recall baselines — the ONLY queries allowed a
    * cartesian product (q24/q30 brute pairs; q53 embeds the brute ground
    * truth it measures LSH recall against; q217 is the exact margin-
    * mining baseline whose scale path is q218). */
  private val bruteBaselines =
    Set("q24_ngram_jaccard", "q30_embed_neardup", "q53_lsh_recall",
      "q217_margin_mining", "q249_simhash_recall")

  test("no query except the documented brute baselines plans a cartesian product") {
    for ((name, p) <- plans if !bruteBaselines(name)) {
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
    }
  }

  test("no registry plan repeats an expensive call inside one operator") {
    val found = for {
      (name, p) <- plans.toSeq.sortBy(_._1)
      r <- RecomputeRule.repeats(p)
    } yield s"$name: $r"
    if (found.nonEmpty) fail(
      s"per-row recompute (${found.size}):\n" + found.mkString("\n"))
  }

  test("rank-limited windows push the limit into WindowGroupLimit") {
    // q62 especially: the stratified sample partitions by a 5-value
    // stratum key, and only the map-side WindowGroupLimit keeps the
    // per-stratum reduce input bounded at n rows per map task
    for (q <- Seq("q06_window_topn", "q55_tfidf_topk", "q62_stratified_sample"))
      assert(plan(q).contains("WindowGroupLimit"), s"$q lost the rank-limit pushdown")
  }

  test("dimension joins stay broadcast") {
    for (q <- Seq("q03_join_revenue", "q41_region_revenue"))
      assert(plan(q).contains("BroadcastHashJoin"), s"$q lost its dim broadcast")
  }

  test("ANN brute/IVF broadcast the query side, never shuffle the corpus on it") {
    for (q <- Seq("q28_ann_brute", "q29_ann_ivf"))
      assert(plan(q).contains("BroadcastHashJoin") || plan(q).contains("BroadcastNestedLoopJoin"),
        s"$q does not broadcast the query side")
  }

  test("as-of join plans as a running window over the union, not an inequality join") {
    val p = plan("q70_asof_join")
    assert(p.contains("Window"), s"q70 lost its running-window encoding:\n$p")
    assert(!p.contains("NestedLoop"),
      s"q70 degraded to an inequality (nested-loop) join:\n$p")
  }

  test("range join stays an equi-join on (key, bucket), never a nested loop") {
    val p = plan("q80_range_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"q80 degraded to a nested-loop inequality join:\n$p")
    assert(p.contains("_rj_bucket"), s"q80 lost the time-bucket equi key:\n$p")
  }

  test("score-grain running sums run two-level: no partition-less Window over the fine grain") {
    // q158/q173/q183 cumulate over the 1e-6 score histogram. Bounded ≠
    // small: a saturated grain is ~10⁶ rows, so the running sum must be
    // the PrefixSum two-level shape — fine-grain windows partitioned by
    // the _psg block, the only partition-less Window the tiny
    // block-totals frame (ordered BY _psg). A physical Window prints
    // `Window [exprs], [part], [order]` (two `], [` separators) when
    // partitioned; `Window [exprs], [order]` with ASC/DESC sort marks
    // when ORDERED but partition-less (the shape this test forbids);
    // `Window [exprs], [part]` with no sort marks when partition-only.
    // q239/q252/q272/q280 rank the customer/user population — their
    // quintiles/deciles run as Rank.globalRowNumber (two-level exact
    // rank), so the same no-global-window invariant applies
    for (q <- Seq("q158_auc", "q173_ks_drift", "q183_quantile_norm",
        "q239_rfm", "q252_uplift_deciles", "q272_value_concentration",
        "q280_early_signal")) {
      val windows = plan(q).split('\n').filter(_.contains("Window ["))
      val global = windows.filter { l =>
        val tail = l.substring(l.lastIndexOf("], [") + 2)
        "\\], \\[".r.findAllIn(l).size < 2 &&
          (tail.contains(" ASC") || tail.contains(" DESC")) &&
          !l.contains("WindowGroupLimit")
      }
      // _psg = PrefixSum block totals; _ab = q183's blocked-as-of
      // block-suffix lookup — both frames are block-grain (bounded by
      // the block constant, never the corpus)
      assert(global.forall(l => l.contains("_psg") || l.contains("_ab")),
        s"$q has a partition-less Window over a non-block frame:\n" +
          global.mkString("\n"))
    }
  }

  test("equi-depth histogram plans without any window operator") {
    // the naive encoding is ntile() over a global order — one partition
    // sees every row; the cut-point design must keep Window out entirely
    val p = plan("q87_equidepth_hist")
    assert(!p.contains("Window"), s"q87 reintroduced a window stage:\n$p")
    assert(p.contains("BroadcastExchange"), s"q87 lost the broadcast cut points:\n$p")
  }

  test("hybrid search takes vector top-k via TakeOrdered, not a corpus-wide window") {
    val p = plan("q95_hybrid_search")
    assert(p.contains("TakeOrderedAndProject"),
      s"q95 vector top-k lost the distributed orderBy+limit:\n$p")
  }

  test("frequent pairs broadcast the apriori prune set") {
    val p = plan("q84_frequent_pairs")
    assert(p.contains("BroadcastHashJoin"), s"q84 prune set not broadcast:\n$p")
  }

  test("contamination semi-joins the corpus against a BROADCAST bench shingle set") {
    val p = plan("q96_contamination")
    assert("BroadcastHashJoin .*LeftSemi".r.findFirstIn(p).isDefined,
      s"q96 corpus side lost the broadcast semi join:\n$p")
  }

  test("funnel runs its whole stage chain over ONE entity shuffle") {
    // 4 stacked whole-partition windows + the per-entity collapse must
    // reuse a single Exchange on user_id; only the final single-row
    // aggregate adds a second
    val p = plan("q97_funnel")
    val exchanges = p.split("Exchange", -1).length - 1
    assert(exchanges <= 2, s"q97 re-shuffles between stages ($exchanges Exchanges):\n$p")
    assert(!p.contains("SortMergeJoin"), s"q97 degraded to per-stage joins:\n$p")
  }

  test("bloom semi join filters the probe scan map-side via a scalar subquery") {
    val p = plan("q79_bloom_semi_join")
    assert(p.contains("might_contain"), s"q79 lost the bloom prefilter:\n$p")
    assert(p.contains("Subquery"), s"q79 bloom is not a scalar subquery:\n$p")
    // the prefilter must sit on the probe-side scan, before any exchange:
    // the FileScan's data filter list carries the might_contain condition
    val scanIdx = p.indexOf("might_contain")
    assert(scanIdx >= 0 && p.substring(scanIdx).contains("xxhash64(o_custkey"),
      s"q79 bloom prefilter is not keyed on the probe column:\n$p")
  }

  test("Catalog temp views keep pruning and pushdown (SQL surface = DataFrame surface)") {
    Catalog.register(spark, sf)
    val p = spark.sql(
      "SELECT l_orderkey FROM lineitem WHERE l_orderkey = 1")
      .queryExecution.executedPlan.toString()
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,1)]"),
      s"filter not pushed through the temp view:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"),
      s"scan reads more than the projected column:\n$p")
  }

  test("PMI joins its unigram counts broadcast, never a token-stream self-join") {
    val p = plan("q172_pmi_cooc")
    assert(p.contains("BroadcastHashJoin"), s"q172 lost the vocab broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q172 shuffles a join side:\n$p")
  }

  test("dataset card runs one fingerprint window + one rollup, nothing more") {
    val p = plan("q171_dataset_card")
    assert(p.contains("Expand"), "q171 lost the rollup Expand")
    // shuffles: fp window, rollup re-agg, final order — anything beyond
    // that means a join or dedup crept in
    val exchanges = p.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges <= 3, s"q171 plans $exchanges exchanges:\n$p")
  }

  test("quality-aware dedup survivor filter compiles to WindowGroupLimit") {
    assert(plan("q176_dedup_best").contains("WindowGroupLimit"),
      "q176 rn=1 filter not pushed into the window")
  }

  test("source-overlap totals join broadcast; the fp join carries slim columns") {
    val p = plan("q177_source_overlap")
    assert(p.contains("BroadcastHashJoin"), s"q177 totals not broadcast:\n$p")
    assert(p.contains("ReadSchema: struct<text:string,source:string>") ||
      p.contains("ReadSchema: struct<source:string,text:string>"),
      s"q177 scans more than (source, text):\n$p")
  }

  test("quantile normalization plans as union+window, never an inequality join") {
    val p = plan("q183_quantile_norm")
    // the one BroadcastNestedLoopJoin allowed is the 1-row totals frame
    // (broadcast-of-scalar crossJoin); the CDF↔CDF lookup itself must be
    // the union+window as-of shape, not a join
    assert(!p.contains("CartesianProduct"), s"q183 plans a cartesian:\n$p")
    assert(p.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 1,
      s"q183's quantile lookup degraded to an inequality join:\n$p")
    assert(p.contains("Union") && p.contains("Window"),
      s"q183 lost the as-of union+window shape:\n$p")
  }

  test("sorted-neighborhood ER pairs come from lead windows, not a self-join") {
    val p = plan("q181_sorted_neighborhood")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"q181 plans a join where lead() windows suffice:\n$p")
  }

  test("phash near-dup verifies candidates with an equi-join on band buckets") {
    val p = plan("q184_phash_neardup")
    assert(!p.contains("NestedLoop"),
      s"q184 degraded to an all-pairs (nested-loop) join:\n$p")
    // fingerprints ride the candidate join, payload bytes must not: the
    // checkpointed banded relation is the slim (id, ph, band, key)
    // projection — the dhash ran BEFORE the checkpoint, bytes never
    // reach the self-join or any shuffle
    assert(p.contains("Scan ExistingRDD[id#"), s"q184 lost the slim banded checkpoint:\n$p")
    assert(!p.linesIterator.exists(l => l.contains("bytes")),
      s"q184 carries payload bytes into the candidate join:\n$p")
    // the mega-bucket cap audit is wired
    assert(p.contains("CollectMetrics phash"), s"q184 lost the bucket-cap audit:\n$p")
  }

  test("q197's correlated scalar subquery decorrelates to an aggregate join") {
    val p = plan("q197_correlated_subquery")
    // Catalyst must rewrite the per-row subquery into a per-part
    // aggregate joined back — no per-row subplan, no nested loop over
    // lineitem, and the probe side must be a real hash join
    assert(!p.contains("Subquery"), s"q197 kept a per-row subquery:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"q197 degraded to a nested-loop/cartesian plan:\n$p")
    assert(p.contains("HashAggregate") &&
      (p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
        p.contains("ShuffledHashJoin")),
      s"q197 lost the decorrelated aggregate+join shape:\n$p")
  }

  test("q204's spatial radius join is a cell-id hash join, never a nested loop") {
    val p = plan("q204_spatial_radius_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"q204 lost the grid equi-join:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"q204 degraded to an all-pairs distance scan:\n$p")
  }

  test("q216's interval overlap is a cell equi-join, never an inequality join") {
    val p = plan("q216_overlap_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"q216 lost the cell equi-join:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"q216 degraded to an inequality interval join:\n$p")
  }

  test("q218's bucketed margin mining equi-joins on the coarse bucket") {
    val p = plan("q218_margin_mining_ivf")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"q218 must confine candidates to bucket equi-joins:\n$p")
  }

  test("band-key consumers compute the minhash signature exactly once per row") {
    // The signature pipeline contains HOF lambdas that block codegen
    // subexpression elimination, so if a future edit re-inlines it into
    // the per-band expressions (the pre-round-9 bandKeysCol shape, or a
    // CollapseProject merge of the two-select form), the plan carries one
    // graft_minhash evaluation PER BAND-KEY SLOT — measured 32x slower
    // at sf10. Guard the plans of every band-key consumer.
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def minhashCount(p: String): Int =
      "graft_minhash".r.findAllIn(p).length
    val seqPlan = graft.operators.Dedup
      .seqFirstBucketStats(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString()
    assert(minhashCount(seqPlan) == 1,
      s"seqFirstBucketStats computes the signature ${minhashCount(seqPlan)}x per row")
    for (q <- Seq("q73_stream_neardup_twin", "q291_lsh_scurve")) {
      val c = minhashCount(plan(q))
      // q291 builds its banded relation once behind a checkpoint; q73 is
      // the operator above. Either way: one signature evaluation per
      // consumer, never one per band.
      assert(c <= 1, s"$q computes the minhash signature $c times")
    }
  }

  test("text pipelines are non-nullable, so inferred null checks never re-derive them") {
    // A nullable tokenize/shingle pipeline makes the optimizer infer
    // isnotnull(<pipeline>) at filters and joins, and predicate pushdown
    // inlines the alias into the inferred predicate — FilterExec has no
    // codegen subexpression elimination, so each inferred check re-ran
    // the whole HOF chain per row (round-9 plan census: 4 evaluations
    // per corpus row in the contamination family). The declared
    // nullability IS the fix — guard it, and guard the plan consequence.
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for ((tag, c) <- Seq(
        "tokens" -> graft.functions.TextFns.tokens(col("text")),
        "wordShingles" -> graft.functions.TextFns.wordShingles(col("text"), 3)))
      assert(!docs.select(c.as("v")).schema.head.nullable,
        s"$tag must declare nullable=false or inferred isnotnull checks recompute it")
    for (q <- Seq("q96_contamination", "q104_decontaminate")) {
      val filterLambdas = plan(q).linesIterator
        .filter(_.contains("Filter ("))
        .map(l => "lambdafunction\\(".r.findAllIn(l).length).sum
      assert(filterLambdas == 0,
        s"$q re-derives a HOF pipeline inside a Filter ($filterLambdas lambda copies)")
    }
    // same defect class, vector side: the adaptive bucket key joins on a
    // sign-sketch derivation — a nullable key re-ran the 12-plane sketch
    // inside inferred isnotnull filters on BOTH sides (24 DotQ per row)
    for (q <- Seq("q35_embed_neardup_ivf", "q112_semdedup")) {
      val filterDots = plan(q).linesIterator
        .filter(_.contains("Filter ("))
        .map(l => "graft_dotq\\(".r.findAllIn(l).length).sum
      assert(filterDots == 0,
        s"$q re-derives the sign sketch inside a Filter ($filterDots dotq copies)")
    }
  }

  test("HTML extract and URL stats scan only the columns they use") {
    val p165 = plan("q165_html_extract")
    assert(!p165.contains("n_chars"), s"q165 reads n_chars it never uses:\n$p165")
    val p166 = plan("q166_url_stats")
    assert(p166.contains("ReadSchema: struct<doc_id:bigint,lang:string,source:string>") ||
      !p166.contains("text"), s"q166 reads text it never uses:\n$p166")
  }

  // ── round-15 native-kernel pins: the interpreted-HOF hot spots that
  // were replaced by compiled expressions must not silently come back ──

  test("set-similarity verifies run the sorted-merge kernel, not array_intersect") {
    // the brute baseline evaluates its Jaccard inside the pair-join
    // condition — per enumerated pair — so a regression to the hash-set
    // spelling is the single most expensive edit possible in this repo
    val p24 = plan("q24_ngram_jaccard")
    assert(p24.contains("graft_sorted_jaccard"),
      s"q24 lost the sorted-merge Jaccard kernel:\n$p24")
    assert(!p24.contains("array_intersect"),
      s"q24 verify degraded to per-pair array_intersect:\n$p24")
    val p118 = plan("q118_prefix_join")
    assert(p118.contains("graft_sorted_jaccard"),
      "q118 lost the sorted-merge Jaccard kernel")
  }

  test("q24's pair enumeration short-circuits on the lossless size-ratio test") {
    // least/greatest size compare must sit in the join condition BEFORE
    // the merge walk (And short-circuits left to right)
    val p = plan("q24_ngram_jaccard")
    val cond = p.linesIterator.find(l =>
      l.contains("graft_sorted_jaccard") && l.contains("least")).getOrElse("")
    assert(cond.indexOf("least") < cond.indexOf("graft_sorted_jaccard"),
      s"q24's size-ratio pre-test no longer precedes the merge walk:\n$p")
  }

  test("the minhash signature path runs the native shingle + hash kernels") {
    val p = plan("q22_minhash_lsh")
    assert(p.contains("graft_word_shingles"), s"q22 lost the native shingle kernel:\n$p")
  }

  test("the skyline window is a growing frame (the shrinking frame is O(n²))") {
    val p = plan("q128_skyline")
    assert(!p.toLowerCase.contains("unboundedfollowing$(), "),
      "unexpected shrinking-start frame spelling")
    assert(!p.contains("1, unboundedfollowing"),
      s"q128's skyline max regressed to the O(n²) shrinking frame:\n$p")
    assert(p.contains("unboundedpreceding$(), -1"),
      s"q128 lost the O(n) growing-frame spelling:\n$p")
  }

  test("q169 runs the native position/window kernels, not interpreted lambdas") {
    val p = plan("q169_snippet")
    assert(p.contains("graft_token_eq_positions") && p.contains("graft_best_window_enc"),
      s"q169 lost its native kernels:\n$p")
  }

  test("pageRank reads its pairs once: one scan, no Union under the degree window") {
    import org.apache.spark.sql.functions.col
    val pairs = spark.range(20).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val p = graft.operators.Dedup.rankEdges(pairs, "id_a", "id_b").queryExecution.executedPlan.toString
    assert("Range \\(".r.findAllIn(p).size == 1, s"pageRank scans its pairs more than once:\n$p")
    assert(p.contains("Window") && !p.contains("Union"),
      s"pageRank's degree window reads a Union of the pairs:\n$p")
  }
}
