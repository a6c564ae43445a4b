package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph traversal over an edge list — BFS reachability and
  * bounded cheapest-path, the two relaxations a relational engine can run
  * without a driver-side graph.
  *
  * Both operators are CONSTANT-DEPTH unrolled plans: `maxHops` is a query
  * constant (2–4 in practice), so each hop is one equi-join + one
  * distinct/min-aggregate, checkpointed so hop `k+1` never recomputes hop
  * `k`'s frontier. Nothing collects to the driver; frontier and visited
  * sets live as DataFrames partitioned by node id. At 100 TB the per-hop
  * shuffle is bounded by the true frontier size (BFS) or the vertex set
  * (Bellman-Ford round), which is the textbook scale shape for
  * shuffle-based graph traversal (Pregel-as-joins).
  */
object Graph {

  /** Both directions of an undirected pair list in ONE pass — explode a
    * (forward, reverse) struct pair per row. The
    * `sel(a→src).union(sel(b→src))` spelling plans the pair subtree once
    * PER UNION BRANCH, and for the trade-graph queries that subtree is
    * the full orders⋈lineitem build (round-14 ProbeJobs: the duplicated
    * edge-build scan was ~1.5 s of q215's ~4 s warm pass). Extra columns
    * (e.g. a weight) ride along via `carry`. Same row multiset, so every
    * downstream dedup/groupBy/join and the oracle see identical edges.
    * Endpoints of different types are cast to their common type (the one
    * the old union spelling coerced to), since `array(struct(a, b),
    * struct(b, a))` alone fails analysis on mixed types. */
  def symmetrized(pairs: DataFrame, a: String, b: String,
                  carry: Seq[String] = Nil): DataFrame = {
    val Seq(ta, tb) = Seq(a, b).map(pairs.schema(_).dataType)
    val common = if (ta == tb) ta else pairs.select(coalesce(col(a), col(b))).schema.head.dataType
    val Seq(ea, eb) = Seq(a -> ta, b -> tb).map { case (c, t) => if (t == common) col(c) else col(c).cast(common) }
    val fwd = struct((ea.as("src") +: eb.as("dst") +:
      carry.map(col)): _*)
    val rev = struct((eb.as("src") +: ea.as("dst") +:
      carry.map(col)): _*)
    pairs.select(explode(array(fwd, rev)).as("e")).select("e.*")
  }

  /** Min-hop level of every node reachable from `seeds` within `maxHops`
    * hops of the directed edge list `edges` (columns `src`, `dst`; pass
    * both directions for an undirected graph). `seeds` carries column
    * `id`. Output: (id, level) with level = min #hops in [0, maxHops].
    *
    * FUSED HOP (round 15, guide §2.4): each hop is frontier ⋈ edges
    * (shuffle on the frontier), then ONE vertex-grain aggregate —
    * `union(visited, raw dsts@h) groupBy id min(level)` — which performs
    * the dst dedup, the already-visited suppression, and the visited
    * merge in a single exchange. The pre-r15 spelling ran the same hop
    * as THREE vertex-grain passes (distinct on dst, anti-join against a
    * growing union of per-hop checkpoints, lazy union), shuffling the
    * visited set twice per hop and re-scanning h checkpoint relations
    * at hop h. min(level) gives the BFS minimum exactly: a node already
    * visited carries a level < h, a new node only the fresh h.
    *
    * One checkpoint per hop (the merged visited relation); hop N's
    * count() materializes it, after which generation N−1 has no
    * remaining consumer and is released in-loop — live checkpoint
    * generations are ≤2 regardless of depth (the pre-r15 code kept
    * every per-hop frontier alive to session release because the final
    * union read them all; the fused visited relation is self-contained). */
  def bfsLevels(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    // CO-LOCATED EDGE LAYOUT (round 8): dropDuplicates leaves the edge
    // relation hash-partitioned by (src, dst), so every hop's join used
    // to RE-SHUFFLE the whole edge list by src — the dominant cost at
    // the sf10 scale point (the frontier is small; the edges are not).
    // Repartition+sort by src ONCE before the checkpoint:
    // localCheckpoint preserves outputPartitioning/outputOrdering, so
    // every subsequent hop joins the stored, already-sorted edge
    // partitions with zero exchange and zero sort on the big side —
    // the same reasoning as bucketing a fact table by its join key.
    // ONE exchange, not two (round 14): hash(src) satisfies the
    // (src, dst) dedup's clustered distribution, so repartition FIRST
    // and the dropDuplicates aggregates in place — the old
    // dedup-then-repartition spelling shuffled the full edge list twice.
    // Trade acknowledged (guide §2.3 vs §2.4): repartition-first forgoes
    // map-side combining below the exchange, so it shuffles RAW rows —
    // a win whenever edge multiplicity m < 2 (one exchange of N beats
    // two of N/m). The trade graph measures m ≈ 1.02 (600k raw vs 587k
    // distinct (c,s) at sf0.1); a caller with heavy parallel-edge
    // multiplicity should pre-aggregate before calling.
    val e = Ckpt.local(
      edges.select(col("src"), col("dst"))
        .repartition(col("src")).dropDuplicates("src", "dst")
        .sortWithinPartitions("src"))
    var visited = Ckpt.local(
      seeds.select(col("id")).distinct().withColumn("level", lit(0L)))
    var h = 1
    var exhausted = false
    while (h <= maxHops && !exhausted) {
      // nodes first seen last hop ARE the frontier — a filter over the
      // cached visited checkpoint, no separate frontier relation
      val frontier = visited.filter(col("level") === lit(h - 1L))
        .select(col("id").as("src"))
      val cand = e.join(frontier, "src")
        .select(col("dst").as("id"), lit(h.toLong).as("level"))
      val nv = Ckpt.local(
        visited.select("id", "level").union(cand)
          .groupBy("id").agg(min(col("level")).as("level")))
      // An empty new-node set means every remaining hop is a no-op —
      // skip them (the result is the fixpoint either way; the count also
      // materializes this hop's merged checkpoint before the next hop —
      // and the release below — touches it). One scalar action per hop.
      exhausted = nv.filter(col("level") === lit(h.toLong)).count() == 0
      Ckpt.free(visited)
      visited = nv
      h += 1
    }
    visited
  }

  /** K-CORE decomposition by fixed-round peeling: each round drops every
    * node whose degree among the still-alive nodes is < `k`; after
    * `rounds` rounds the survivors (a superset of, and at convergence
    * exactly, the k-core) are returned with their residual degree
    * (id, deg). Peeling halves the periphery each round in practice —
    * real graphs converge in a handful of rounds — and the fixed unroll
    * keeps the operator a deterministic constant-depth plan an oracle
    * can replay. Per round: two alive-semi-joins + one degree count,
    * all node/edge grain.
    *
    * `edges` must be SYMMETRIZED (both directions present for every
    * undirected edge, like [[bfsLevels]]): the node set is seeded from
    * distinct `src` and degrees are counted by grouping on `src`, so a
    * one-direction edge list would silently drop dst-only nodes and
    * undercount degrees. */
  def kcore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    // Monotone EDGE-SHRINKING formulation: each round computes the
    // degree of the surviving subgraph (one groupBy on src), finds the
    // round's DEAD nodes (deg < k — node-grain), and anti-joins the
    // edge list against them on both endpoints. Isolated survivors
    // (all neighbors peeled) drop out exactly as before — they have no
    // surviving edge, so no degree row.
    //
    // Only the DEAD sets are checkpointed (node-grain): the surviving
    // edge relation stays a lazy anti-join chain over the one base
    // checkpoint, so no round rewrites the edge list to storage —
    // round r's degree pass is one scan of the base edges through r
    // broadcast anti-filters (map-only, no shuffle).
    //
    // The broadcast on the dead sets is EXPLICIT, not left to AQE: at
    // the sf10 scale point the round-1 dead set (~6–10 MB of node ids)
    // crossed the auto-broadcast threshold, every anti-join fell back
    // to sort-merge, and round r's degree pass re-executed the whole
    // r-deep chain as O(rounds²) full-edge shuffles — measured 12.6×
    // time for 3.3× data. With the hint the chain stays map-only at
    // every measured scale. (Materializing each round's survivors
    // instead fixes sf10 but doubles sf3 — the node-grain broadcast is
    // the right trade until dead sets stop fitting the driver, which is
    // a graph 100× beyond this family's node counts.)
    // one exchange, not two — see bfsLevels (hash(src) already
    // clusters the (src, dst) dedup)
    val e0 = Ckpt.local(
      edges.select(col("src"), col("dst"))
        .repartition(col("src")).dropDuplicates("src", "dst")
        .sortWithinPartitions("src"))
    var e = e0
    def deg(g: DataFrame): DataFrame =
      g.groupBy("src").agg(count(lit(1)).as("deg"))
    (1 to rounds).foreach { _ =>
      val dead = Ckpt.local(
        deg(e).filter(col("deg") < k).select(col("src").as("id")))
      e = e
        .join(broadcast(dead.select(col("id").as("src"))), Seq("src"), "left_anti")
        .join(broadcast(dead.select(col("id").as("dst"))), Seq("dst"), "left_anti")
        .select(col("src"), col("dst"))
    }
    deg(e).select(col("src").as("id"), col("deg"))
  }

  /** Earliest-arrival TIME-RESPECTING reachability (temporal BFS): an
    * edge (src, dst, ets) is usable only if its timestamp `ets` is ≥ the
    * arrival time at `src` — the contact-tracing / information-diffusion
    * rule (you cannot ride an interaction that happened before you got
    * there). Seeds start at arrival 0. Output (id, arr) = the earliest
    * arrival within `maxHops` edges.
    *
    * Earliest arrival is MONOTONE (an earlier arrival at src can use
    * every edge a later one can), so the per-round min-arrival DP is
    * exact — no path enumeration. Each round is one shuffle on src +
    * one min per dst, the [[cheapestPath]] shape with the temporal
    * usability predicate in the join. */
  def temporalBfs(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    // src-partitioned + sorted once — every round's delta join then
    // reads the stored edge partitions with no exchange (see bfsLevels).
    val e = Ckpt.local(
      edges.select(col("src"), col("dst"), col("ets").cast("long").as("ets"))
        .repartition(col("src")).sortWithinPartitions("src"))
    // DELTA-FRONTIER rounds (round 8): only nodes whose arrival CHANGED
    // last round can open new edges (an unchanged src already emitted all
    // its candidates the round it last improved), so each round joins the
    // delta — not the full arrival relation — against the edge list.
    // Results are round-for-round identical to the full relaxation; the
    // per-round cost is bounded by the changed frontier's out-edges, and
    // once the delta is small AQE plans it as a broadcast join (no edge
    // shuffle at all). The empty-delta exit is the same fixpoint proof as
    // before (min-arrival is monotone), now at delta grain.
    // FUSED ROUND + scoped release — see cheapestPath for the merge
    // derivation and the recovery assumption. Live checkpoint
    // generations are ≤2.
    var arr = Ckpt.local(
      seeds.select(col("id")).distinct()
        .withColumn("arr", lit(0L)).withColumn("imp", lit(true)))
    var h = 0
    var done = false
    while (h < maxHops && !done) {
      val delta = arr.filter(col("imp"))
        .select(col("id").as("src"), col("arr"))
      val cand = e.join(delta, "src")
        .filter(col("ets") >= col("arr"))
        .groupBy(col("dst").as("id")).agg(min(col("ets")).as("_cand"))
      val merged = Ckpt.local(
        arr.select(col("id"), col("arr").as("_old"),
            lit(null).cast("long").as("_cand"))
          .union(cand.select(col("id"),
            lit(null).cast("long").as("_old"), col("_cand")))
          .groupBy("id")
          .agg(min(col("_old")).as("_old"), min(col("_cand")).as("_cand"))
          .select(col("id"), least(col("_cand"), col("_old")).as("arr"),
            (col("_old").isNull ||
              (col("_cand").isNotNull && col("_cand") < col("_old"))).as("imp")))
      // the count also materializes this round's merged checkpoint
      // (every partition — filter+count is a full scan) before the
      // previous generation is released below
      done = merged.filter(col("imp")).count() == 0
      Ckpt.free(arr)
      arr = merged
      h += 1
    }
    arr.select("id", "arr")
  }

  /** Cheapest cost to reach each node from `seeds` using at most
    * `maxHops` weighted edges (`src`, `dst`, `w` — LONG weights so the
    * min is order-independent and exactly portable). `seeds`: column
    * `id`. Output: (id, cost) — the bounded Bellman-Ford relaxation.
    *
    * Per round: cost ⋈ edges on src → candidate dst costs, union with
    * the standing costs, min per node. Unlike BFS the frontier does not
    * shrink (a cheaper path may revisit a settled node), so each round
    * is vertex-grain — still one shuffle per round, `maxHops` rounds.
    * Rounds are lazily checkpointed and each is freed once the next is
    * materialized; the edge list and the final round belong to the
    * caller's [[Ckpt.scope]] (constant depth). */
  def cheapestPath(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    // src-partitioned + sorted once — every round's delta join then
    // reads the stored edge partitions with no exchange (see bfsLevels).
    // one exchange, not two — see bfsLevels (hash(src) already
    // clusters the (src, dst) min-weight aggregate)
    val e = Ckpt.local(
      edges.repartition(col("src"))
        .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
        .sortWithinPartitions("src"))
    // DELTA-FRONTIER Bellman-Ford (round 8): a src whose cost did not
    // change last round re-derives only candidates already merged in an
    // earlier round, so relaxing it again is pure waste — each round
    // joins only last round's IMPROVED nodes against the edge list.
    // Round-for-round identical results to the full relaxation; per-round
    // work is bounded by the changed frontier's out-edges instead of the
    // whole vertex set, and a small delta becomes a broadcast join under
    // AQE (the sf3-measured 3.06×-for-3×-data asymptote came from the
    // full-relation rounds). Empty delta ⇒ fixpoint (monotone min), exit.
    // FUSED ROUND (round 15, guide §2.4): the round's merge is ONE
    // vertex-grain aggregate — `union(costs tagged _old, candidates
    // tagged _cand) groupBy id` — whose min(_old)/min(_cand) pair yields
    // the new cost (least of the two) AND the improved flag
    // (_old null | _cand < _old) in the same pass. The pre-r15 spelling
    // ran TWO vertex-grain passes per round (improved = cand ⋈ costs
    // left-join filter; new costs = costs anti-join improved ∪ improved)
    // with two checkpoints, shuffling the costs relation twice; the
    // fused round shuffles it once and checkpoints once. min over the
    // ≤1 non-null value per side per id is exact — no arithmetic
    // changes, so every path cost is bit-identical.
    // SCOPED GENERATION RELEASE (round 12, VERDICT r11 #2): without it
    // every round's checkpoints stay live until the caller's scope
    // ends — vertex-grain generations whose
    // INTRA-pass working set OOMed a 24 g heap at sf10 even after
    // blocking release flattened the cross-pass floor. The DP only ever
    // reads generation N−1: round N's filter(imp).count() computes EVERY
    // partition of merged(N) (a filter+count is a full scan, and a
    // marked localCheckpoint RDD caches partitions as they are computed)
    // — only merged(N) itself is lineage-FINALIZED by the job
    // (doCheckpoint recurses to ancestors only under
    // spark.checkpoint.checkpointAllMarkedAncestors, default false;
    // ADVICE r12) — so merged(N−1), both the costs it fed and the delta
    // filtered from it, has no remaining CONSUMER and is released inside
    // the loop: live generations are ≤2 regardless of maxHops (≤4
    // pre-r15, when improved and the anti-join∪union costs were separate
    // generations). Recovery assumption, stated plainly: released
    // generations sit on un-truncated recompute chains of later ones, so
    // a lost block after release is NOT recomputable — irrelevant in
    // local mode (MEMORY_AND_DISK blocks spill, never vanish), and moot
    // on a cluster because localCheckpoint itself trades executor-loss
    // tolerance for speed (Spark's own contract). A fault-tolerant
    // cluster deployment sets SPARK_GRAFT_CKPT_DIR (round 14, VERDICT
    // r13 #2): Ckpt then checkpoints every generation EAGERLY to durable
    // storage, results are identical (CkptModeSpec), and the same scoped
    // release discipline becomes actually safe — released generations
    // live as files, not lost blocks. Same discipline as Dedup.clusters
    // and (since round 15) bfsLevels/temporalBfs.
    var costs = Ckpt.local(
      seeds.select(col("id")).distinct()
        .withColumn("cost", lit(0L)).withColumn("imp", lit(true)))
    var h = 0
    var done = false
    while (h < maxHops && !done) {
      val delta = costs.filter(col("imp"))
        .select(col("id").as("src"), col("cost"))
      val cand = e.join(delta, "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("cost") + col("w")).as("_cand"))
      val merged = Ckpt.local(
        costs.select(col("id"), col("cost").as("_old"),
            lit(null).cast("long").as("_cand"))
          .union(cand.select(col("id"),
            lit(null).cast("long").as("_old"), col("_cand")))
          .groupBy("id")
          .agg(min(col("_old")).as("_old"), min(col("_cand")).as("_cand"))
          .select(col("id"), least(col("_cand"), col("_old")).as("cost"),
            (col("_old").isNull ||
              (col("_cand").isNotNull && col("_cand") < col("_old"))).as("imp")))
      // the count also materializes this round's merged checkpoint
      // before the previous generation is released below
      done = merged.filter(col("imp")).count() == 0
      Ckpt.free(costs)
      costs = merged
      h += 1
    }
    costs.select("id", "cost")
  }
}
