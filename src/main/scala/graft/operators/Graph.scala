package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph traversal over an edge list, with no driver-side
  * graph: three bounded monotone-min relaxations that share one loop,
  * [[relax]] — BFS levels ([[bfsLevels]]), earliest time-respecting
  * arrival ([[temporalBfs]]) and cheapest path ([[cheapestPath]]) — plus
  * k-core peeling ([[kcore]]).
  *
  * Each relaxation is an edge layout plus a candidate rule. The edges are
  * checkpointed once, hash-partitioned and sorted by `src`; each round
  * joins the nodes that improved last round to them and merges the
  * candidates in one vertex-grain aggregate. Only one count per round
  * reaches the driver. `maxHops` is a query constant (2–4 in practice),
  * and a round's shuffle is bounded by the improved frontier's out-edges
  * plus the vertex set: the shape of shuffle-based graph traversal
  * (Pregel as joins).
  */
object Graph {

  /** Both directions of an undirected pair list in ONE pass — explode a
    * (forward, reverse) struct pair per row. The
    * `sel(a→src).union(sel(b→src))` spelling plans the pair subtree once
    * PER UNION BRANCH: for the trade-graph queries that subtree is the
    * full orders⋈lineitem build, and over a lazy checkpoint two tasks
    * compute each of its partitions. Extra columns (e.g. a weight) ride
    * along via `carry`. Same row multiset, so every
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

  /** The edge list laid out for [[relax]] and [[kcore]]: distinct
    * (src, dst), hash-partitioned and sorted by `src`, checkpointed.
    * One exchange: hash(src) already clusters the (src, dst) dedup, so the
    * dedup aggregates in place. It shuffles raw rows (no map-side
    * combine), which wins while edge multiplicity is below 2 (the trade
    * graph's is about 1.02); a caller with heavy parallel-edge
    * multiplicity should pre-aggregate. */
  private def distinctEdges(edges: DataFrame): DataFrame = Ckpt.local(
    edges.select(col("src"), col("dst"))
      .repartition(col("src")).dropDuplicates("src", "dst")
      .sortWithinPartitions("src"))

  /** The bounded monotone-min DP. Seeds start at 0. Each round joins last
    * round's improved nodes (`src`, `v`) to the edge checkpoint `e`, and
    * `cand` turns the joined rows into candidates (`id`, `_cand`). One
    * vertex-grain aggregate over the standing values (tagged `_old`) and
    * the candidates keeps `least(min(_old), min(_cand))` per node and sets
    * `imp` where that is new or lower. Stops after `maxHops` rounds or the
    * first round that improves no node; returns (`id`, `v`).
    *
    * `e` is hash-partitioned and sorted by `src` before its checkpoint,
    * which keeps both, so each round's join reads the stored edge
    * partitions with no exchange and no sort on the big side; a small
    * delta becomes a broadcast join under AQE.
    *
    * Joining only the improved nodes gives the full relaxation's values
    * round for round: a node that did not change emitted all its
    * candidates in the round it last improved. With a monotone min, an
    * empty delta is the fixpoint. The min over at most one non-null value
    * per side per node does no arithmetic, so values are exact. */
  private def relax(e: DataFrame, seeds: DataFrame, maxHops: Int)
                   (cand: DataFrame => DataFrame): DataFrame = {
    var dist = Ckpt.local(seeds.select(col("id")).distinct()
      .withColumn("v", lit(0L)).withColumn("imp", lit(true)))
    var h = 0
    var improved = 1L
    while (h < maxHops && improved > 0) {
      val delta = dist.filter(col("imp")).select(col("id").as("src"), col("v"))
      val merged = dist.select(col("id"), col("v").as("_old"), lit(null).cast("long").as("_cand"))
        .union(cand(e.join(delta, "src"))
          .select(col("id"), lit(null).cast("long").as("_old"), col("_cand")))
        .groupBy("id")
        .agg(min(col("_old")).as("_old"), min(col("_cand")).as("_cand"))
        .select(col("id"), least(col("_cand"), col("_old")).as("v"),
          (col("_old").isNull ||
            (col("_cand").isNotNull && col("_cand") < col("_old"))).as("imp"))
      val (next, n) = Ckpt.advance(dist, merged)(_.filter(col("imp")).count())
      dist = next
      improved = n
      h += 1
    }
    dist.select("id", "v")
  }

  /** Min-hop level of every node reachable from `seeds` within `maxHops`
    * hops of the directed edge list `edges` (columns `src`, `dst`; pass
    * both directions for an undirected graph). `seeds` carries column
    * `id`. Output: (id, level) with level = min #hops in [0, maxHops].
    *
    * A BFS level is the unit-weight min DP: a node's first discovery is
    * its minimum, and the improved nodes are exactly the new frontier.
    * The raw (dst, v + 1) rows go straight into [[relax]]'s merge with no
    * pre-aggregate, so a hop stays one vertex-grain exchange. */
  def bfsLevels(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame =
    relax(distinctEdges(edges), seeds, maxHops)(
      _.select(col("dst").as("id"), (col("v") + 1L).as("_cand")))
      .select(col("id"), col("v").as("level"))

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
    var e = distinctEdges(edges)
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
  def temporalBfs(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame =
    relax(
      Ckpt.local(edges.select(col("src"), col("dst"), col("ets").cast("long").as("ets"))
        .repartition(col("src")).sortWithinPartitions("src")),
      seeds, maxHops)(
      _.filter(col("ets") >= col("v"))
        .groupBy(col("dst").as("id")).agg(min(col("ets")).as("_cand")))
      .select(col("id"), col("v").as("arr"))

  /** Cheapest cost to reach each node from `seeds` using at most
    * `maxHops` weighted edges (`src`, `dst`, `w` — LONG weights so the
    * min is order-independent and exactly portable). `seeds`: column
    * `id`. Output: (id, cost) — the bounded Bellman-Ford relaxation.
    * Parallel edges keep their minimum weight, aggregated in place after
    * the one exchange on `src`; a round's candidates are min(v + w) per
    * dst. */
  def cheapestPath(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame =
    relax(
      Ckpt.local(edges.repartition(col("src"))
        .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
        .sortWithinPartitions("src")),
      seeds, maxHops)(
      _.groupBy(col("dst").as("id")).agg(min(col("v") + col("w")).as("_cand")))
      .select(col("id"), col("v").as("cost"))
}
