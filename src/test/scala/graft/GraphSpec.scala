package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** BFS levels and bounded cheapest path on hand-built graphs with known
  * answers (including a cycle, an unreachable node, and a case where the
  * cheapest route is NOT the fewest-hop route). */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edgesDf(e: Seq[(Long, Long)]) =
    (e ++ e.map(p => (p._2, p._1))).toDF("src", "dst") // undirected

  test("bfsLevels assigns minimum hop counts and stops at maxHops") {
    //   1 - 2 - 3 - 4 - 5   plus chord 1-3 and isolated 9
    val edges = edgesDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L)))
    val out = Graph.bfsLevels(edges, Seq(1L).toDF("id"), maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    // 5 is 3 hops away — outside the bound; 9 never appears
    assert(!out.contains(5L) && !out.contains(9L))
  }

  test("bfsLevels from multiple seeds takes the nearest seed's level") {
    val edges = edgesDf(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    val out = Graph.bfsLevels(edges, Seq(1L, 4L).toDF("id"), maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 0L, 4L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("cheapestPath prefers a longer route when it is cheaper") {
    // 1→2→3 costs 1+1=2; direct 1→3 costs 10; bound allows both
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 10L))
      .toDF("src", "dst", "w")
    val out = Graph.cheapestPath(edges, Seq(1L).toDF("id"), maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("cheapestPath within one hop cannot use the cheaper two-hop route") {
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 10L))
      .toDF("src", "dst", "w")
    val out = Graph.cheapestPath(edges, Seq(1L).toDF("id"), maxHops = 1)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 0L, 2L -> 1L, 3L -> 10L))
  }

  test("cheapestPath dedups parallel edges to their minimum weight") {
    val edges = Seq((1L, 2L, 7L), (1L, 2L, 4L)).toDF("src", "dst", "w")
    val out = Graph.cheapestPath(edges, Seq(1L).toDF("id"), maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(out(2L) === 4L)
  }

  test("temporalBfs refuses edges that fire before the arrival at src") {
    // 1 →(t=10) 2 →(t=5) 3 is NOT a valid path (edge 2→3 happened before
    // we reached 2); 2 →(t=20) 4 is (waiting is allowed).
    val edges = Seq((1L, 2L, 10L), (2L, 3L, 5L), (2L, 4L, 20L))
      .toDF("src", "dst", "ets")
    val out = Graph.temporalBfs(edges, Seq(1L).toDF("id"), maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 0L, 2L -> 10L, 4L -> 20L))
  }

  test("temporalBfs takes the earliest arrival among competing paths") {
    // two routes to 3: via 2 arriving at 30, or direct at 50 — min wins;
    // and the later direct edge must not drag the arrival back up
    val edges = Seq((1L, 2L, 10L), (2L, 3L, 30L), (1L, 3L, 50L))
      .toDF("src", "dst", "ets")
    val out = Graph.temporalBfs(edges, Seq(1L).toDF("id"), maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(out(3L) === 30L)
  }

  test("kcore peels the pendant chain and keeps the clique with residual degrees") {
    // K4 on {1,2,3,4} plus chain 4-5-6: the 3-core is exactly the K4
    // (5 falls once 6 is gone, 4's degree drops back to 3)
    val edges = edgesDf(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L)))
    val out = Graph.kcore(edges, k = 3, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("bfs plan is iterative joins — no cartesian product anywhere") {
    val edges = edgesDf(Seq((1L, 2L), (2L, 3L)))
    val plan = Graph.bfsLevels(edges, Seq(1L).toDF("id"), maxHops = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"))
  }

  test("symmetrized casts an int and a long endpoint to their common type") {
    val pairs = Seq((1, 2L, 5L), (3, 4L, 7L)).toDF("a", "b", "w")
    val edges = Graph.symmetrized(pairs, "a", "b", Seq("w"))
    assert(edges.schema("src").dataType == org.apache.spark.sql.types.LongType)
    assert(edges.schema("dst").dataType == org.apache.spark.sql.types.LongType)
    assert(edges.as[(Long, Long, Long)].collect().toSet ==
      Set((1L, 2L, 5L), (2L, 1L, 5L), (3L, 4L, 7L), (4L, 3L, 7L)))
  }
}
