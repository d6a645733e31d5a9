package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.graph.GraphProfiler

/** Connected components must follow multi-hop chains — the oracle's
  * closed-form check only covers star graphs, so the chain/isolated
  * topology is verified here. */
class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("label propagation finds multi-hop components") {
    // chain 1-2-3-4, pair 5-6, self-loop 7
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (7L, 7L))
      .toDF("src", "dst")
    val comps = GraphProfiler.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1) == 1 && comps(2) == 1 && comps(3) == 1 && comps(4) == 1)
    assert(comps(5) == 5 && comps(6) == 5)
    assert(comps(7) == 7)
    val st = GraphProfiler.stats(edges)
    assert(st.numNodes == 7 && st.numEdges == 5)
    assert(st.nComponents == 3 && st.maxComponent == 4)
  }

  test("deep path graph (diameter > 10) converges with bounded plan depth") {
    // path 0-1-2-...-22: min-label propagation needs ~22 rounds, which
    // crosses several localCheckpoint boundaries — convergence must
    // survive lineage truncation, and the returned plan must be shallow
    // (a checkpointed scan + few rounds), not a 22-round union chain
    val edges = (0L until 22L).map(i => (i, i + 1)).toDF("src", "dst")
    // smallGraphCap = 0 forces the distributed loop (the subject of this
    // test); the union-find fast path is covered by the next test
    val labeled = GraphProfiler.connectedComponents(edges, smallGraphCap = 0)
    val comps = labeled.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size == 23)
    assert(comps.values.forall(_ == 0L), s"unconverged labels: $comps")
    // truncation proof: the plan bottoms out at a checkpointed scan
    // (LogicalRDD / ExistingRDD), and the join count is bounded by the
    // checkpoint INTERVAL (< 2^5), not by the 22-round diameter
    val planText = labeled.queryExecution.optimizedPlan.treeString
    assert(planText.contains("LogicalRDD") || planText.contains("Scan ExistingRDD"),
      "no checkpointed scan in plan — lineage not truncated")
    val joins = "(?i)\\bjoin\\b".r.findAllIn(planText).size
    assert(joins < 64, s"join count not bounded by checkpoint interval: $joins")
  }

  test("small-graph union-find fast path equals the distributed loop") {
    val rnd = new scala.util.Random(7)
    // random graph: chains, a hub, isolated pairs — 200 edges over ~120
    // nodes, several non-trivial components
    val edges = ((0 until 200).map { _ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)
    } :+ (200L, 201L)).toDF("src", "dst")
    def labelsOf(cap: Long) =
      GraphProfiler.connectedComponents(edges, smallGraphCap = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = labelsOf(Long.MaxValue)
    val loop = labelsOf(0)
    assert(fast == loop, "fast-path labels diverge from the loop's")
  }

  test("union-find on raw edges equals the loop: repeats, both directions, self-loops") {
    // the fast path reads the edge rows as given (no symmetrizing union,
    // no distinct): a repeated edge, an edge listed both ways, self-loops
    // on a component member and on a lone node, and a 2-node component
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 3L),
      (9L, 9L), (10L, 11L), (11L, 10L), (20L, 21L)).toDF("src", "dst")
    def labelsOf(cap: Long) =
      GraphProfiler.connectedComponents(edges, smallGraphCap = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = labelsOf(0)
    assert(loop == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    // Long.MaxValue takes no limit at all, a cap just past Int.MaxValue
    // neither, and Int.MaxValue - 1 is the largest cap a limit can carry
    for (cap <- Seq(Long.MaxValue, Int.MaxValue.toLong + 1, Int.MaxValue.toLong - 1,
        edges.count(), edges.count() - 1))
      assert(labelsOf(cap) == loop, s"cap $cap")
    def sizesOf(cap: Long) =
      GraphProfiler.componentSizes(edges, "cluster_id", cap)(())
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sizesOf(Long.MaxValue) == Seq((1L, 3L), (10L, 2L), (20L, 2L)))
    assert(sizesOf(0) == sizesOf(Long.MaxValue))
  }

  test("componentSizes frees its input once the edges are read") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    for (cap <- Seq(0L, Long.MaxValue)) {
      var released = 0
      val sizes = GraphProfiler.componentSizes(edges, "id", cap)(released += 1)
      assert(released == 1, s"cap $cap")
      assert(sizes.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((1L, 3L)))
    }
  }

  test("empty edge set yields empty components without error") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphProfiler.connectedComponents(edges).count() == 0)
    val st = GraphProfiler.stats(edges)
    assert(st.numNodes == 0 && st.numEdges == 0 && st.nComponents == 0)
  }

  test("continuous vs categorical attribute rule") {
    val e = Seq((1L, 2L, 0.5, "a"), (2L, 3L, 1.25, "b"))
      .toDF("src", "dst", "w", "tag")
    assert(GraphProfiler.isContinuous(e, "w"))
    assert(!GraphProfiler.isContinuous(e, "tag"))
    assert(GraphProfiler.bestFit(0.0, 0.0) == "norm")
    assert(GraphProfiler.bestFit(2.1, 5.8) == "expon")
    assert(GraphProfiler.bestFit(0.0, -1.0) == "uniform")
    // gamma locus: k=4 shape gives (skew, kurt) = (1, 1.5) exactly
    assert(GraphProfiler.bestFit(1.0, 1.5) == "gamma")
    // lognorm locus: w = e^sigma^2 = 2 gives skew 4, excess kurt 38
    assert(GraphProfiler.bestFit(4.0, 38.0) == "lognorm")
    // MoM parameter recovery: gamma(k=4, theta=2) has mean 8, var 16
    val g = GraphProfiler.fitParams("gamma", 8.0, 16.0)
    assert(math.abs(g("shape") - 4.0) < 1e-9 && math.abs(g("scale") - 2.0) < 1e-9)
    // U(2, 10): mean 6, var 64/12
    val u = GraphProfiler.fitParams("uniform", 6.0, 64.0 / 12.0)
    assert(math.abs(u("loc") - 2.0) < 1e-9 && math.abs(u("scale") - 8.0) < 1e-9)
    // lognorm round-trip: mu=0, sigma=0.5 -> mean=e^{0.125}, var=(e^{0.25}-1)e^{0.25}
    val m = math.exp(0.125); val v = (math.exp(0.25) - 1.0) * math.exp(0.25)
    val ln = GraphProfiler.fitParams("lognorm", m, v)
    assert(math.abs(ln("shape") - 0.5) < 1e-9 &&
      math.abs(ln("scale") - 1.0) < 1e-9)
  }
}
