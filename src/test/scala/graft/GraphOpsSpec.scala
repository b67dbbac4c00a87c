package graft

import graft.operators.GraphOps
import org.scalatest.funsuite.AnyFunSuite

/** Connected-components correctness + the O(log n) round bound.
  *
  * The round-6 min-label implementation was O(component diameter) and
  * hard-aborted at 20 rounds; the planted-chain test here is exactly the
  * input that used to throw IllegalStateException.
  */
class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Driver-side union-find oracle over a small edge list. */
  private def oracle(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // path-compress to the true min root
    nodes.map(n => n -> find(n)).toMap
  }

  /** Runs BOTH execution paths — the default (which finishes a
    * fixture-scale graph in one union-find task) and the distributed
    * star loop (localFinishMaxEdges = 0) — asserts their labellings are
    * identical, and returns the labels plus the DISTRIBUTED round count
    * (the O(log n) bound under test is a property of the loop). */
  private def run(edges: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    import spark.implicits._
    val df = edges.toDF("a", "b")
    val (labels, _) = GraphOps.connectedComponentsWithRounds(df)
    val (labelsDist, rounds) =
      GraphOps.connectedComponentsWithRounds(df, localFinishMaxEdges = 0L)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotDist =
      labelsDist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == gotDist,
      "local-finish and distributed star labels must be identical")
    (got, rounds)
  }

  test("diameter-200 chain converges in O(log n) rounds, labels = min") {
    val chain = (0L until 200L).map(i => (i, i + 1))
    val (got, rounds) = run(chain)
    assert(got.size == 201)
    assert(got.values.forall(_ == 0L), s"all labels must be 0, got $got")
    // log2(201) ≈ 7.6; the alternating algorithm lands well under 10.
    // The old min-label code needed 200 rounds and threw at 20.
    assert(rounds <= 10, s"chain took $rounds star rounds")
  }

  test("multi-component graph matches a union-find oracle") {
    // two chains, a clique, a star, an isolated edge — shuffled ordering
    val edges = Seq[(Long, Long)](
      (5, 3), (3, 9), (9, 7),                  // chain with min 3
      (20, 21), (21, 22), (22, 20),            // triangle, min 20
      (40, 41), (40, 42), (40, 43), (40, 44),  // star rooted above min
      (100, 99),                               // pair
      (60, 61), (62, 61), (63, 62), (64, 63))  // chain, min 60
    val (got, rounds) = run(edges)
    assert(got == oracle(edges))
    assert(rounds <= 6, s"took $rounds rounds")
  }

  test("duplicate and reversed edges don't change the labelling") {
    val base = Seq[(Long, Long)]((1, 2), (2, 3))
    val noisy = base ++ Seq[(Long, Long)]((2, 1), (3, 2), (1, 2), (1, 3))
    assert(run(noisy)._1 == run(base)._1)
  }

  test("empty edge set yields empty labels without iterating") {
    import spark.implicits._
    val (labels, rounds) = GraphOps.connectedComponentsWithRounds(
      Seq.empty[(Long, Long)].toDF("a", "b"))
    assert(labels.isEmpty)
    assert(rounds == 0)
  }

  test("mid-loop switch to the union-find finish keeps labels exact") {
    // Start above the local-finish bound so distributed rounds run, then
    // contract under it so the union-find takes over mid-computation —
    // the hybrid must match both pure paths (and the oracle).
    import spark.implicits._
    val chain = (0L until 200L).map(i => (i, i + 1))
    val df = chain.toDF("a", "b")
    val (hybrid, roundsH) = GraphOps.connectedComponentsWithRounds(
      df, localFinishMaxEdges = 50L)
    val got = hybrid.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(roundsH >= 1, "a 200-edge chain above the bound must iterate")
    assert(got.size == 201 && got.values.forall(_ == 0L))
  }

  test("self-loops label their node instead of erasing it") {
    val (got, _) = run(Seq[(Long, Long)]((7, 7), (7, 8), (9, 9)))
    // 9 appears only as a self-loop: it must come back as its own
    // component (a reflexive dedup relation is a natural input shape —
    // silently dropping the node violated the every-node-labeled
    // contract); 7's self-loop adds nothing to its real component
    assert(got == Map(7L -> 7L, 8L -> 7L, 9L -> 9L))
  }

  test("the local-finish override: unset is the 4M default, 0 stays 0") {
    assert(GraphOps.parseLocalMaxEdges(None) == 4000000L)
    assert(GraphOps.parseLocalMaxEdges(Some("0")) == 0L)
    assert(GraphOps.parseLocalMaxEdges(Some(" 1234 ")) == 1234L)
  }

  test("the local-finish override caps at 4x the default") {
    val cap = GraphOps.MaxLocalFinishMaxEdges
    assert(cap == 4 * GraphOps.DefaultLocalFinishMaxEdges)
    assert(GraphOps.parseLocalMaxEdges(Some(cap.toString)) == cap)
    assert(GraphOps.parseLocalMaxEdges(Some((cap + 1).toString)) == cap)
    assert(GraphOps.parseLocalMaxEdges(Some(Long.MaxValue.toString)) == cap)
  }

  test("the local-finish override rejects non-numeric and negative values") {
    for (bad <- Seq("abc", "4e6", "", "-1", "99999999999999999999")) {
      val err = intercept[IllegalArgumentException](
        GraphOps.parseLocalMaxEdges(Some(bad)))
      assert(err.getMessage.contains("SPARK_GRAFT_CC_LOCAL_MAX_EDGES"),
        s"'$bad' must fail naming the variable: ${err.getMessage}")
    }
  }
}
