package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pointer-doubling flattening on planted forests with known exact
  * depths — the shapes the md5 forest only covers statistically.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("a 100-deep chain resolves to its single root with exact depths") {
    // 0 <- 1 <- 2 <- ... <- 100
    val par = (0L to 100L).map(n => (n, math.max(n - 1, 0L)))
      .toDF("node", "parent")
    val out = Graph.rootsFor(par).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) == ((0L, 0L)))
    assert(out(1L) == ((0L, 1L)))
    assert(out(100L) == ((0L, 100L)))
    assert(out.size == 101)
  }

  test("a star and a second tree stay separate (forest, not one tree)") {
    val par = Seq((0L, 0L), (10L, 0L), (11L, 0L), (12L, 0L),
      (5L, 5L), (20L, 5L), (21L, 20L)).toDF("node", "parent")
    val out = Graph.rootsFor(par).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(10L) == ((0L, 1L)) && out(12L) == ((0L, 1L)))
    assert(out(20L) == ((5L, 1L)) && out(21L) == ((5L, 2L)))
    assert(out(5L) == ((5L, 0L)))
  }

  test("pagerank: mass conserved and a pure hub dominates a pure spoke") {
    // 5-node graph: every node links to 0; 0 links to 1. Node 0 must
    // absorb the bulk of the rank; total mass stays 1 up to the
    // per-round rounding slack (no dangling nodes by construction).
    val nodes = (0L to 4L).toDF("node")
    val edges = ((1L to 4L).map(n => (n, 0L)) :+ ((0L, 1L)))
      .toDF("src", "dst")
    val r = Graph.pagerankFor(nodes, edges, 5L).collect()
      .map(x => x.getLong(0) -> x.getDecimal(1).doubleValue()).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-6, s"mass ${r.values.sum}")
    assert(r(0L) > r(1L) && r(1L) > r(2L), r.toString)
    assert(r(2L) == r(3L) && r(3L) == r(4L)) // symmetric spokes tie exactly
  }

  test("pagerank: uniform ring stays uniform (the fixed point is exact)") {
    // each node links to the next: the uniform vector is PageRank's
    // fixed point, and the exact-decimal discipline must hold it
    // bit-stably across rounds rather than drift
    val n = 8L
    val nodes = (0L until n).toDF("node")
    val edges = (0L until n).map(i => (i, (i + 1) % n)).toDF("src", "dst")
    val r = Graph.pagerankFor(nodes, edges, n).collect()
      .map(_.getDecimal(1).doubleValue()).distinct
    assert(r.length == 1, s"ring ranks diverged: ${r.toSeq}")
    assert(math.abs(r.head - 1.0 / n) < 1e-9)
  }

  test("weighted pagerank: the heavier edge carries the rank mass") {
    // 0 splits its vote 9:1 between 1 and 2; both return it. Rank(1)
    // must dominate rank(2); mass stays 1 up to rounding slack.
    val nodes = (0L to 2L).toDF("node")
    val edges = Seq((0L, 1L, 9L), (0L, 2L, 1L), (1L, 0L, 1L),
      (2L, 0L, 1L)).toDF("src", "dst", "w")
    val r = Graph.pagerankWeighted(nodes, edges, 3L).collect()
      .map(x => x.getLong(0) -> x.getDecimal(1).doubleValue()).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-6, s"mass ${r.values.sum}")
    assert(r(1L) > r(2L), r.toString)
    assert(r(0L) > r(1L), r.toString) // everyone votes for 0
  }

  test("pagerank: the graded plan has no cartesian and no corpus broadcast") {
    val plan = Graph.graphPagerank(spark, sf).queryExecution.executedPlan
      .toString()
    assert(!plan.contains("CartesianProduct"), "cartesian in pagerank plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "BNLJ in pagerank plan")
  }

  test("kcore: a clique with a pendant chain peels to exactly the clique") {
    // K4 on {0,1,2,3} plus the chain 3—10—11—12: the 3-core is the
    // clique (each member keeps degree 3); the chain is below k at
    // every node and peels away. One extra round is a no-op (the
    // KcoreRounds convergence contract).
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 10L), (10L, 11L), (11L, 12L)).toDF("a", "b")
    var core = Map.empty[Long, Long]
    val jobs = jobsDuring {
      core = Graph.kcoreFor(e).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(core == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L), core)
    // round 1 peels the chain, round 2 removes nothing: the fixpoint
    // stop, one count job per round
    assert(jobs.count(_.at("count at Graph.scala")) == 2, jobs)
    val extra = Graph.kcoreFor(e, rounds = Graph.KcoreRounds + 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(extra == core, "an extra peel round moved a converged core")
  }

  test("kcore: cascading peel empties a path, keeps a cycle (k=2)") {
    // path 0—1—2—3—4: endpoints fall round 1, their neighbors round 2,
    // the center round 3 — the multi-round cascade a single-round
    // degree filter gets wrong. A 5-cycle is its own 2-core.
    val path = (0L to 3L).map(i => (i, i + 1)).toDF("a", "b")
    assert(Graph.kcoreFor(path, k = 2).count() == 0)
    val cycle = ((0L to 3L).map(i => (i, i + 1)) :+ ((0L, 4L)))
      .toDF("a", "b")
    val core = Graph.kcoreFor(cycle, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == (0L to 4L).map(_ -> 2L).toMap, core)
  }

  test("kcore: a path longer than KcoreRounds gets the bounded answer") {
    // path 0—…—20 at k=2: each round peels one edge off each end, so
    // the fixpoint (the empty 2-core) is 10 rounds away; the peel
    // stops at the bound with the answer the oracle's unrolled rounds
    // give
    val n = 20L
    val path = (0L until n).map(i => (i, i + 1)).toDF("a", "b")
    val peeled = (1 to Graph.KcoreRounds).foldLeft(
        (0L until n).map(i => (i, i + 1))) { (es, _) =>
      val deg = es.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (v, vs) => v -> vs.size }
      es.filter { case (a, b) => deg(a) >= 2 && deg(b) >= 2 }
    }
    val expected = peeled.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (v, vs) => v -> vs.size.toLong }
      .filter(_._2 >= 2)
    val got = Graph.kcoreFor(path, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expected.nonEmpty, "the bound stops short of the fixpoint")
    assert(got == expected, got)
  }

  test("kcore/khop: per-round checkpoints keep the analyzed plan flat") {
    // the r11 analyzer bomb: an un-cut 6-round fold references its
    // predecessor ~5x per round, so the final LOGICAL plan carries
    // 5^6 copies of the upstream. With the per-round localCheckpoint
    // the final plan is one round deep — a few dozen nodes.
    val e = Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("a", "b")
    val kcoreNodes = Graph.kcoreFor(e, k = 2)
      .queryExecution.logical.collect { case _ => 1 }.sum
    assert(kcoreNodes < 50, s"kcore plan has $kcoreNodes nodes")
    val edges = e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
    val khopNodes = Graph.khopFor(edges)
      .queryExecution.logical.collect { case _ => 1 }.sum
    assert(khopNodes < 50, s"khop plan has $khopNodes nodes")
  }

  test("khop: hop distances on a planted chain, unreachable stays absent") {
    // undirected chain 0—1—2—3 (both orientations passed, per the
    // khopFor contract) plus the disconnected edge 10—11: BFS from
    // the smallest present node (0) labels the chain 0,1,2,3 and
    // never reaches the island.
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L))
    val edges = und.toDF("u", "v")
      .unionByName(und.map(_.swap).toDF("u", "v"))
    val d = Graph.khopFor(edges).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3), d)
  }

  test("labelprop: planted two-component graph gets min labels and " +
    "sizes; one extra round is a no-op") {
    // path 5—6—7—8 (label 5, size 4) and island 10—11 (label 10,
    // size 2), both orientations per the labelpropFor contract
    val und = Seq((5L, 6L), (6L, 7L), (7L, 8L), (10L, 11L))
    val edges = und.toDF("u", "v")
      .unionByName(und.map(_.swap).toDF("u", "v"))
    def run(rounds: Int) = Graph.labelpropFor(edges, rounds).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = run(Graph.LabelpropRounds)
    assert(got == Map(
      5L -> ((5L, 4L)), 6L -> ((5L, 4L)), 7L -> ((5L, 4L)),
      8L -> ((5L, 4L)), 10L -> ((10L, 2L)), 11L -> ((10L, 2L))), got)
    assert(run(Graph.LabelpropRounds + 1) == got,
      "an extra round changed a converged labeling")
  }

  test("sssp: the cheap path is the long way around; extra round is " +
    "a no-op") {
    // seed is min(u) = 0. Direct edge 0—3 costs 7; the chain
    // 0—1—2—3 costs 1+1+1 = 3. Island 10—11 stays unreached.
    val und = Seq((0L, 3L, 7L), (0L, 1L, 1L), (1L, 2L, 1L),
      (2L, 3L, 1L), (10L, 11L, 1L))
    val edges = und.toDF("u", "v", "cost").unionByName(
      und.map { case (u, v, c) => (v, u, c) }.toDF("u", "v", "cost"))
    def run(rounds: Int) = Graph.ssspFor(edges, rounds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = run(Graph.SsspRounds)
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L), got)
    assert(run(Graph.SsspRounds + 1) == got,
      "an extra relaxation changed converged distances")
  }

  test("doubling equals the one-edge-at-a-time walk on the graded forest") {
    // parents are strictly smaller, so a key-prefix slice is closed
    // under ancestors (limit() would not be)
    val par = Graph.parentForest(spark, sf).filter(col("node") < 200)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val doubled = Graph.rootsFor(
      par.toSeq.toDF("node", "parent")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    par.keys.foreach { n =>
      var (cur, d) = (n, 0L)
      while (par(cur) != cur) { cur = par(cur); d += 1 }
      assert(doubled(n) == ((cur, d)), s"node $n: ${doubled(n)} vs ($cur, $d)")
    }
  }
}
