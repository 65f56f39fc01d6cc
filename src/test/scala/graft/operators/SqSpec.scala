package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** SQ8 scalar quantization: code-range/shape contract, the per-cell
  * reconstruction bound that defines grid quantization, and the
  * recall the grid error actually costs vs exact search (the
  * exactness of codes and search is DuckDB-oracled; these are the
  * properties the oracle can't state).
  */
class SqSpec extends SparkSpec {

  test("codes: 64 per vector, all in [0,255], one row per corpus " +
      "vector; midpoint reconstruction stays within half a grid cell") {
    val n = Tables.load(spark, sf, "embeddings").count()
    val rows = Sq.codes(spark, sf).collect()
    assert(rows.length == n)
    rows.foreach { r =>
      val cs = r.getAs[scala.collection.Seq[Long]]("codes")
      assert(cs.length == 64)
      assert(cs.forall(c => c >= 0 && c <= 255))
    }

    // |x − deq(code(x))| ≤ step/2 per dimension — the defining bound
    // of floor-bucket + midpoint-reconstruct (float cast slack only)
    val stats = Sq.dimStats(spark, sf).collect()
      .map(r => r.getAs[Long]("d") ->
        (r.getAs[Double]("dmin"), r.getAs[Double]("dmax"))).toMap
    val byId = rows.map(r => r.getAs[Long]("vec_id") ->
      r.getAs[scala.collection.Seq[Long]]("codes")).toMap
    Tables.load(spark, sf, "embeddings").collect().foreach { r =>
      val cs = byId(r.getAs[Long]("vec_id"))
      val xs = r.getAs[scala.collection.Seq[Float]]("embedding")
      xs.zipWithIndex.foreach { case (x, d) =>
        val (lo, hi) = stats(d.toLong)
        val step = (hi - lo) / 256.0
        val deq = (lo + (cs(d) + 0.5) * (hi - lo) / 256.0).toFloat
        assert(math.abs(x - deq) <= step / 2 + 1e-6,
          s"dim $d: |$x - $deq| > ${step / 2}")
      }
    }
  }

  test("IVF-SQ8: compression does not meaningfully move the " +
      "cell-probing recall bound") {
    val brute = Ann.search(spark, sf, "ann_brute_topk").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    def recallOf(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet match { case p => (brute & p).size.toDouble / brute.size }
    val ivfsq = recallOf(Ann.search(spark, sf, "ann_ivfsq_topk").collect())
    val ivf = recallOf(Ann.search(spark, sf, "ann_ivf_topk").collect())
    info(f"IVF-SQ8 recall@${Ann.K} = $ivfsq%.3f vs IVF-Flat $ivf%.3f")
    // the bound is the probe's (NProbe/C); grid error may flip only
    // borderline pairs
    assert(ivfsq >= ivf - 0.05,
      f"IVF-SQ8 recall $ivfsq%.3f fell below IVF-Flat $ivf%.3f - 0.05")
  }

  test("compressed-domain search: recall vs exact search is high " +
      "(grid error is tiny next to neighbor separation)") {
    val brute = Ann.search(spark, sf, "ann_brute_topk").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val sq = Ann.search(spark, sf, "ann_sq8_topk").collect()
    sq.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    val pairs = sq
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val recall = (brute & pairs).size.toDouble / brute.size
    info(f"SQ8 recall@${Ann.K} = $recall%.3f")
    // SQ8's pitch is near-exact compressed distances: the floor is far
    // above any cell-probing method's (compare IVF ≈ NProbe/C)
    assert(recall >= 0.6, f"SQ8 recall $recall%.3f below floor")
  }
}
