package graft.operators

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import graft.SparkSpec

/** k-means training: the distributed fixed-round Lloyd's loop must
  * equal a sequential replay bit-for-bit (same seed set, same argmax
  * tie-break, same sorted-fold addition order), and no seed cell may
  * degenerate on the shipped corpus.
  */
class KMeansSpec extends SparkSpec {

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private def cos(a: Array[Float], b: Array[Float]): Double =
    dot(a, b) / math.sqrt(dot(a, a)) / math.sqrt(dot(b, b))

  private def r6(x: Double): Double =
    JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue

  private def sortedSum(xs: Seq[Double]): Double =
    xs.sorted.foldLeft(0.0)(_ + _)

  test("distributed training equals the sequential Lloyd's replay " +
      "bit-for-bit; no cell degenerates") {
    val rows = KMeans.train(spark, sf).collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Long]("n_members"),
        r.getAs[Double]("mean_cos"), r.getAs[Double]("c_norm")))
      .sortBy(_._1)

    val vecs = graft.Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      .sortBy(_._1)
    var cents: Seq[(Long, Array[Float])] =
      vecs.filter { case (id, _) => id % 37 == 5 }.toSeq

    // argmax cell per vector: highest cosine, ties to smallest cent_id
    // (iterate ascending ids, replace only on strict improvement)
    def assign(cs: Seq[(Long, Array[Float])]) = vecs.map { case (id, v) =>
      var bestId = -1L
      var bestCs = Double.NegativeInfinity
      cs.sortBy(_._1).foreach { case (cid, cv) =>
        val c = cos(v, cv)
        if (c > bestCs) { bestCs = c; bestId = cid }
      }
      (id, bestId, bestCs, v)
    }

    (1 to KMeans.Rounds).foreach { _ =>
      cents = assign(cents).groupBy(_._2).toSeq.map { case (cell, ms) =>
        val dim = ms.head._4.length
        cell -> Array.tabulate(dim) { d =>
          (sortedSum(ms.map(_._4(d).toDouble).toSeq) / ms.size).toFloat
        }
      }
    }

    val want = assign(cents).groupBy(_._2).toSeq.map { case (cell, ms) =>
      val cv = cents.find(_._1 == cell).get._2
      (cell, ms.size.toLong,
        r6(sortedSum(ms.map(_._3).toSeq) / ms.size),
        r6(math.sqrt(dot(cv, cv))))
    }.sortBy(_._1)

    assert(rows.length == cents.size, "no cell may lose all members")
    assert(rows.toSeq == want, s"distributed vs replay:\n" +
      rows.toSeq.zip(want).filter { case (a, b) => a != b }.take(3)
        .map { case (a, b) => s" spark: $a\n  seq : $b" }.mkString("\n"))
  }

  test("training moves the centroids off their seeds") {
    val trained = KMeans.train(spark, sf).collect()
    val seeds = Ann.centroids(spark, sf).collect()
    assert(trained.length == seeds.length)
    // a seed vector has norm == its own embedding's norm; after three
    // mean-updates at least one centroid norm must differ (means of
    // multiple unit-ish vectors shrink below the members' norms)
    val seedNorms = seeds.map { r =>
      val v = r.getAs[scala.collection.Seq[Float]]("cvec").toArray
      r6(math.sqrt(dot(v, v)))
    }.sorted.toSeq
    val trainedNorms = trained.map(_.getAs[Double]("c_norm")).sorted.toSeq
    assert(trainedNorms != seedNorms, "centroids did not move")
  }

  test("order-free scale mode trains the same quantizer within float " +
      "tolerance") {
    def centMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("cent_id") ->
        r.getAs[scala.collection.Seq[Float]]("cvec").toArray).toMap
    val exact = centMap(KMeans.trainedCentroids(spark, sf))
    val scale = centMap(KMeans.trainedCentroidsScale(spark, sf))
    assert(scale.keySet == exact.keySet, "same surviving cells")
    exact.foreach { case (cell, ev) =>
      val sv = scale(cell)
      assert(sv.length == ev.length)
      ev.zip(sv).zipWithIndex.foreach { case ((e, s2), d) =>
        // same memberships + double-precision means differing only in
        // addition order: after the float cast at most a last-ulp gap
        assert(math.abs(e - s2) <= 1e-6, s"cell $cell dim $d: $e vs $s2")
      }
    }
  }

  test("frozen stats: the committed quantizer reproduces the live " +
      "trainer's per-cell readout on the training corpus") {
    val dir = "/root/testdata/sf0.01"
    // centroid literals are the trainer output VERBATIM (floats not
    // rounded), so assignment — and therefore membership — is
    // identical; mean_cos differs only by decimal-vs-sorted-fold
    // summation of the same 6dp values
    val live = KMeans.train(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val frozen = KMeans.frozenStats(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(frozen.keySet == live.keySet && frozen.nonEmpty)
    frozen.foreach { case (cell, (n, mc)) =>
      assert(n == live(cell)._1, s"cell $cell members: $n vs ${live(cell)._1}")
      assert(math.abs(mc - live(cell)._2) <= 1e-5,
        s"cell $cell mean_cos: $mc vs ${live(cell)._2}")
    }
  }

  test("converged cert: on the training corpus every cell is " +
      "stationary, populations cover the corpus, and the bound is " +
      "earned (not slack)") {
    val dir = "/root/testdata/sf0.01"
    val rows = KMeans.convergedCert(spark, dir).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_members")).sum
    val corpus = graft.Tables.load(spark, dir, "embeddings").count()
    assert(total == corpus,
      s"cert populations $total must cover the corpus $corpus")
    rows.foreach { r =>
      val res = r.getAs[Double]("residual")
      assert(res >= 0.0 && res <= KMeans.StationarityBound &&
        r.getAs[Boolean]("stationary"),
        s"cell ${r.get(0)} residual $res vs ${KMeans.StationarityBound}")
    }
    // the pinned bound sits close over the measured worst case — an
    // under-trained quantizer (bigger displacement) trips it; a bound
    // 4x looser than reality would certify nothing
    val mx = rows.map(_.getAs[Double]("residual")).max
    assert(mx > KMeans.StationarityBound / 4,
      f"bound ${KMeans.StationarityBound} is slack: max residual $mx%.4f")
  }
}
