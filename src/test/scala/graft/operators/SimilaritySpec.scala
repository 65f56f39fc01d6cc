package graft.operators

import graft.SparkSpec

/** ANN pack: exact baseline sanity + LSH recall measured against it
  * (the approximate path has no SQL oracle by design).
  */
class SimilaritySpec extends SparkSpec {

  test("embed stats: square table, totals add up, norms match a JVM " +
      "replay") {
    val out = Similarity.embedStats(spark, sf).collect()
    val vecs = graft.Tables.load(spark, sf, "embeddings").collect()
      .map(r => (r.getAs[Int]("label"),
        r.getAs[Seq[Float]]("embedding")))
    assert(out.map(_.getAs[Long]("n_vecs")).sum == vecs.length)
    out.foreach { r =>
      assert(r.getAs[Int]("dim_min") == 64 && r.getAs[Int]("dim_max") == 64)
      assert(r.getAs[Double]("min_norm") > 0)
      assert(r.getAs[Double]("min_norm") <= r.getAs[Double]("mean_norm"))
      assert(r.getAs[Double]("mean_norm") <= r.getAs[Double]("max_norm"))
    }
    // independent norm replay: fold left in double, sorted-sum mean
    val byLabel = vecs.groupBy(_._1).map { case (l, vs) =>
      val norms = vs.map(v => math.sqrt(
        v._2.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))
      l -> BigDecimal(norms.sorted.sum / norms.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    out.foreach { r =>
      assert(r.getAs[Double]("mean_norm") ==
        byLabel(r.getAs[Int]("label")), s"label ${r.getAs[Int]("label")}")
    }
  }

  test("embed stats scale mode: same report within quantization, O(1) " +
      "aggregation state (no per-label collect)") {
    val exact = Similarity.embedStats(spark, sf).collect()
      .map(r => r.getAs[Int]("label") -> r).toMap
    val scaleDf = Similarity.embedStatsScale(spark, sf)
    val scale = scaleDf.collect().map(r => r.getAs[Int]("label") -> r).toMap
    assert(scale.keySet == exact.keySet)
    scale.foreach { case (l, s) =>
      val e = exact(l)
      // order-free columns are identical; the mean differs from the
      // sorted-fold mean by at most the 1e-6 norm quantization
      Seq("n_vecs", "dim_min", "dim_max").foreach(c =>
        assert(s.getAs[Any](c) == e.getAs[Any](c), s"label $l $c"))
      Seq("min_norm", "max_norm").foreach(c =>
        assert(s.getAs[Double](c) == e.getAs[Double](c), s"label $l $c"))
      assert(math.abs(s.getAs[Double]("mean_norm") -
        e.getAs[Double]("mean_norm")) <= 1e-6, s"label $l mean_norm")
    }
    // the scale claim itself: the plan's aggregate carries NO
    // collect_list buffer — count/min/max/sum only, so state per label
    // is constant (the exact mode shows ObjectHashAggregate instead)
    val plan = scaleDf.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"), "scale mode must not collect")
  }

  test("brute top-k: k rows per query, ranks contiguous, cos descending") {
    val rows = Ann.search(spark, sf, "ann_brute_topk").collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq ==
        (1 to Ann.K))
      val cs = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("MMR rerank equals a sequential greedy replay; picks are " +
      "distinct, rank 1 is the pure-relevance top, marginal scores " +
      "never increase after round 2") {
    val vecs = graft.Tables.load(spark, sf, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cos(a: Long, b: Long): Double =
      dot(vecs(a), vecs(b)) / math.sqrt(dot(vecs(a), vecs(a))) /
        math.sqrt(dot(vecs(b), vecs(b)))
    val got = Similarity.mmrTopK(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
    assert(got.nonEmpty)
    got.foreach { case (q, rs) =>
      val picked = rs.sortBy(_.getAs[Int]("rank"))
        .map(_.getAs[Long]("neighbor_id")).toSeq
      assert(picked.distinct == picked, s"query $q repeated a pick")
      assert(picked.size == Similarity.MmrK)
      // sequential replay of the greedy chain over the same pool
      val pool = vecs.keys.filter(_ != q).toSeq
        .map(n => n -> cos(q, n)).sortBy { case (n, c) => (-c, n) }
        .take(Similarity.MmrPool)
      var sel = Seq(pool.head._1)
      while (sel.size < Similarity.MmrK) {
        val next = pool.filterNot(p => sel.contains(p._1)).map {
          case (n, c) =>
            val pen = sel.map(s0 => cos(n, s0)).max
            (n, Similarity.MmrLambda * c - Similarity.MmrMu * pen)
        }.sortBy { case (n, s0) => (-s0, n) }.head._1
        sel = sel :+ next
      }
      assert(picked == sel, s"query $q: $picked != replay $sel")
      // marginal scores are non-increasing once the penalty applies
      val scores = rs.sortBy(_.getAs[Int]("rank"))
        .map(_.getAs[Double]("score")).drop(1)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $q marginal scores increased: $scores")
    }
  }

  test("blocked exact top-k equals the broadcast baseline row-for-row") {
    val brute = Ann.search(spark, sf, "ann_brute_topk").collect().toSeq
    val blocked = Ann.search(spark, sf, "ann_blocked_topk").collect().toSeq
    assert(blocked == brute)
  }

  test("LSH top-k recalls most true neighbors on planted structure") {
    val brute = Ann.search(spark, sf, "ann_brute_topk").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val lsh = Similarity.lshTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    assert(lsh.nonEmpty)
    // every LSH result is a real (verified-cosine) pair by construction;
    // recall floor: near-orthogonal corpus is LSH's worst case, but the
    // multi-table union must still find a solid fraction of true top-k.
    val recall = (brute & lsh).size.toDouble / brute.size
    info(f"LSH recall@${Ann.K} = $recall%.3f")
    assert(recall >= 0.3, f"recall $recall%.3f below floor")
  }

  test("planted clusters: the TRAINED quantizer beats the sampled-" +
      "member seed decisively (the corpus real embeddings look like)") {
    // the driver's near-orthogonal table can only pin trained >= seed
    // (SURVEY 13.19); this corpus makes the training payoff itself
    // measurable: tight Gaussian clusters whose MEMBERS are noisy
    // centroids but whose MEANS (Lloyd's fixed point) are clean ones
    val dir = java.nio.file.Files
      .createTempDirectory("graft-planted-spec").toString
    graft.ClusteredCorpus.write(spark, dir, 3700, 100, 16, 0.5)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Ann.search(spark, dir, "ann_brute_topk"))
    val seed = pairs(Ann.search(spark, dir, "ann_ivf_topk"))
    val trained = pairs(Ann.search(spark, dir, "ann_ivf_trained_topk"))
    val rs = (brute & seed).size.toDouble / brute.size
    val rt = (brute & trained).size.toDouble / brute.size
    info(f"planted-cluster IVF recall: seed $rs%.3f -> trained $rt%.3f")
    assert(rt >= rs + 0.05,
      f"training must lift recall decisively on clustered data: " +
        f"seed $rs%.3f trained $rt%.3f")
    assert(rt >= 0.5, f"trained recall $rt%.3f too low on easy corpus")
  }

  test("IVF top-k: exact within probed cells, measured recall vs brute") {
    val brute = Ann.search(spark, sf, "ann_brute_topk").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val ivf = Ann.search(spark, sf, "ann_ivf_topk").collect()
    assert(ivf.nonEmpty)
    // shape contract: ranks contiguous from 1, cos non-increasing
    ivf.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq ==
        (1 to sorted.length))
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    val pairs = ivf
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    // near-orthogonal corpus: cells are nearly arbitrary, so probing
    // NProbe/C of the data bounds expected recall near NProbe/C — this
    // pins the accuracy/cost trade-off is what IVF promises, no more.
    val recall = (brute & pairs).size.toDouble / brute.size
    info(f"IVF recall@${Ann.K} = $recall%.3f")
    assert(recall >= 0.05, f"recall $recall%.3f below floor")
  }

  test("capacity-scaled LSH: the bits rule tracks log2(N), reduces to " +
      "the fixed form at small N, and keeps the candidate contract") {
    // the rule itself: ceil-log2 via bit length, floor at the fixed
    // form's 4 bits, ceiling at the plane budget
    assert(Similarity.ceilLog2(1) == 0 && Similarity.ceilLog2(2) == 1)
    assert(Similarity.ceilLog2(16) == 4 && Similarity.ceilLog2(17) == 5)
    assert(Similarity.scaledLshBits(500) == 4)   // sf0.01 -> fixed form
    assert(Similarity.scaledLshBits(2000) == 6)  // sf0.1
    assert(Similarity.scaledLshBits(20000) == 10) // 10x replica corpus
    assert(Similarity.scaledLshBits(10000000) == 12) // budget ceiling
    // at test scale the rule lands on 4 bits, so scaled == md5 form
    // row for row — the reduction is itself part of the contract
    val scaled = Similarity.lshScaledTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val fixedF = Similarity.lshMd5TopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(scaled.nonEmpty && scaled.toSeq == fixedF.toSeq)
  }

  test("frozen IVF quantizer: the committed literals ARE the trained " +
      "model — frozen search equals live-trained search bit-for-bit " +
      "on the training corpus") {
    // the freeze keeps centroid float32s verbatim (only OPQ's rotation
    // is rounded), so on sf0.01 — the corpus the model was trained on —
    // the frozen probe must reproduce the live-trained probe EXACTLY;
    // any drift means the committed literals are not the trainer output
    val dir = "/root/testdata/sf0.01"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"), r.getAs[Double]("cos"))).toSeq
    val frozen = rows(Ann.search(spark, dir, "ann_ivf_frozen_topk"))
    val live = rows(Ann.search(spark, dir, "ann_ivf_trained_topk"))
    assert(frozen.nonEmpty && frozen == live,
      s"frozen != live-trained on the training corpus " +
        s"(${frozen.size} vs ${live.size} rows)")
    // and the frozen model serves OTHER corpora (the production story:
    // a shipped quantizer outlives corpus growth) — sane contract here
    val small = Ann.search(spark, sf, "ann_ivf_frozen_topk").collect()
    assert(small.nonEmpty)
  }

  test("filtered search: every neighbor satisfies the predicate, ranks " +
      "stay dense, and ranking is PRE-filter (deep candidates promote)") {
    val rows = Ann.search(spark, sf, "ann_ivf_filtered_topk").collect()
    assert(rows.nonEmpty)
    val labels = graft.Tables.load(spark, sf, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("label").longValue).toMap
    rows.foreach { r =>
      assert(labels(r.getAs[Long]("neighbor_id")) >= 6,
        s"neighbor ${r.getAs[Long]("neighbor_id")} fails the predicate")
    }
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq ==
        (1 to rs.length))
    }
    // pre-filter, not post-filter: post-filtering the unfiltered top-k
    // could only ever SHRINK it — some filtered result must come from
    // beyond the unfiltered top-k (promoted from deeper in the cells)
    val unfiltered = Ann.search(spark, sf, "ann_ivf_topk").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    assert(rows.exists(r => !unfiltered(
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))),
      "filtered results are a subset of the unfiltered top-k — " +
        "that is post-filtering behavior")
  }

  test("trained-centroid IVF keeps the probe contract and does not " +
      "degrade recall vs the seed quantizer") {
    val brute = Ann.search(spark, sf, "ann_brute_topk").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    def recall(rows: Array[org.apache.spark.sql.Row]) = {
      val got = rows
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
        .toSet
      (brute & got).size.toDouble / brute.size
    }
    val trained = Ann.search(spark, sf, "ann_ivf_trained_topk").collect()
    assert(trained.nonEmpty)
    // same shape contract as the seed probe
    trained.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    val seedR = recall(Ann.search(spark, sf, "ann_ivf_topk").collect())
    val trainedR = recall(trained)
    info(f"IVF recall@${Ann.K}: seeds=$seedR%.3f trained=$trainedR%.3f")
    // Honest pin: on this NEAR-ORTHOGONAL synthetic corpus Lloyd's
    // means shrink toward the grand mean, so training shifts cell
    // boundaries without a recall win (measured 0.44 -> 0.40 at
    // sf0.001 — real clustered embeddings are where training pays).
    // The contract pinned here is non-degradation beyond slack.
    assert(trainedR >= seedR - 0.05,
      f"training degraded recall: $seedR%.3f -> $trainedR%.3f")
  }
}
