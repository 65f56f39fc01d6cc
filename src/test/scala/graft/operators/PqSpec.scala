package graft.operators

import graft.SparkSpec

/** Product quantization: codebook/encoding shape, a JVM encoding
  * replay, and ADC recall measured against exact search (the sf0.01
  * DuckDB oracle is the stronger value gate for both queries).
  */
class PqSpec extends SparkSpec {

  private def vecs() = graft.Tables.load(spark, sf, "embeddings")
    .select("vec_id", "embedding").collect()
    .map(r => r.getAs[Long]("vec_id") ->
      r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    .sortBy(_._1)

  test("codebook: 8 subspaces x 16 codes, 8-dim sub-centroids from " +
      "the 16 smallest seed ids") {
    val cb = Pq.codebooks(spark, sf).collect()
    assert(cb.length == Pq.M * Pq.K)
    assert(cb.map(r => (r.getAs[Long]("subspace"), r.getAs[Long]("code")))
      .toSet.size == Pq.M * Pq.K)
    cb.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Float]]("cvec_sub").length ==
        Pq.SubDim)
    }
    val seedIds = vecs().map(_._1).filter(_ % 29 == 3).take(Pq.K)
    assert(seedIds.length == Pq.K, "corpus must fund a full codebook")
  }

  test("encoding equals a sequential JVM replay (argmin L2, ties to " +
      "smallest code)") {
    val cb = Pq.codebooks(spark, sf).collect()
      .map(r => (r.getAs[Long]("subspace"), r.getAs[Long]("code")) ->
        r.getAs[scala.collection.Seq[Float]]("cvec_sub").toArray).toMap
    val got = Pq.codes(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("subspace")) ->
        r.getAs[Long]("code")).toMap
    val all = vecs()
    assert(got.size == all.length * Pq.M)
    all.foreach { case (id, v) =>
      (0 until Pq.M).foreach { m =>
        val sub = v.slice(m * Pq.SubDim, (m + 1) * Pq.SubDim)
        var best = -1L
        var bestD = Double.PositiveInfinity
        (0L until Pq.K).foreach { c =>
          val cv = cb((m.toLong, c))
          var d = 0.0
          var i = 0
          while (i < Pq.SubDim) {
            val diff = sub(i).toDouble - cv(i).toDouble
            d += diff * diff
            i += 1
          }
          if (d < bestD) { bestD = d; best = c } // strict: ties keep low
        }
        assert(got((id, m.toLong)) == best, s"vec $id subspace $m")
      }
    }
  }

  test("ADC top-k: k rows per query, ranks contiguous, scores " +
      "ascending; recall vs exact search measured") {
    val adc = Ann.search(spark, sf, "ann_pq_adc_topk").collect()
    val byQuery = adc.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val ds = sorted.map(_.getAs[Double]("adc_d2"))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
    }
    val exact = Ann.search(spark, sf, "ann_brute_topk").collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    val hits = byQuery.toSeq.map { case (q, rs) =>
      rs.map(_.getAs[Long]("neighbor_id")).count(exact(q).contains)
    }.sum
    val recall = hits.toDouble / (exact.size * Ann.K)
    info(f"PQ-ADC recall@${Ann.K} = $recall%.3f")
    // Honest pin: 4-bit seed codebooks on a near-orthogonal corpus are
    // a coarse approximation — the contract is "clearly better than
    // random" (random recall@5 over n~550 candidates is ~0.009), with
    // exactness of the whole pipeline carried by the DuckDB oracle.
    assert(recall > 0.1, f"ADC recall $recall%.3f not above noise")
  }

  // --- trained codebooks -------------------------------------------

  /** d2 fold in the exact engine order: 0.0 + Σ (a_i − b_i)². */
  private def l2(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0
    var i = 0
    while (i < Pq.SubDim) {
      val diff = a(i).toDouble - b(i).toDouble
      d += diff * diff
      i += 1
    }
    d
  }

  /** Seed codebook as a (subspace, code) -> subvector map. */
  private def seedCb(): Map[(Int, Long), Array[Float]] = {
    val all = vecs()
    val seeds = all.filter(_._1 % 29 == 3).take(Pq.K)
    (for {
      (c, (_, v)) <- (0L until Pq.K).zip(seeds)
      m <- 0 until Pq.M
    } yield (m, c) -> v.slice(m * Pq.SubDim, (m + 1) * Pq.SubDim)).toMap
  }

  /** One sequential Lloyd's replay step over `cb`: assignment (argmin
    * d2, strict-improvement iteration over ascending codes = ties to
    * the smallest), then sorted-fold means cast to float per dim —
    * exactly the distributed exact mode's arithmetic.
    */
  private def replayRound(all: Seq[(Long, Array[Float])],
      cb: Map[(Int, Long), Array[Float]]): Map[(Int, Long), Array[Float]] =
    (0 until Pq.M).flatMap { m =>
      val members = all.map { case (_, v) =>
        val sub = v.slice(m * Pq.SubDim, (m + 1) * Pq.SubDim)
        var best = -1L
        var bestD = Double.PositiveInfinity
        cb.keys.filter(_._1 == m).map(_._2).toSeq.sorted.foreach { c =>
          val d = l2(sub, cb((m, c)))
          if (d < bestD) { bestD = d; best = c }
        }
        (best, sub)
      }.groupBy(_._1)
      members.map { case (c, ms) =>
        (m, c) -> Array.tabulate(Pq.SubDim) { d =>
          (ms.map(_._2(d).toDouble).sorted.foldLeft(0.0)(_ + _)
            / ms.size).toFloat
        }
      }
    }.toMap

  /** Corpus quantization distortion under `cb`: Σ min-d2. */
  private def distortion(all: Seq[(Long, Array[Float])],
      cb: Map[(Int, Long), Array[Float]]): Double =
    all.map { case (_, v) =>
      (0 until Pq.M).map { m =>
        val sub = v.slice(m * Pq.SubDim, (m + 1) * Pq.SubDim)
        cb.keys.filter(_._1 == m).map(c => l2(sub, cb(c))).min
      }.sum
    }.sum

  test("trained codebooks equal the sequential per-subspace Lloyd's " +
      "replay bit-for-bit; all M x K codes survive; distortion drops " +
      "below the seed codebook's (Lloyd's monotonicity)") {
    val all = vecs().toSeq
    var cb = seedCb()
    (1 to Pq.Rounds).foreach(_ => cb = replayRound(all, cb))
    val got = Pq.trainedCodebooks(spark, sf).collect()
      .map(r => (r.getAs[Long]("subspace").toInt, r.getAs[Long]("code")) ->
        r.getAs[scala.collection.Seq[Float]]("cvec_sub").toArray).toMap
    assert(got.keySet == cb.keySet)
    assert(got.size == Pq.M * Pq.K, "a code degenerated")
    cb.foreach { case (k, v) =>
      assert(got(k).toSeq == v.toSeq, s"subspace/code $k diverged")
    }
    val dSeed = distortion(all, seedCb())
    val dTrained = distortion(all, cb)
    info(f"distortion seed=$dSeed%.3f trained=$dTrained%.3f " +
      f"(${dTrained / dSeed * 100}%.1f%%)")
    assert(dTrained < dSeed, "training failed to reduce distortion")
  }

  test("scale-mode training (order-free avg) matches the exact mode " +
      "within float tolerance with the same surviving codes") {
    val exact = Pq.trainedCodebooks(spark, sf).collect()
      .map(r => (r.getAs[Long]("subspace"), r.getAs[Long]("code")) ->
        r.getAs[scala.collection.Seq[Float]]("cvec_sub").toArray).toMap
    val scale = Pq.trainedCodebooksScale(spark, sf).collect()
      .map(r => (r.getAs[Long]("subspace"), r.getAs[Long]("code")) ->
        r.getAs[scala.collection.Seq[Float]]("cvec_sub").toArray).toMap
    assert(exact.keySet == scale.keySet)
    exact.foreach { case (k, v) =>
      v.zip(scale(k)).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-5f, s"$k: $a vs $b")
      }
    }
  }

  test("pq_train audit: one row per surviving code, counts cover the " +
      "corpus, distortion means non-negative") {
    val rows = Pq.train(spark, sf).collect()
    assert(rows.length == Pq.M * Pq.K)
    val byS = rows.groupBy(_.getAs[Long]("subspace"))
    assert(byS.keySet == (0L until Pq.M).toSet)
    val n = vecs().length
    byS.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("n_assigned")).sum == n)
    }
    rows.foreach { r =>
      assert(r.getAs[Double]("mean_d2") >= 0.0)
      assert(r.getAs[Double]("c_norm") >= 0.0)
    }
  }

  test("trained-codebook ADC and residual IVF-PQ: shape holds, " +
      "recall measured vs exact search") {
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double = {
      val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
      byQuery.foreach { case (_, rs) =>
        val sorted = rs.sortBy(_.getAs[Int]("rank"))
        assert(sorted.map(_.getAs[Int]("rank")).toSeq ==
          (1 to sorted.length))
        val ds = sorted.map(_.getAs[Double]("adc_d2"))
        assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
      }
      val exact = Ann.search(spark, sf, "ann_brute_topk").collect()
        .groupBy(_.getAs[Long]("query_id"))
        .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
      byQuery.toSeq.map { case (q, rs) =>
        rs.map(_.getAs[Long]("neighbor_id")).count(exact(q).contains)
      }.sum.toDouble / (exact.size * Ann.K)
    }
    val trained = recallOf(Ann.search(spark, sf, "ann_pq_trained_topk").collect())
    val ivfpq = recallOf(Ann.search(spark, sf, "ann_ivfpq_topk").collect())
    info(f"trained-ADC recall@${Ann.K} = $trained%.3f, " +
      f"IVF-PQ recall@${Ann.K} = $ivfpq%.3f")
    assert(trained > 0.1, f"trained ADC recall $trained%.3f below noise")
    // IVF-PQ recall is bounded by the probe's cell recall (~0.4 on
    // this near-orthogonal corpus) times PQ ranking fidelity — the
    // pin is clearly-above-random (random@5 over ~550 is ~0.009)
    assert(ivfpq > 0.05, f"IVF-PQ recall $ivfpq%.3f below noise")
  }

  test("refined IVF-PQ: exact re-rank of the ADC shortlist delivers " +
      "cosine order and at-least-unrefined recall") {
    val refined = Ann.search(spark, sf, "ann_ivfpq_refined_topk").collect()
    refined.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq ==
        (1 to sorted.length))
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    val exact = Ann.search(spark, sf, "ann_brute_topk").collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.groupBy(_.getAs[Long]("query_id")).toSeq.map { case (q, rs) =>
        rs.map(_.getAs[Long]("neighbor_id")).count(exact(q).contains)
      }.sum.toDouble / (exact.size * Ann.K)
    val r = recallOf(refined)
    val base = recallOf(Ann.search(spark, sf, "ann_ivfpq_topk").collect())
    info(f"refined recall@${Ann.K} = $r%.3f vs unrefined $base%.3f")
    // deterministic dominance, not a tendency: any true top-k member
    // that reached the ShortR shortlist is top-k by exact cosine
    // within it, and the unrefined top-k is a shortlist subset
    assert(r >= base,
      f"refined recall $r%.3f fell below unrefined $base%.3f")
  }

  test("refined plain PQ: cosine order holds and recall dominates the " +
      "unrefined ADC ranking (the worst refinement case)") {
    val refined = Ann.search(spark, sf, "ann_pq_refined_topk").collect()
    refined.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq ==
        (1 to sorted.length))
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    val exact = Ann.search(spark, sf, "ann_brute_topk").collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.groupBy(_.getAs[Long]("query_id")).toSeq.map { case (q, rs) =>
        rs.map(_.getAs[Long]("neighbor_id")).count(exact(q).contains)
      }.sum.toDouble / (exact.size * Ann.K)
    val r = recallOf(refined)
    val base = recallOf(Ann.search(spark, sf, "ann_pq_adc_topk").collect())
    info(f"refined plain-PQ recall@${Ann.K} = $r%.3f " +
      f"vs unrefined ADC $base%.3f")
    // same dominance argument as the IVF-PQ sibling: the unrefined
    // top-k is a subset of the ShortR shortlist, and exact cosine
    // can only promote true neighbors within it
    assert(r >= base,
      f"refined plain-PQ recall $r%.3f below unrefined $base%.3f")
  }

  test("trained end-to-end residual IVF-PQ: shape holds; recall does " +
      "not fall below the seed composition") {
    val rows = Ann.search(spark, sf, "ann_ivfpq_trained_topk").collect()
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq ==
        (1 to sorted.length))
      val ds = sorted.map(_.getAs[Double]("adc_d2"))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
    }
    val exact = Ann.search(spark, sf, "ann_brute_topk").collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    def recallOf(rs: Array[org.apache.spark.sql.Row]): Double =
      rs.groupBy(_.getAs[Long]("query_id")).toSeq.map { case (q, g) =>
        g.map(_.getAs[Long]("neighbor_id")).count(exact(q).contains)
      }.sum.toDouble / (exact.size * Ann.K)
    val trainedR = recallOf(rows)
    val seedR = recallOf(Ann.search(spark, sf, "ann_ivfpq_topk").collect())
    info(f"trained IVF-PQ recall@${Ann.K} = $trainedR%.3f " +
      f"(seed composition $seedR%.3f)")
    // training both quantizers must not LOSE retrieval quality vs the
    // seed composition (on this corpus Lloyd's refines in place; a
    // regression here means the residual codebook stopped matching
    // the trained cells' residual distribution)
    assert(trainedR >= seedR,
      f"trained recall $trainedR%.3f below seed $seedR%.3f")
    assert(trainedR > 0.05, f"trained IVF-PQ recall below noise")
  }

  test("frozen-coarse ivfpq: contract shape holds; recall measured " +
      "next to the seed composition") {
    val rows = Ann.search(spark, sf, "ann_ivfpq_frozen_topk").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val ds = sorted.map(_.getAs[Double]("adc_d2"))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
    }
    val brute = Ann.search(spark, sf, "ann_brute_topk").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val frozen = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val recall = (brute & frozen).size.toDouble / brute.size
    info(f"frozen-coarse IVF-PQ recall@${Ann.K} = $recall%.3f")
    // nprobe/C pruning + 32x compression on a near-orthogonal corpus:
    // same floor as the seed composition
    assert(recall > 0.02, f"recall $recall%.3f below noise")
  }
}
