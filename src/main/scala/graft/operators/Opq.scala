package graft.operators

import breeze.linalg.{svd, DenseMatrix}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load

/** Optimized Product Quantization (Ge, He, Ke, Sun — CVPR 2013, the
  * non-parametric OPQ algorithm): learn an orthogonal rotation R of
  * the embedding space so that PQ's independent per-subspace codebooks
  * quantize R·x with lower distortion than they quantize x. PQ's core
  * weakness is that it cuts the vector into M fixed coordinate blocks
  * — any correlation/variance imbalance ACROSS blocks is error the
  * codebooks cannot remove; a rotation that decorrelates and balances
  * the blocks removes it for free at search time, because R is
  * orthogonal (distances are preserved: ‖Rx − Ry‖ = ‖x − y‖, so ADC
  * over rotated codes approximates exactly the same neighbor ranking).
  *
  * The alternation (each step non-increasing in the shared objective
  * Σ‖R·x − c(x)‖²):
  *
  *   1. fix R: rotate the corpus (a NARROW codegen expression — the
  *      64×64 matrix is a plan literal, no join, no shuffle) and run
  *      the per-subspace Lloyd's loop ([[Pq.trainedCodebookFrom]] —
  *      the identical discipline the plain trained codebooks use),
  *      warm-started from the previous iteration's codebook so the
  *      objective cannot climb between iterations;
  *   2. fix codes: reconstruct every vector from its sub-centroids
  *      (ŷ, in rotated space) and solve the orthogonal Procrustes
  *      problem min_R ‖R·X − Y‖_F — R = V·Uᵀ from the SVD of the
  *      cross-covariance S = Σ x·ŷᵀ. S is d×d (4096 doubles): the
  *      distributed part is ONE map-side-combinable aggregation over
  *      (i, j) cells with DECIMAL-exact sums (order-free, so S — and
  *      therefore R and the whole trained model — is bit-stable under
  *      any partitioning); the SVD itself is a 64×64 driver-side
  *      solve, the same "tiny model on the driver, data stays out"
  *      split as [[KMeans]]'s argmax collects.
  *
  * Iteration 1 runs with R = I and the plain PQ seed rule, so its
  * recorded distortion IS trained PQ's ([[Pq.trainedCodebooks]] under
  * the same rounds); every later iteration's distortion is pinned ≤ it
  * in OpqSpec (the paper's guarantee, observable because every step
  * above is exact-arithmetic or optimal-in-closed-form). Rows-only
  * query (`ann_opq_topk`): the rotation is trained output with no SQL
  * form; recall is measured next to the unrotated ADC forms in
  * OpqSpec and `graft.RecallReport`.
  *
  * Scale shape: training is [[Iters]] × (Lloyd's rounds + one Gram
  * aggregation) — all corpus×broadcast(128-row codebook) equi-joins
  * and 4096-group aggregates, memoized per process
  * ([[OperatorCaches.trainedMemo]]) like every other trained artifact;
  * serving rotates queries and corpus with the same narrow expression
  * and reuses [[Pq]]'s ADC ranking unchanged (codes equi-join LUTs,
  * top-k via WindowGroupLimit). At 100 TB the rotation folds into the
  * encode/probe expressions exactly as FAISS's OPQ pre-transform does.
  */
object Opq {

  /** Full vector dimensionality (= [[Pq.M]] × [[Pq.SubDim]]). */
  val Dim: Int = Pq.M * Pq.SubDim

  /** Outer alternations. Iteration 1 ≡ plain trained PQ (R = I);
    * two more rotation updates demonstrate and pin the monotone
    * improvement without dominating bench time.
    */
  val Iters = 3

  /** The trained model: rotation rows (R, row-major), the final
    * per-subspace codebook (trained on the final rotation), and the
    * per-iteration total quantization distortion trace.
    */
  case class Model(rot: Seq[Seq[Double]],
      codebook: Seq[(Long, Long, Array[Float])],
      distortions: Seq[Double])

  private def identityRows: Seq[Seq[Double]] =
    Seq.tabulate(Dim, Dim)((i, j) => if (i == j) 1.0 else 0.0)

  /** R·v as a narrow expression: the matrix enters the plan as one
    * array-literal per row and each output coordinate is one native
    * `vec_dot` (codegen fused multiply-add loop, functions/VecDot).
    * No join, no shuffle. The previous
    * `transform(typedLit(rows), r => aggregate(zip_with(r, v, …)))`
    * form evaluated INTERPRETED (HOF lambdas never reach whole-stage
    * codegen) and dominated the warm OPQ serving stacks (r16 stack
    * sample: ArrayAggregate/ZipWith.eval). vec_dot performs the same
    * left-to-right double fold from 0.0, so every rotated coordinate
    * is bit-identical — the frozen-rotation oracles encode exactly
    * this fold order.
    */
  private[operators] def rotate(v: Column, rows: Seq[Seq[Double]]): Column =
    array(rows.map(r => graft.functions.vecDot(typedLit(r), v)): _*)

  /** Train (or fetch the memoized) OPQ model for a corpus dir. */
  def model(s: SparkSession, dir: String): Model =
    OperatorCaches.trainedMemo(s"opq|$dir") {
      import s.implicits._
      // training reads emb once per iteration (rotate) plus the gram
      // join — partitioned by vec_id so every pass runs wide and the
      // gram join reuses the partitioning
      val emb = load(s, dir, "embeddings").repartition(col("vec_id"))
        .select(col("vec_id"), col("embedding")).cache()
      var rot: Seq[Seq[Double]] = identityRows
      var cb: Seq[(Long, Long, Array[Float])] = Seq.empty
      val dist = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (t <- 1 to Iters) {
        val rv = emb
          .select(col("vec_id"), rotate(col("embedding"), rot).as("rv"))
          .cache()
        val subs = Pq.slicedFrame(rv, "vec_id", "rv", "vec_id", "sub")
        // warm start: iteration 1 seeds by the plain PQ rule (R = I ⇒
        // this IS Pq.trainedCodebooks' training); later iterations
        // seed from the previous codebook, which the Procrustes step
        // just optimized R against — the monotonicity hinge
        val seed =
          if (t == 1) Pq.seedCodebook(rv, "vec_id", "rv")
          else cb.toDF("subspace", "code", "cvec_sub")
        val cbDf = Pq.trainedCodebookFrom(s, subs, seed,
          orderFree = false, memoKey = s"opqcb|$dir|$t")
        cb = cbDf.as[(Long, Long, Array[Float])].collect().toSeq
        // encode under the fresh codebook, keeping each subvector's
        // distortion and its reconstructing sub-centroid
        val assigned = subs.join(broadcast(cbDf), Seq("subspace"))
          .withColumn("d2", Pq.l2sq(col("sub"), col("cvec_sub")))
          .groupBy(col("vec_id"), col("subspace"))
          .agg(max_by(struct(col("d2"), col("cvec_sub")),
            struct(-col("d2"), -col("code"))).as("b"))
          .select(col("vec_id"), col("subspace"),
            col("b.d2").as("d2"), col("b.cvec_sub").as("csub"))
          .cache()
        // total distortion, DECIMAL-exact (order-free ⇒ the trace is
        // run-stable and the monotonicity pin is meaningful)
        dist += assigned
          .agg(coalesce(sum(round(col("d2"), 6).cast("decimal(38,6)"))
            .cast("double"), lit(0.0))).head().getDouble(0)
        if (t < Iters) {
          // ŷ per vector: sub-centroids concatenated in subspace order
          val yhat = assigned.groupBy(col("vec_id"))
            .agg(flatten(transform(
              array_sort(collect_list(struct(col("subspace"), col("csub")))),
              e => e.getField("csub"))).as("yhat"))
          // cross-covariance S = Σ x·ŷᵀ over ORIGINAL (unrotated)
          // vectors: 4096 (i, j) groups, map-side combined, exact
          // decimal sums — the only shuffle of the Procrustes step
          val gram = emb.join(yhat, "vec_id")
            .select(posexplode(col("embedding")).as(Seq("i", "xi")),
              col("yhat"))
            .select(col("i"), col("xi"),
              posexplode(col("yhat")).as(Seq("j", "yj")))
            .groupBy(col("i"), col("j"))
            .agg(sum(round(col("xi").cast("double") * col("yj"), 9)
              .cast("decimal(38,9)")).cast("double").as("sij"))
            .collect()
          val sMat = DenseMatrix.zeros[Double](Dim, Dim)
          gram.foreach { r =>
            sMat(r.getAs[Int]("i"), r.getAs[Int]("j")) =
              r.getAs[Double]("sij")
          }
          // Procrustes: max_R tr(R·S) with S = U·Σ·Vᵀ ⇒ R = V·Uᵀ
          val svd.SVD(u, _, vt) = svd(sMat)
          val rMat = vt.t * u.t
          rot = Seq.tabulate(Dim, Dim)((i, j) => rMat(i, j))
        }
        assigned.unpersist()
        rv.unpersist()
      }
      emb.unpersist()
      Model(rot, cb, dist.toSeq)
    }

  /** Lloyd's-TRAINED codebook over the rotated residuals R·(v − c(v))
    * of the given (coarse quantizer, rotation) — the real IVF-OPQ
    * codebook (Ge et al. §4: coarse quantize, rotate, then train PQ on
    * the rotated residuals). [[graft.FreezeAnn]] calls it with the
    * FRESHLY trained quantizer it is about to emit, so one regeneration
    * after a trainer change cannot commit a codebook trained on the
    * previous build's compiled literals; the graded queries serve the
    * frozen result ([[FrozenAnn.ivfOpqCodebook]]).
    */
  def ivfOpqResidualCodebookFrom(s: SparkSession, dir: String,
      centsSrc: DataFrame, rot: Seq[Seq[Double]],
      memoKey: String): DataFrame =
    Ann.trainedResidualCodebook(s,
      Ann.residuals(Ann.assign(load(s, dir, "embeddings"), centsSrc),
        centsSrc, "vec_id", "cv", "rv", Some(rotate(_, rot))).cache(),
      memoKey)

  /** Graded `pq_frozen_stats`: the trained codebook's per-code READOUT
    * under the frozen model — every rotated vector's subvectors
    * assigned to their nearest frozen sub-centroid, then per
    * (subspace, code): population and mean quantization error. This is
    * the [[KMeans.frozenStats]] recipe applied to the PQ trainer: the
    * live `pq_train` stays rows-only (Lloyd's output has no SQL twin),
    * but its SERVE semantics — what a shipped codebook does to a
    * corpus — hash-grades end to end because the codebook is a
    * committed literal. Mean d2 is exact: 6dp-rounded errors summed in
    * DECIMAL, one IEEE division, rounded 6dp.
    *
    * Scale shape: corpus × broadcast(128 literal rows) scored, argmin
    * folded map-side at (vector, subspace) grain, then an M·K-row
    * aggregation — codes that win no member drop from the readout
    * (Lloyd's degeneracy surfaces as a missing row, not a null).
    */
  def pqFrozenStats(s: SparkSession, dir: String): DataFrame =
    frozenNearest(s, dir, "d2")
      .groupBy(col("subspace"), col("code"))
      .agg(count(lit(1)).as("n_assigned"),
        round(sum(round(col("d2"), 6).cast("decimal(38,6)"))
          .cast("double") / count(lit(1)), 6).as("mean_d2"))
      .orderBy(col("subspace"), col("code"))

  /** Every subvector of the frozen-rotated corpus at its nearest frozen
    * sub-centroid, carrying `payload` — the assignment both frozen
    * codebook readouts aggregate. The corpus is hashed on vec_id
    * before the rotation, so the 64×64 fold and the K-way scoring run
    * wide and the encode groupBy reuses the partitioning.
    */
  private def frozenNearest(s: SparkSession, dir: String,
      payload: String): DataFrame = {
    val rv = load(s, dir, "embeddings").repartition(col("vec_id"))
      .select(col("vec_id"), rotate(col("embedding"), FrozenAnn.rot).as("rv"))
    Pq.nearest(Pq.slicedFrame(rv, "vec_id", "rv", "vec_id", "sub"),
      FrozenAnn.codebookFrame(s), payload)
  }

  /** Pinned per-code stationarity bound for [[pqConvergedCert]] —
    * the measured max (subspace, code) Lloyd's-update displacement of
    * the frozen OPQ codebook on its training corpus (0.0185 at
    * sf0.01, all 128 codes under it), plus ~35% headroom. Subvector
    * coordinates live at ~1/√8 the full-vector scale, so the bound
    * sits below [[KMeans.StationarityBound]]'s.
    */
  val PqStationarityBound = 0.025

  /** Graded `pq_converged_cert`: the CONVERGENCE CERTIFICATE of the
    * PQ codebook trainer — [[KMeans.convergedCert]]'s recipe per
    * (subspace, code). Rotate the corpus by the frozen literal
    * matrix, assign every subvector to its nearest frozen
    * sub-centroid (the [[pqFrozenStats]] argmin), then grade per
    * (subspace, code): population, the EXACT stationarity residual
    * ‖mean(assigned subvectors) − codeword‖ (7dp-rounded coordinates
    * DECIMAL-summed, one IEEE division; squared diffs 14dp-rounded
    * and DECIMAL-summed), and the pinned `stationary` boolean the
    * live numbers must earn. The trained codebook VALUES stay
    * rows-only (`pq_train`); this hash-grades the trainer's
    * termination quality — an under-trained codebook ships with
    * visibly non-stationary codewords and flips the booleans.
    *
    * Scale shape: corpus × broadcast(M·K literal rows) argmin folded
    * map-side at (vector, subspace) grain, then an (M·K·SubDim)-row
    * aggregation.
    */
  def pqConvergedCert(s: SparkSession, dir: String): DataFrame = {
    val cb = FrozenAnn.codebookFrame(s)
    val assigned = frozenNearest(s, dir, "sub")
    val means = assigned
      .select(col("subspace"), col("code"),
        posexplode(col("sub")).as(Seq("d", "x")))
      .groupBy(col("subspace"), col("code"), col("d"))
      .agg((sum(round(col("x"), 7).cast("decimal(38,7)"))
        .cast("double") / count(lit(1))).as("m"),
        count(lit(1)).as("n"))
    val cbDims = cb.select(col("subspace"), col("code"),
      posexplode(col("cvec_sub")).as(Seq("d", "c")))
    means.join(broadcast(cbDims), Seq("subspace", "code", "d"))
      .withColumn("dd", col("m") - round(col("c").cast("double"), 7))
      .groupBy(col("subspace"), col("code"))
      .agg(first(col("n")).as("n_assigned"),
        round(sqrt(sum(round(col("dd") * col("dd"), 14)
          .cast("decimal(38,14)")).cast("double")), 6).as("residual"))
      .withColumn("stationary", col("residual") <= lit(PqStationarityBound))
      .orderBy(col("subspace"), col("code"))
  }
}
