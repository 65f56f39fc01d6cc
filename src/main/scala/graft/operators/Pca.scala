package graft.operators

import breeze.linalg.{eigSym, DenseMatrix}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load

/** Principal component analysis over the embedding corpus — the
  * dimensionality-reduction stage between raw embeddings and
  * ANN/quantizer indexes (FAISS's PCAMatrix pre-transform; also the
  * classical whitening step before OPQ).
  *
  * The split follows the repo's trained-artifact discipline
  * ([[KMeans]], [[Opq]]): the DISTRIBUTED part is one map-side-
  * combinable aggregation — (i, j) covariance cells with DECIMAL-exact
  * sums (each float×float product is exact in double: 24+24 mantissa
  * bits < 53; `round(·, 9)` then scale-9 decimal addition is
  * order-free, so the covariance matrix — and therefore the whole
  * trained model — is bit-stable under any partitioning). The
  * eigendecomposition itself is a 64×64 driver-side `eigSym` (KB-scale,
  * the "tiny model on the driver, data stays out" split), and the
  * projection back onto the corpus is a narrow codegen'd dot product
  * per component (`vec_dot` against plan-literal component vectors —
  * no join, no shuffle, exactly how the trained rotation serves in
  * [[Opq]]).
  *
  * Eigenvector sign is mathematically arbitrary; components are
  * canonicalized (largest-|entry| coordinate made positive) so the
  * trained model is deterministic end to end.
  *
  * Graded queries: `pca_covariance` is the aggregation identity under
  * a hash oracle (a 16-dim slice keeps the oracle's explode
  * DuckDB-feasible; the full-dim training aggregation is the SAME
  * plan); `pca_project` / `pca_variance` are trained-model outputs
  * (rows-only by design, like every trained artifact), with
  * orthonormality, descending-variance, trace-preservation and
  * planted-subspace recovery pinned in PcaSpec.
  */
object Pca {

  /** Full embedding dimensionality (matches [[Opq.Dim]]). */
  val Dim = 64

  /** Dims in the graded covariance slice — keeps the DuckDB oracle's
    * 16×17/2-cell explode feasible while exercising the identical
    * aggregation shape training uses at full width.
    */
  val CovDim = 16

  /** Components served by `pca_project`. */
  val K = 8

  private def exactSum(c: Column): Column =
    sum(round(c, 9).cast("decimal(38,9)"))

  /** Upper-triangle covariance cells of the first `dim` coordinates:
    * n, and cov from exact-decimal Σx, Σy, Σxy via the one-IEEE-chain
    * identity cov = (Σxy·n − Σx·Σy) / n².
    */
  private[operators] def covCells(emb: DataFrame, dim: Int): DataFrame = {
    val sliced = emb.select(slice(col("embedding"), 1, dim).as("v"))
    sliced
      .select(col("v"), posexplode(col("v")).as(Seq("i", "xi")))
      .select(col("i"), col("xi").cast("double").as("xi"),
        posexplode(col("v")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .select(col("i"), col("j"), col("xi"), col("xj").cast("double").as("xj"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), exactSum(col("xi")).as("sxi"),
        exactSum(col("xj")).as("sxj"),
        exactSum(col("xi") * col("xj")).as("sxij"))
  }

  /** Graded `pca_covariance`: hash-oracled covariance entries over the
    * 16-dim slice.
    */
  def covarianceGraded(s: SparkSession, dir: String): DataFrame =
    covCells(load(s, dir, "embeddings"), CovDim)
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("n"),
        // + 0.0 canonicalizes the IEEE −0 a rounded tiny negative
        // produces (same in the oracle)
        (round((col("sxij").cast("double") * col("n")
            - col("sxi").cast("double") * col("sxj").cast("double"))
          / (col("n").cast("double") * col("n").cast("double")), 6) + lit(0.0))
          .as("cov"))
      .orderBy(col("i"), col("j"))

  /** Graded `pca_variance_2d`: the 2×2 eigenproblem in CLOSED FORM —
    * a hash-oracled twin of the driver eigensolve, pinning the
    * eigen-semantics ([[varianceExplained]] can only grade rows-only
    * because a 64×64 eigensolve has no SQL form; the 2×2 case DOES:
    * λ± = (tr ± √(tr² − 4·det))/2). Covariance of embedding dims
    * (0, 1) comes from the identical exact-decimal cell aggregation
    * training uses ([[covCells]]); the eigen chain then runs on the
    * three cov entries — multiply, subtract, one `sqrt`
    * (correctly-rounded IEEE), one division for the explained-
    * variance ratio λ₁/(λ₁+λ₂) = λ₁/tr — a fixed scalar chain,
    * identical op-for-op in the DuckDB oracle, closed under round 9.
    *
    * Scale shape: ONE map-side-combinable aggregation over two
    * coordinates (narrower than the graded 16-dim slice); everything
    * after is a 1-row scalar computation.
    */
  def variance2d(s: SparkSession, dir: String): DataFrame = {
    val cells = covCells(load(s, dir, "embeddings"), 2)
    // pivot the 3 cells (0,0) (0,1) (1,1) into one row of doubles
    def cov(i: Int, j: Int): Column =
      max(when(col("i") === i && col("j") === j,
        (col("sxij").cast("double") * col("n")
          - col("sxi").cast("double") * col("sxj").cast("double"))
          / (col("n").cast("double") * col("n").cast("double"))))
    val one = cells.agg(max(col("n")).as("n"), cov(0, 0).as("cxx"),
      cov(0, 1).as("cxy"), cov(1, 1).as("cyy"))
    one.select(col("n"),
        (col("cxx") + col("cyy")).as("tr"),
        (col("cxx") * col("cyy") - col("cxy") * col("cxy")).as("det"),
        col("cxx"), col("cxy"), col("cyy"))
      .select(col("n"),
        round(col("cxx"), 9).as("cov_xx"),
        round(col("cxy"), 9).as("cov_xy"),
        round(col("cyy"), 9).as("cov_yy"),
        round((col("tr")
          + sqrt(col("tr") * col("tr") - lit(4.0) * col("det")))
          / 2.0, 9).as("lambda1"),
        round((col("tr")
          - sqrt(col("tr") * col("tr") - lit(4.0) * col("det")))
          / 2.0, 9).as("lambda2"),
        round((col("tr")
          + sqrt(col("tr") * col("tr") - lit(4.0) * col("det")))
          / 2.0 / col("tr"), 9).as("explained_ratio"))
  }

  /** Trained model: (eigenvalues descending, components as rows),
    * from the exact-decimal covariance of an md5-deterministic quarter
    * sample — bit-stable input ⇒ bit-stable eigensolve.
    */
  private[operators] def principalComponentsFor(emb: DataFrame,
      dim: Int): (Array[Double], Array[Array[Double]]) = {
    val rows = covCells(emb, dim).collect()
    // no data → no variance: zero spectrum over the standard basis
    // (total, like the zero-row layout bootstrap in Layout)
    if (rows.isEmpty)
      return (Array.fill(dim)(0.0),
        Array.tabulate(dim, dim)((c, r) => if (c == r) 1.0 else 0.0))
    val m = DenseMatrix.zeros[Double](dim, dim)
    rows.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val n = r.getLong(2).toDouble
      val cov = (r.getDecimal(5).doubleValue() * r.getLong(2)
        - r.getDecimal(3).doubleValue() * r.getDecimal(4).doubleValue()) / (n * n)
      m(i, j) = cov; m(j, i) = cov
    }
    val es = eigSym(m)
    // descending by eigenvalue; canonicalize sign (largest-|entry| > 0)
    val order = (0 until dim).sortBy(c => -es.eigenvalues(c))
    val values = order.map(c => es.eigenvalues(c)).toArray
    val comps = order.map { c =>
      val v = Array.tabulate(dim)(r => es.eigenvectors(r, c))
      val pivot = v.indices.maxBy(r => (math.abs(v(r)), -r))
      if (v(pivot) < 0) v.map(-_) else v
    }.toArray
    (values, comps)
  }

  /** The graded trained model: quarter sample (md5 digit of vec_id),
    * full width, memoized per process like every trained artifact.
    */
  private[graft] def trained(s: SparkSession,
      dir: String): (Array[Double], Array[Array[Double]]) =
    OperatorCaches.trainedMemo(dir -> "pca") {
      principalComponentsFor(
        load(s, dir, "embeddings")
          .filter(substring(md5(col("vec_id").cast("string")), 1, 1) < "4"),
        Dim)
    }

  /** Graded `pca_project`: every embedding onto the top-[[K]]
    * components — one codegen dot per component against plan-literal
    * vectors, no join, no shuffle.
    */
  def project(s: SparkSession, dir: String): DataFrame =
    projectWith(s, dir, trained(s, dir)._2.toSeq)

  /** Graded `pca_frozen_project`: [[project]] under the FROZEN basis
    * ([[graft.operators.FrozenAnn.pcaComponents]] — the committed
    * top-[[K]] components of [[trained]] at sf0.01, rounded to 7
    * decimals by the freeze contract). The projection is the same
    * codegen dot against plan literals; because the literals are
    * committed, DuckDB replays it and the trained-PCA serving path
    * hash-grades, where `pca_project` itself stays rows-only (its
    * basis is live-trainer output). The production story is
    * identical to the frozen quantizers: a dimensionality-reduction
    * model is fit once and shipped; corpus growth does not refit it.
    */
  def frozenProject(s: SparkSession, dir: String): DataFrame =
    projectWith(s, dir, graft.operators.FrozenAnn.pcaComponents)

  private def projectWith(s: SparkSession, dir: String,
      comps: Seq[Array[Double]]): DataFrame = {
    val e = load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pcs = (0 until K).map(c =>
      round(graft.functions.vecDot(col("v"), lit(comps(c))), 6).as(s"pc$c"))
    e.select(col("vec_id") +: pcs: _*).orderBy(col("vec_id"))
  }

  /** `v` onto the top-[[K]] rows of `comps`, as one array column — the
    * PCA transform of [[AnnSpec]] (`ann_pca_frozen_refined_topk` and
    * its live-basis twin): stage 1 scores in the K-dim space (an
    * 8×64-byte projection is what a 100 TB scan reads — FAISS's
    * PCAMatrix,Flat recipe), stage 2 re-ranks exactly.
    */
  private[operators] def projectOnto(v: Column,
      comps: Seq[Array[Double]]): Column =
    array((0 until K).map(c =>
      graft.functions.vecDot(v.cast("array<double>"), lit(comps(c)))): _*)

  /** Graded `pca_frozen_variance`: the SPECTRUM readout of the frozen
    * committed basis — per component, the corpus mean and variance of
    * the 6dp-rounded projection (the same values `pca_frozen_project`
    * grades per row), both exact: decimal sums of the rounded
    * projections and their 12dp squares, one IEEE division each, so
    * the whole spectrum replays in DuckDB. This is the hash-graded
    * counterpart of the rows-only `pca_variance` (whose eigenvalues
    * come from the live LAPACK eigensolve): a basis regression —
    * wrong component order, a broken freeze, a sign-flip convention
    * drift — perturbs the per-component means and variances long
    * before it shows in a downstream search metric. (On this
    * near-isotropic corpus the spectrum is nearly flat — ~0.021 per
    * component, quarter-sample training noise exceeding the decay —
    * so the graded claim is EXACTNESS per component, not ordering;
    * PcaSpec pins shape and corpus coverage.)
    *
    * Scale shape: one corpus scan, K codegen dots per row, a K-row
    * aggregation — no join, no shuffle beyond the final combine.
    */
  def frozenVariance(s: SparkSession, dir: String): DataFrame = {
    val comps = graft.operators.FrozenAnn.pcaComponents
    val e = load(s, dir, "embeddings")
      .select(col("embedding").cast("array<double>").as("v"))
    val proj = e.select(posexplode(array((comps.indices).map(c =>
      round(graft.functions.vecDot(col("v"), lit(comps(c))), 6)): _*))
      .as(Seq("component", "pc")))
    proj.groupBy(col("component"))
      .agg(count(lit(1)).as("n_vectors"),
        (sum(col("pc").cast("decimal(38,6)")).cast("double")
          / count(lit(1))).as("m"),
        (sum((col("pc") * col("pc")).cast("decimal(38,12)"))
          .cast("double") / count(lit(1))).as("m2"))
      .select(col("component"), col("n_vectors"),
        round(col("m"), 6).as("mean_pc"),
        round(col("m2") - col("m") * col("m"), 6).as("var_pc"))
      .orderBy(col("component"))
  }

  /** Graded `pca_variance`: the spectrum — eigenvalue and cumulative
    * explained-variance fraction per component.
    */
  def varianceExplained(s: SparkSession, dir: String): DataFrame = {
    val values = trained(s, dir)._1
    val total = values.sum
    val rows = values.zipWithIndex.map { case (v, c) =>
      val frac = if (total > 0) values.take(c + 1).sum / total else 0.0
      (c.toLong, BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(frac).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    import s.implicits._
    rows.toSeq.toDF("component", "eigenvalue", "cum_frac")
      .orderBy(col("component"))
  }
}
