package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.load

/** One nearest-neighbor search over the `embeddings` table, written as
  * the stages it runs — the shape of FAISS's `index_factory` strings
  * (https://github.com/facebookresearch/faiss/wiki/The-index-factory)
  * and of the prune → score → refine skeleton REPOSE (ICDE 2021) and
  * the EDBT 2020 incremental top-k framework build distributed top-k
  * from:
  *
  *   - `transform`: none, the OPQ rotation (of the vector, or of its
  *     IVF residual) or the PCA basis;
  *   - `coarse`: a full scan against the broadcast query set, the same
  *     scan block-joined (no broadcast), or an IVF probe of `nprobe`
  *     cells, optionally pre-filtered;
  *   - `coder`: exact cosine, SQ8 reconstruction, PQ codes, or PQ codes
  *     of the IVF residual;
  *   - `output`: top-[[Ann.K]] or every neighbor within a cosine radius;
  *   - `refine`: none, or an exact-cosine re-rank of a shortlist of
  *     the given depth;
  *   - `model`: where every quantizer comes from — the deterministic
  *     seed rules, the trainers ([[KMeans]], [[Pq]], [[Opq]], [[Pca]]),
  *     or the committed literals of [[FrozenAnn]]. A stage with no
  *     frozen frame (the plain residual PQ codebook) keeps its seed
  *     rule under `Frozen`.
  *
  * Every registered ANN query is one row of [[AnnSpec.table]]; the two
  * range searches emit every neighbor within cosine [[Ann.RangeTau]]
  * instead of the top-k, `refine` is the shortlist depth:
  *
  * {{{
  * name                            transform  coarse          coder        refine  model
  * ann_brute_topk                  -          broadcast       exact        -       -
  * ann_blocked_topk                -          blocked         exact        -       -
  * ann_range_search                -          broadcast       exact        -       -
  * ann_range_search_blocked        -          blocked         exact        -       -
  * ann_sq8_topk                    -          broadcast       sq8          -       -
  * ann_ivf_topk                    -          ivf 2           exact        -       seed
  * ann_ivf_trained_topk            -          ivf 2           exact        -       trained
  * ann_ivf_frozen_topk             -          ivf 2           exact        -       frozen
  * ann_ivf_filtered_topk           -          ivf 2, label≥6  exact        -       seed
  * ann_ivfsq_topk                  -          ivf 2           sq8          -       seed
  * ann_pq_adc_topk                 -          broadcast       pq           -       seed
  * ann_pq_trained_topk             -          broadcast       pq           -       trained
  * ann_pq_refined_topk             -          broadcast       pq           20      seed
  * ann_ivfpq_topk                  -          ivf 2           residual pq  -       seed
  * ann_ivfpq_trained_topk          -          ivf 2           residual pq  -       trained
  * ann_ivfpq_frozen_topk           -          ivf 2           residual pq  -       frozen
  * ann_ivfpq_refined_topk          -          ivf 2           residual pq  20      seed
  * ann_opq_topk                    opq        broadcast       pq           -       trained
  * ann_opq_refined_topk            opq        broadcast       pq           20      trained
  * ann_opq_frozen_topk             opq        broadcast       pq           -       frozen
  * ann_opq_frozen_refined_topk     opq        broadcast       pq           20      frozen
  * ann_ivfopq_frozen_topk          opq        ivf 8           residual pq  -       frozen
  * ann_ivfopq_frozen_refined_topk  opq        ivf 8           residual pq  40      frozen
  * ann_pca_frozen_refined_topk     pca        broadcast       exact        20      frozen
  * }}}
  *
  * The rows-only ones (trained models: their quantizers are trainer
  * output with no SQL twin) are pinned by recall specs and
  * `graft.RecallReport`; every other row is hash-oracled in DuckDB.
  * LSH (`ann_lsh*`, bucket joins with no cell or code) and the MMR
  * rerank (an iterative greedy pick) stay in [[Similarity]], sharing
  * only the query set and the rank stage.
  */
final case class AnnSpec(
    coarse: AnnSpec.Coarse = AnnSpec.Broadcast,
    coder: AnnSpec.Coder = AnnSpec.Exact,
    transform: AnnSpec.Transform = AnnSpec.NoTransform,
    model: AnnSpec.Model = AnnSpec.Seed,
    output: AnnSpec.Output = AnnSpec.TopK,
    refine: Option[Int] = None)

object AnnSpec {
  sealed trait Transform
  case object NoTransform extends Transform
  case object Rotation extends Transform
  case object PcaBasis extends Transform

  sealed trait Coarse
  case object Broadcast extends Coarse
  case object Blocked extends Coarse
  /** Probe the `nprobe` nearest cells; `filter` pre-filters the
    * candidates (never the queries or the quantizer).
    */
  final case class Ivf(nprobe: Int, filter: Option[Column] = None)
      extends Coarse

  sealed trait Coder
  case object Exact extends Coder
  case object Sq8 extends Coder
  case object PlainPq extends Coder
  case object ResidualPq extends Coder

  sealed trait Output
  case object TopK extends Output
  final case class Radius(tau: Double) extends Output

  sealed trait Model
  case object Seed extends Model
  case object Trained extends Model
  case object Frozen extends Model

  private val ivf = Ivf(Ann.NProbe)
  private val ivfOpq = Ivf(Ann.IvfOpqNProbe)

  /** Every registered ANN query name and its spec. */
  val table: Seq[(String, AnnSpec)] = Seq(
    "ann_brute_topk" -> AnnSpec(),
    "ann_blocked_topk" -> AnnSpec(coarse = Blocked),
    "ann_range_search" -> AnnSpec(output = Radius(Ann.RangeTau)),
    "ann_range_search_blocked" ->
      AnnSpec(coarse = Blocked, output = Radius(Ann.RangeTau)),
    "ann_sq8_topk" -> AnnSpec(coder = Sq8),
    "ann_ivf_topk" -> AnnSpec(coarse = ivf),
    "ann_ivf_trained_topk" -> AnnSpec(coarse = ivf, model = Trained),
    "ann_ivf_frozen_topk" -> AnnSpec(coarse = ivf, model = Frozen),
    // range-shaped so it reaches the parquet reader as a pushed filter
    "ann_ivf_filtered_topk" ->
      AnnSpec(coarse = Ivf(Ann.NProbe, Some(col("label") >= 6))),
    "ann_ivfsq_topk" -> AnnSpec(coarse = ivf, coder = Sq8),
    "ann_pq_adc_topk" -> AnnSpec(coder = PlainPq),
    "ann_pq_trained_topk" -> AnnSpec(coder = PlainPq, model = Trained),
    "ann_pq_refined_topk" ->
      AnnSpec(coder = PlainPq, refine = Some(Ann.ShortR)),
    "ann_ivfpq_topk" -> AnnSpec(coarse = ivf, coder = ResidualPq),
    "ann_ivfpq_trained_topk" ->
      AnnSpec(coarse = ivf, coder = ResidualPq, model = Trained),
    "ann_ivfpq_frozen_topk" ->
      AnnSpec(coarse = ivf, coder = ResidualPq, model = Frozen),
    "ann_ivfpq_refined_topk" ->
      AnnSpec(coarse = ivf, coder = ResidualPq, refine = Some(Ann.ShortR)),
    "ann_opq_topk" ->
      AnnSpec(transform = Rotation, coder = PlainPq, model = Trained),
    "ann_opq_refined_topk" -> AnnSpec(transform = Rotation,
      coder = PlainPq, model = Trained, refine = Some(Ann.ShortR)),
    "ann_opq_frozen_topk" ->
      AnnSpec(transform = Rotation, coder = PlainPq, model = Frozen),
    "ann_opq_frozen_refined_topk" -> AnnSpec(transform = Rotation,
      coder = PlainPq, model = Frozen, refine = Some(Ann.ShortR)),
    "ann_ivfopq_frozen_topk" -> AnnSpec(transform = Rotation,
      coarse = ivfOpq, coder = ResidualPq, model = Frozen),
    "ann_ivfopq_frozen_refined_topk" -> AnnSpec(transform = Rotation,
      coarse = ivfOpq, coder = ResidualPq, model = Frozen,
      refine = Some(Ann.IvfOpqShortR)),
    "ann_pca_frozen_refined_topk" ->
      AnnSpec(transform = PcaBasis, model = Frozen, refine = Some(Ann.ShortR)))

  val byName: Map[String, AnnSpec] = table.toMap

  /** The PCA bottleneck search under the LIVE-trained basis — retired
    * from the registry (its frozen twin `ann_pca_frozen_refined_topk`
    * hash-grades the same search); PcaSpec and `graft.RecallReport`
    * still measure it.
    */
  val pcaLiveRefined: AnnSpec =
    AnnSpec(transform = PcaBasis, model = Trained, refine = Some(Ann.ShortR))
}

/** The stages [[AnnSpec]] composes, and [[search]], which builds each
  * of them once. Ranking everywhere ties on the smaller neighbor id
  * over bit-identical double folds, so the hash-oracled rows replay
  * exactly in DuckDB.
  */
object Ann {
  import AnnSpec._

  /** Neighbors per query. */
  val K = 5

  /** Every 100th vector is a query — a scale-proportional query set. */
  val queryPred: Column = col("vec_id") % 100 === 0

  /** Cells each query probes. nprobe is a serving-time recall/latency
    * knob (FAISS's `nprobe`), constant in the corpus size, so any
    * value keeps the probe sublinear (it touches nprobe/C ≈ nprobe/√N
    * of the data).
    */
  val NProbe = 2

  /** Probe depth of the frozen IVF-OPQ search. Deeper than [[NProbe]]
    * on purpose: it replaces the exhaustive frozen OPQ scan
    * (SCALE_r13: ×30.7 at 10×), so its recall must clear that scan's.
    * Two probes cap recall at 0.40 on the training corpus (the
    * exhaustive scan reaches 0.44); eight lift the cell-membership
    * ceiling to 0.88, and the refined search delivers 0.76 there
    * (OpqSpec).
    */
  val IvfOpqNProbe = 8

  /** Corpus blocks of the blocked scan. Per-task memory is
    * q + n/B vectors and the rank shuffle carries B·q·K rows, both
    * independent of corpus size; at cluster scale set ≈ 2× cores.
    */
  val CorpusBlocks = 16

  /** Cosine radius of the range searches. The corpus's raw-cosine
    * ceiling is ≈ 0.45, so 0.4 selects the close ≈0.1% tail without
    * emptying the result. Membership compares the ROUNDED cosine, so
    * the reported set is the same in both engines.
    */
  val RangeTau = 0.4

  /** Shortlist depth of the exact re-rank: 4× the delivered top-k,
    * the standard refinement head-room (Jégou et al., TPAMI 2011 §V-C).
    */
  val ShortR = 20

  /** Shortlist depth of the refined frozen IVF-OPQ search: its ADC
    * order over residuals is noisier than the cell-membership ceiling
    * (depth 20 recovered 0.40 of the 0.88 reachable, 40 recovers 0.76).
    */
  val IvfOpqShortR = 40

  /** Every [[AnnSpec.table]] row as a registered query. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    table.map { case (name, spec) =>
      name -> ((s: SparkSession, dir: String) => search(s, dir, spec))
    }.toMap

  /** The registered search `name`. */
  def search(s: SparkSession, dir: String, name: String): DataFrame =
    search(s, dir, byName(name))

  /** Run `spec`: score candidates (coarse stage + coder), then refine
    * or emit. Output: (query_id, neighbor_id, rank, cos) for exact
    * and refined searches, (query_id, neighbor_id, rank, adc_d2) for
    * unrefined PQ, (query_id, neighbor_id, cos) for a radius.
    */
  def search(s: SparkSession, dir: String, spec: AnnSpec): DataFrame = {
    val scored = spec.coder match {
      case Exact | Sq8 => byCos(cosineCandidates(s, dir, spec))
      case PlainPq | ResidualPq =>
        byAdc(Pq.adcScores(adcCandidates(s, dir, spec)))
    }
    (spec.refine, spec.output) match {
      case (Some(depth), TopK) => refine(s, dir, scored, depth)
      case (None, TopK) => rank(scored)
      case (None, Radius(tau)) =>
        scored.df.select(col("query_id"), col("neighbor_id"), scored.out)
          .filter(col("cos") >= tau)
          .orderBy(col("query_id"), col("neighbor_id"))
      case _ => unsupported(spec)
    }
  }

  private def unsupported(spec: AnnSpec): Nothing =
    throw new IllegalArgumentException(s"no ANN pipeline for $spec")

  // ---- transform -------------------------------------------------------

  /** The vector transform of `spec` as a column function, None for no
    * transform. The OPQ rotation and the PCA projection are narrow
    * codegen'd `vec_dot`s against plan-literal rows — no join, no
    * shuffle.
    */
  private def transformOf(s: SparkSession, dir: String,
      spec: AnnSpec): Option[Column => Column] =
    (spec.transform, spec.model) match {
      case (NoTransform, _) => None
      case (Rotation, Trained) => Some(Opq.rotate(_, Opq.model(s, dir).rot))
      case (Rotation, Frozen) => Some(Opq.rotate(_, FrozenAnn.rot))
      case (PcaBasis, Trained) =>
        Some(Pca.projectOnto(_, Pca.trained(s, dir)._2.toSeq))
      case (PcaBasis, Frozen) =>
        Some(Pca.projectOnto(_, FrozenAnn.pcaComponents))
      case _ => unsupported(spec)
    }

  /** The rows of `df` with `tf` applied to their embedding; untouched
    * without a transform, so the frame stays the one the trainers
    * cached.
    */
  private def vectors(df: DataFrame, tf: Option[Column => Column]) =
    tf.fold(df)(f => df.select(col("vec_id"), f(col("embedding"))
      .as("embedding")))

  // ---- coarse: IVF ------------------------------------------------------

  /** The deterministic seed quantizer: vectors whose id lies on stride
    * p = max(37, ⌊√N⌋) at offset 5. C = N/p ≈ √N is sublinear in the
    * corpus (the centroid broadcast and the per-vector argmax fan-out
    * must not scale with N) and is the classical IVF balance point:
    * probe cost C + N·nprobe/C is minimal at C = √(N·nprobe). The
    * stride is a 1-row aggregate cross-joined in (no driver action);
    * the same rule is a scalar subquery in every DuckDB oracle, and
    * sqrt/floor/greatest are correctly rounded on both engines, so the
    * centroid SET replays exactly.
    */
  def centroids(s: SparkSession, dir: String): DataFrame = {
    val corpus = load(s, dir, "embeddings")
    val n = corpus.agg(count(lit(1)).as("n_corpus"))
    corpus.crossJoin(broadcast(n))
      .filter(col("vec_id") %
        greatest(lit(37L),
          floor(sqrt(col("n_corpus").cast("double"))).cast("long")) === 5)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
  }

  /** The coarse quantizer (cent_id, cvec) of `model`. */
  private def coarseCentroids(s: SparkSession, dir: String,
      model: Model): DataFrame = model match {
    case Seed => centroids(s, dir)
    case Trained => KMeans.trainedCentroids(s, dir)
    case Frozen => FrozenAnn.ivfCentroidFrame(s)
  }

  /** Every row of `vecs` (vec_id, embedding, …) against every centroid,
    * scored by cosine. The corpus is hashed on vec_id BEFORE the N×C
    * scoring: the argmax groupBy downstream needs that partitioning
    * anyway, so the one exchange moves below the expensive join
    * instead of being added, and the scoring no longer inherits the
    * source's split count.
    */
  private def scoredCells(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.repartition(col("vec_id"))
      .join(broadcast(cents))
      .withColumn("cs", Dedup.cosine(col("embedding"), col("cvec")))

  /** (vec_id, cell, cv): each vector's argmax-cosine cell (smallest
    * cent_id on ties) — folded by `max_by` at the groupBy grain, so the
    * shuffle carries one row per vector, never the N×C scored pairs.
    */
  private[operators] def assign(vecs: DataFrame,
      cents: DataFrame): DataFrame =
    scoredCells(vecs, cents)
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"), struct(col("cs"), -col("cent_id")))
        .as("cell"), first(col("embedding")).as("cv"))

  /** Every vector's cell under the seed quantizer. */
  def cellAssignments(s: SparkSession, dir: String): DataFrame =
    assign(load(s, dir, "embeddings"), centroids(s, dir))

  /** Every vector's cell under the trained quantizer — what
    * [[Layout.writeIvfTrainedPartitioned]] turns into directories.
    */
  def cellAssignmentsTrained(s: SparkSession, dir: String): DataFrame =
    assign(load(s, dir, "embeddings"), KMeans.trainedCentroids(s, dir))

  /** (query_id, cell, qv): each query's `nprobe` nearest cells. The
    * query set is tiny; consumers broadcast it.
    */
  private[operators] def probes(s: SparkSession, dir: String,
      cents: DataFrame, nprobe: Int = NProbe): DataFrame = {
    val pw = Window.partitionBy(col("vec_id"))
      .orderBy(col("cs").desc, col("cent_id"))
    scoredCells(load(s, dir, "embeddings"), cents).filter(queryPred)
      .withColumn("pr", row_number().over(pw)).filter(col("pr") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cent_id").as("cell"),
        col("embedding").as("qv"))
  }

  /** Each query's probed cells under the seed quantizer. */
  def queryProbes(s: SparkSession, dir: String): DataFrame =
    probes(s, dir, centroids(s, dir))

  /** (id, cell, out): the displacement of `vecCol` from its cell's
    * centroid, double-exact, then `tf` — the distribution a residual
    * coder quantizes once the coarse quantizer has absorbed the
    * between-cell variance (Jégou et al., TPAMI 2011 §IV). The same
    * stage serves the corpus (assignments) and the queries (probes).
    */
  private[operators] def residuals(df: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String, out: String,
      tf: Option[Column => Column] = None): DataFrame = {
    val r = zip_with(col(vecCol), col("cvec"),
      (x, y) => x.cast("double") - y.cast("double"))
    df.join(broadcast(cents.select(col("cent_id").as("cell"), col("cvec"))),
        "cell")
      .select(col(idCol), col("cell"), tf.fold(r)(_(r)).as(out))
  }

  // ---- coder: exact cosine and SQ8 -------------------------------------

  /** (query_id, neighbor_id, cos) over the candidates the coarse stage
    * admits; SQ8 scores each corpus row by its midpoint reconstruction
    * (the query never quantizes — asymmetric, like ADC).
    */
  private def cosineCandidates(s: SparkSession, dir: String,
      spec: AnnSpec): DataFrame = {
    val raw = load(s, dir, "embeddings")
    spec.coarse match {
      case Ivf(nprobe, filter) =>
        val cents = coarseCentroids(s, dir, spec.model)
        val assigned = assign(filter.fold(raw)(p =>
          raw.filter(p).select(col("vec_id"), col("embedding"))), cents)
        val coded =
          if (spec.coder == Sq8)
            // assignments ⋈ reconstructions is corpus × corpus on
            // vec_id: neither leg may broadcast at scale, and leaving the
            // build side to equal-stats AQE flipped the plan run to run;
            // shuffle_hash on the narrow leg pins the scale-honest choice
            assigned.select(col("vec_id"), col("cell")).hint("shuffle_hash")
              .join(Sq.dequantized(s, dir), "vec_id")
              .select(col("vec_id"), col("cell"), col("dv").as("cv"))
          else assigned
        probeJoin(coded, probes(s, dir, cents, nprobe))
      case scan =>
        val tf = transformOf(s, dir, spec)
        val corpus =
          if (spec.coder == Sq8)
            Sq.dequantized(s, dir)
              .select(col("vec_id"), col("dv").as("embedding"))
          else vectors(raw, tf)
        val q = vectors(raw.filter(queryPred), tf)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
            norm(col("embedding")).as("q_nrm"))
        val c = corpus.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cv"), norm(col("embedding")).as("c_nrm"))
        val pairs =
          if (scan == Blocked) {
            // queries replicate to every corpus block and the scoring
            // join is a block-id EQUI-join: the query side rides an
            // ordinary shuffle, so nothing needs to fit a broadcast
            val B = CorpusBlocks
            c.withColumn("cb",
                pmod(xxhash64(col("neighbor_id")), lit(B)).cast("int"))
              .join(q.withColumn("cb", explode(sequence(lit(0), lit(B - 1)))),
                Seq("cb"))
              .filter(col("query_id") =!= col("neighbor_id"))
          } else c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        pairs.withColumn("cos", graft.functions.vecDot(col("qv"), col("cv"))
          / col("q_nrm") / col("c_nrm"))
    }
  }

  private def norm(v: Column): Column = sqrt(graft.functions.vecDot(v, v))

  /** Assigned candidates (vec_id, cell, cv) meet the broadcast probes
    * on cell; exact cosine within the probed cells only.
    */
  private[operators] def probeJoin(assigned: DataFrame,
      probes: DataFrame): DataFrame =
    assigned.join(broadcast(probes), "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Dedup.cosine(col("qv"), col("cv")).as("cos"))

  // ---- coder: PQ and residual PQ ---------------------------------------

  /** The (query LUT × corpus codes) candidate join of a PQ spec. Flat:
    * whole-corpus codes of the (transformed) vectors. IVF: codes of each
    * vector's (transformed) residual, LUTs per (query, probed cell).
    */
  private def adcCandidates(s: SparkSession, dir: String,
      spec: AnnSpec): DataFrame = {
    val raw = load(s, dir, "embeddings")
    val tf = transformOf(s, dir, spec)
    spec.coarse match {
      case Ivf(nprobe, None) if spec.coder == ResidualPq =>
        val cents = coarseCentroids(s, dir, spec.model)
        // cache + eager count: the N×C assignment scoring runs ONCE —
        // codebook seeds, residual training, corpus codes and (through
        // the codebook) the LUTs all read this narrow frame with
        // projections different enough to defeat ReuseExchange, and
        // racing a lazy cache build recomputes it per consumer stage
        val resid = residuals(assign(raw, cents), cents, "vec_id", "cv", "rv",
          tf).cache()
        resid.count()
        val rcb = residualCodebook(s, dir, spec, resid)
        val luts = Pq.luts(residuals(probes(s, dir, cents, nprobe), cents,
          "query_id", "qv", "qrv", tf), "query_id", "qrv", rcb, Seq("cell"))
        Pq.adcJoin(Pq.encode(resid, "rv", rcb, Seq("cell")), luts,
          Seq("cell"))
      case Broadcast if spec.coder == PlainPq =>
        val cb = flatCodebook(s, dir, spec)
        val luts = Pq.luts(vectors(raw.filter(queryPred), tf), "vec_id",
          "embedding", cb)
        // repartition(vec_id) before the transform and the K-way
        // scoring: the encode groupBy needs vec_id clustering anyway,
        // so the exchange relocates instead of being added
        Pq.adcJoin(Pq.encode(vectors(raw.repartition(col("vec_id")), tf),
          "embedding", cb), luts)
      case _ => unsupported(spec)
    }
  }

  /** The codebook a flat PQ spec codes against. */
  private def flatCodebook(s: SparkSession, dir: String,
      spec: AnnSpec): DataFrame = (spec.transform, spec.model) match {
    case (NoTransform, Seed) => Pq.codebooks(s, dir)
    case (NoTransform, Trained) => Pq.trainedCodebooks(s, dir)
    case (Rotation, Trained) =>
      import s.implicits._
      Opq.model(s, dir).codebook.toDF("subspace", "code", "cvec_sub")
    case (Rotation, Frozen) => FrozenAnn.codebookFrame(s)
    case _ => unsupported(spec)
  }

  /** The shared residual codebook: the PQ seed rule over the residual
    * frame, refined by the per-subspace Lloyd's loop when trained
    * (memoized under `pqrescb|dir`, shared with the layout writer),
    * or the frozen IVF-OPQ literal.
    */
  private def residualCodebook(s: SparkSession, dir: String, spec: AnnSpec,
      resid: DataFrame): DataFrame = (spec.transform, spec.model) match {
    case (Rotation, Frozen) => FrozenAnn.ivfOpqCodebookFrame(s)
    case (NoTransform, Trained) =>
      trainedResidualCodebook(s, resid, memoKey = s"pqrescb|$dir")
    case (NoTransform, _) => Pq.seedCodebook(resid, "vec_id", "rv")
    case _ => unsupported(spec)
  }

  /** Lloyd's over a (vec_id, cell, rv) residual frame, seeded by the PQ
    * seed rule over the same residuals. `memoKey` names what the
    * residuals are a function of: under the trained coarse quantizer
    * that is `dir` alone (`pqrescb|dir`), so the in-query search and
    * the layout writer share one memo entry.
    */
  private[operators] def trainedResidualCodebook(s: SparkSession,
      resid: DataFrame, memoKey: String): DataFrame =
    Pq.trainedCodebookFrom(s,
      Pq.slicedFrame(resid, "vec_id", "rv", "vec_id", "sub"),
      Pq.seedCodebook(resid, "vec_id", "rv"), orderFree = false,
      memoKey = memoKey)

  // ---- rank and refine ---------------------------------------------------

  /** Scored candidates (query_id, neighbor_id, …): `best` orders them
    * best first, `out` is the emitted score column.
    */
  private[operators] final case class Scored(df: DataFrame, best: Column,
      out: Column)

  private[operators] def byCos(df: DataFrame): Scored =
    Scored(df, col("cos").desc, round(col("cos"), 6).as("cos"))

  private[operators] def byAdc(df: DataFrame): Scored =
    Scored(df, col("adc_d2"), col("adc_d2"))

  private def bestFirst(sc: Scored) =
    Window.partitionBy(col("query_id")).orderBy(sc.best, col("neighbor_id"))

  /** Per-query top-[[K]]: one window over query_id, which Spark's
    * WindowGroupLimit splits into a partial per-partition top-K before
    * the exchange, so the shuffle carries ≤ partitions·q·K rows.
    */
  private[operators] def rank(sc: Scored): DataFrame =
    sc.df.withColumn("rank", row_number().over(bestFirst(sc)))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"), col("rank"), sc.out)
      .orderBy(col("query_id"), col("rank"))

  /** Two-stage refinement: the `depth` best candidates per query by
    * the cheap score, then an exact-cosine re-rank of just those rows
    * against the raw embeddings. The shortlist is queries × depth — a
    * planning-time constant — so it broadcasts and the exact math never
    * touches the corpus; the delivered order is exact, so recall can
    * only improve over the unrefined search.
    */
  private[operators] def refine(s: SparkSession, dir: String, sc: Scored,
      depth: Int): DataFrame = {
    val shortlist = sc.df
      .withColumn("r", row_number().over(bestFirst(sc)))
      .filter(col("r") <= depth)
      .select(col("query_id"), col("neighbor_id"))
    val emb = load(s, dir, "embeddings")
    rank(byCos(
      emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
        .join(broadcast(shortlist
          .join(emb.select(col("vec_id").as("query_id"),
            col("embedding").as("qv")), "query_id")), "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          Dedup.cosine(col("qv"), col("nv")).as("cos"))))
  }
}
