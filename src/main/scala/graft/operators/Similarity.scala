package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.load

/** The `embeddings` table (`Array[Float]`, 64-dim) outside the
  * [[AnnSpec]] pipelines — a training-data-pipeline capability the
  * reference has no analog for (SURVEY.md §2.3): the table-hygiene
  * and IVF index-health reports, and the two searches that are not a
  * (probe, code, score) pipeline, sharing [[Ann]]'s query set and rank
  * stage:
  *
  *   - LSH (`ann_lsh*`) — random-hyperplane buckets (T tables × b
  *     bits), equi-join on (table, bucket), exact cosine + top-k over
  *     candidates only. Honest caveat, visible in this very dataset
  *     (near-orthogonal vectors, max cos ≈ 0.5): LSH prunes hard only
  *     when neighbors are angularly close; parameters here (b=4, T=16)
  *     are tuned so the planted cos ≥ 0.45 structure is recalled with
  *     p ≈ 0.96 while random pairs collide at 0.65⁴·T ≪ 1 per table
  *     pair.
  *   - MMR (`ann_mmr_topk`) — a greedy diversity rerank of the cosine
  *     top-[[MmrPool]], inherently sequential in k.
  */
object Similarity {

  /** Embedding-table hygiene — the validation pass a pipeline runs
    * BEFORE building any ANN index: per-label cardinality, dimension
    * bounds (a ragged table breaks every distance kernel), and norm
    * statistics (zero or exploding norms break cosine). One narrow
    * projection + one map-side-combinable aggregation.
    *
    * Cross-engine determinism: the squared-norm fold runs left-to-
    * right over the vector on both engines (identical doubles), sqrt
    * is correctly-rounded IEEE, and the per-label mean folds the
    * SORTED norm list — same engine-pinned-order trick as the LM
    * score. min/max are order-free. Boundary stated honestly: unlike
    * the LM score's per-DOC fold (bounded by document length), this
    * collects per LABEL — fine while a label's cardinality fits an
    * executor (here ~corpus/10). The 100 TB form is
    * [[embedStatsScale]]: O(1) state per label via an exact decimal
    * sum of quantized norms, equally oracled.
    */
  def embedStats(s: SparkSession, dir: String): DataFrame =
    embedStatsWith(s, dir,
      round(aggregate(array_sort(collect_list(col("norm"))), lit(0.0),
        (a, x) => a + x) / count(lit(1)), 6))

  /** The same hygiene report with O(1) aggregation state per label —
    * the form that survives a 100 TB table, where [[embedStats]]'s
    * sorted per-label norm fold (state = label population) would OOM
    * an executor. Order-independence without losing the exact oracle:
    * each norm is quantized to 6 decimal places and summed as
    * DECIMAL — integer micro-unit arithmetic, exact and associative,
    * so the sum is bit-identical under ANY partitioning and addition
    * order on both engines. The mean is then ONE correctly-rounded
    * IEEE division of that exact sum by the count. min/max/count were
    * already order-free. Aggregation state per label: a count, two
    * doubles, one decimal — independent of label cardinality.
    *
    * The decimal sum stays exact while Σ round(norm, 6) · 10⁶ fits
    * DECIMAL(38,6) (10³² micro-units — beyond any corpus); the
    * double cast before the division is exact up to 2⁵³ micro-units
    * ≈ 10⁹ vectors/label at unit norm, after which the mean degrades
    * gracefully to half-ulp-of-sum precision (never wrong by more
    * than the last displayed digit's rounding).
    */
  def embedStatsScale(s: SparkSession, dir: String): DataFrame =
    embedStatsWith(s, dir,
      round(sum(round(col("norm"), 6).cast("decimal(38,6)"))
        .cast("double") / count(lit(1)), 6))

  /** Shared hygiene-report scaffolding: the two modes differ ONLY in
    * how `mean_norm` aggregates (sorted fold vs exact decimal sum) —
    * every other column must stay identical for the "same report,
    * O(1) state" contract between them to hold.
    */
  private def embedStatsWith(s: SparkSession, dir: String,
      meanNorm: Column): DataFrame = {
    val sq = aggregate(transform(col("embedding"),
      x => x.cast("double") * x), lit(0.0), (a, x) => a + x)
    load(s, dir, "embeddings")
      .select(col("label"), size(col("embedding")).as("dim"),
        sqrt(sq).as("norm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("dim")).as("dim_min"), max(col("dim")).as("dim_max"),
        round(min(col("norm")), 6).as("min_norm"),
        round(max(col("norm")), 6).as("max_norm"),
        meanNorm.as("mean_norm"))
      .orderBy(col("label"))
  }

  val Dim: Int = graft.functions.LshBuckets.Dim
  val NumTables: Int = graft.functions.LshBuckets.NumTables
  val BitsPerTable: Int = graft.functions.LshBuckets.BitsPerTable

  /** All table buckets of a vector in one fused native pass (seeded
    * hyperplanes baked into the expression — identical on every
    * executor, run, and engine). See functions/LshBuckets.scala; the
    * composed `vec_dot(v, lit(plane))`-per-bit form spent its time in
    * per-call expression plumbing, not arithmetic.
    */
  private def buckets(v: Column): Column = call_function("lsh_buckets", v)

  private def corpus(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "embeddings")

  /** Index-health report — the numbers an operator watches on a
    * production IVF index (and the trigger for a retrain-rebuild):
    * cell count, corpus size, population min/max/mean and the
    * imbalance factor max/mean. Imbalance is THE scale metric for an
    * IVF layout — probe cost and directory skew are both linear in
    * it, and Lloyd's training exists to push it toward 1 (the
    * trained-layout spec shows exactly that effect on directory
    * sizes). One assignment pass + two tiny aggregations;
    * hash-oracled (`ivf_index_stats`).
    */
  def ivfIndexStats(s: SparkSession, dir: String): DataFrame = {
    val pops = Ann.cellAssignments(s, dir)
      .groupBy(col("cell")).agg(count(lit(1)).as("pop"))
    val avg = col("n_vectors").cast("double") / col("n_cells")
    pops.agg(
      count(lit(1)).as("n_cells"),
      sum(col("pop")).as("n_vectors"),
      min(col("pop")).as("min_pop"),
      max(col("pop")).as("max_pop"))
      .select(col("n_cells"), col("n_vectors"), col("min_pop"),
        col("max_pop"), round(avg, 6).as("avg_pop"),
        round(col("max_pop") / avg, 6).as("imbalance"))
  }

  /** MMR candidate-pool size, output size, and relevance weight. */
  val MmrPool = 10
  val MmrK = 5
  val MmrLambda = 0.7
  /** The diversity weight as its OWN literal: `1 - 0.7` in IEEE is
    * 0.30000000000000004, which no SQL oracle writes — both engines
    * must use the same literal 0.3.
    */
  val MmrMu = 0.3

  /** Maximal-marginal-relevance top-k (graded `ann_mmr_topk`;
    * Carbonell & Goldstein 1998): rerank each query's top-[[MmrPool]]
    * cosine candidates for DIVERSITY — pick greedily by
    * λ·cos(q,d) − (1−λ)·max_{s∈picked} cos(d,s) — so near-duplicate
    * neighbors stop crowding out distinct evidence. THE rerank every
    * RAG pipeline runs between retrieval and the context window: the
    * corpus's duplication (this corpus plants near-dup clusters)
    * otherwise fills all k slots with copies of one document.
    *
    * Exactness: every cosine is the shared left-to-right `vec_dot`
    * fold; the greedy argmax compares λ·cos − (1−λ)·maxsim doubles
    * built from identical IEEE ops in both engines, ties to the
    * smaller id — so the SELECTION (not just the scores) replays in
    * DuckDB, whose oracle unrolls the same [[MmrK]] rounds as CTEs.
    *
    * Scale shape: the candidate pool and its pairwise-sim frame are
    * queries×10 and queries×90 rows — planning-time constants, cached
    * once and reused by all [[MmrK]] unrolled rounds; each round is a
    * broadcast-sized join + one map-side-combinable argmax. The
    * iterative greedy pick is inherently sequential in k, but k is a
    * constant and the per-round work is one tiny equi-join — never a
    * corpus rescan.
    */
  def mmrTopK(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
    val nrm = sqrt(call_function("vec_dot", col("embedding"), col("embedding")))
    val q = e.filter(Ann.queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        nrm.as("q_nrm"))
    val c = e.select(col("vec_id").as("nid"), col("embedding").as("cv"),
      nrm.as("c_nrm"))
    val byCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nid"))
    val cand = c.join(broadcast(q), col("query_id") =!= col("nid"))
      .withColumn("cos", call_function("vec_dot", col("qv"), col("cv"))
        / col("q_nrm") / col("c_nrm"))
      .withColumn("r", row_number().over(byCos)).filter(col("r") <= MmrPool)
      .select(col("query_id"), col("nid"), col("cos"), col("cv"),
        col("c_nrm"))
      .cache()
    val pair = cand.select(col("query_id"), col("nid").as("a_nid"),
        col("cv").as("av"), col("c_nrm").as("a_nrm"))
      .join(cand.select(col("query_id"), col("nid").as("b_nid"),
        col("cv").as("bv"), col("c_nrm").as("b_nrm")), Seq("query_id"))
      .filter(col("a_nid") =!= col("b_nid"))
      .select(col("query_id"), col("a_nid"), col("b_nid"),
        (call_function("vec_dot", col("av"), col("bv"))
          / col("a_nrm") / col("b_nrm")).as("sim"))
      .cache()
    val slim = cand.select(col("query_id"), col("nid"), col("cos"))
    // round 1: pure relevance argmax (ties to the smaller id)
    var sel = slim.groupBy(col("query_id"))
      .agg(max_by(struct(col("nid"), col("cos").as("score")),
        struct(col("cos"), -col("nid"))).as("p"))
      .select(col("query_id"), col("p.nid").as("nid"),
        col("p.score").as("score"), lit(1).as("rank"))
    for (r <- 2 to MmrK) {
      val msim = pair
        .join(sel.select(col("query_id"), col("nid").as("b_nid")),
          Seq("query_id", "b_nid"))
        .groupBy(col("query_id"), col("a_nid").as("nid"))
        .agg(max(col("sim")).as("msim"))
      val pick = slim.join(msim, Seq("query_id", "nid"))
        .join(sel.select(col("query_id"), col("nid")),
          Seq("query_id", "nid"), "left_anti")
        .withColumn("score",
          lit(MmrLambda) * col("cos") - lit(MmrMu) * col("msim"))
        .groupBy(col("query_id"))
        .agg(max_by(struct(col("nid"), col("score")),
          struct(col("score"), -col("nid"))).as("p"))
        .select(col("query_id"), col("p.nid").as("nid"),
          col("p.score").as("score"), lit(r).as("rank"))
      // lineage cut: each round references `sel` THREE times (msim
      // join, anti-join, union), so an un-cut loop grows the logical
      // plan 3×/round — 3^(k-1) copies by round k, and Catalyst
      // re-analysis (not execution) dominated the bench at 13.4 s
      // before the cut. The checkpointed frame is queries×rank rows —
      // tiny — so the eager materialization per round is free.
      sel = sel.unionByName(pick).localCheckpoint(eager = true)
    }
    sel.select(col("query_id"), col("nid").as("neighbor_id"), col("rank"),
        round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Deterministic ±1 sign-projection planes for the md5-domain LSH
    * twin: coefficient (t, b, d) is the parity of the first hex digit
    * of md5("lsh:t:b:d") — no RNG anywhere, so the SAME derivation
    * builds the DuckDB oracle's plane literals (SparkEntry) and this
    * operator's `lit` arrays. ±1 coefficients make every dot product
    * a signed left-to-right sum of the raw components: float→double
    * casts and sign flips are exact, so bucket bits replay
    * bit-identically cross-engine (the classic sign-random-projection
    * LSH family — Charikar 2002 — with hash-derived signs).
    */
  def md5Plane(t: Int, b: Int): Array[Float] =
    graft.functions.Md5LshBuckets.plane(t, b)

  /** The md5-domain GRADED twin of [[lshTopK]] (the KMV recipe):
    * identical pipeline shape — bucket the corpus and the queries per
    * table, candidates share any (table, bucket), exact cosine +
    * rank over candidates only — but with [[md5Plane]] sign
    * projections instead of the seeded gaussian hyperplanes, so the
    * WHOLE pipeline (bucket bits included) is hash-oracled in DuckDB
    * rather than pinned by a recall spec.
    *
    * Declared cost model: at FIXED (tables × bits) the bucket space
    * is constant, so per-bucket population grows ∝ N and the
    * candidate join is Q×N/2^bits — with queries ∝ corpus the 10×
    * replay measures it superlinear by design (SCALE_r13.json:
    * ×30.6). At 100 TB the parameter, not the plan, scales: bits grow
    * with log N (bucket count ∝ N keeps per-bucket population
    * constant, the standard LSH capacity rule), or the IVF family
    * takes over — the bucket join SHAPE (equi-join, no broadcast
    * ceiling) is already the scale-correct one.
    */
  def lshMd5TopK(s: SparkSession, dir: String): DataFrame =
    // fused one-pass bucketing (r17, guide §4): the composed
    // vec_dot-per-bit form built a NumTables×bits expression tree of
    // literal-array dots per row — functions/Md5LshBuckets computes
    // the identical bucket ids (same planes, same fold, same strict
    // sign test) in one generated loop
    lshTopKWith(s, dir,
      graft.functions.md5LshBuckets(_, BitsPerTable), broadcastQueries = true)

  /** Target mean bucket population for the capacity-scaled LSH — the
    * knob the bits-per-table rule keeps constant as the corpus grows.
    */
  val ScaledLshTarget = 32

  /** Plane-budget ceiling for the scaled form: bits ≤ 12 keeps the
    * mean population at [[ScaledLshTarget]] up to 32·2¹² ≈ 131k
    * vectors per table; above that corpus size the rule saturates
    * (populations grow linearly again) and the IVF family — whose
    * cell count tracks √N structurally — is the intended index.
    * A constant, so `Md5LshBuckets.MaxBits` reads it without
    * initializing this object. */
  final val ScaledLshMaxBits = 12

  /** ⌈log₂ m⌉ on exact integers (0 for m ≤ 1) — the engine-neutral
    * capacity rule: both sides compute it from bit LENGTH (`bin` +
    * `length` in the oracle), never from a transcendental log. */
  def ceilLog2(m: Long): Int =
    if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)

  /** Bits per table for a corpus of `n` vectors: enough buckets that
    * the MEAN population stays at [[ScaledLshTarget]] — bucket count
    * ∝ N, the standard LSH capacity rule. */
  def scaledLshBits(n: Long): Int =
    math.min(ScaledLshMaxBits,
      math.max(BitsPerTable, ceilLog2(math.ceil(n / ScaledLshTarget.toDouble).toLong)))

  /** Graded `ann_lsh_scaled_topk`: [[lshMd5TopK]] with the CAPACITY
    * RULE applied — bits-per-table grows with log₂(N) so bucket count
    * tracks the corpus and mean bucket population stays at
    * [[ScaledLshTarget]]. This is the design answer to what the r13
    * scale replay measured on the fixed-parameter form (×30 at 10×
    * data, quadratic by construction when bucket space is constant
    * and queries ∝ corpus): with population pinned, per-query
    * candidates are ~NumTables·[[ScaledLshTarget]] — CONSTANT — and
    * total cost is linear in queries. At sf0.01 the rule lands on the
    * historical 4 bits (the two forms coincide there, which is itself
    * a graded fact); at sf0.1 it picks 6, at the 10× replica 10.
    *
    * The corpus COUNT is one bounded driver action (like a trainer's
    * model fetch): the rule is STRUCTURAL — it decides how many
    * hyperplanes enter the plan — so it cannot be a plan-internal
    * scalar the way the IVF stride is. Planes stay [[md5Plane]]
    * sign projections, so the whole pipeline (dynamic bit count
    * included — the oracle re-derives it from `count(*)` with
    * `bin`/`length`) hash-oracles in DuckDB.
    *
    * Declared cost-model bound: CANDIDATE growth is what the capacity
    * rule fixes; the bucketed join itself shuffles both sides on
    * (table, bucket) with no forced broadcast — the query side is
    * queries × NumTables rows (∝ N/100 here), which at some scale
    * stops being broadcastable, so AQE decides the join strategy at
    * runtime rather than a hint promising a driver-sized table that
    * grows with the corpus.
    */
  def lshScaledTopK(s: SparkSession, dir: String): DataFrame = {
    val bits = scaledLshBits(corpus(s, dir).count())
    // no broadcast hint: the query-bucket side grows ∝ N/100, so a
    // forced broadcast would put a corpus-linear table on the driver
    // at scale — AQE picks broadcast while it fits, shuffle join after
    lshTopKWith(s, dir,
      graft.functions.md5LshBuckets(_, bits), broadcastQueries = false)
  }

  /** LSH-bucketed top-k: candidates = corpus vectors sharing any
    * (table, bucket) with the query, then exact cosine + ranking over
    * candidates only. Same output shape as `ann_brute_topk` (its recall
    * is measured against it in SimilaritySpec).
    */
  def lshTopK(s: SparkSession, dir: String): DataFrame =
    lshTopKWith(s, dir, buckets, broadcastQueries = true)

  /** The bucketed pipeline the three LSH forms share: bucket the
    * corpus and the queries per table with `bucketsOf`, join on
    * (table, bucket), exact cosine over candidates, rank.
    */
  private def lshTopKWith(s: SparkSession, dir: String,
      bucketsOf: Column => Column, broadcastQueries: Boolean): DataFrame = {
    val e = corpus(s, dir)
    def withBuckets(df: DataFrame, idCol: String, vecCol: String) =
      df.select(col(idCol), col(vecCol), posexplode(bucketsOf(col(vecCol))))
        .toDF(idCol, vecCol, "table", "bucket")
    val qb = withBuckets(
      e.filter(Ann.queryPred).select(col("vec_id").as("query_id"),
        col("embedding").as("qv")), "query_id", "qv")
    val cb = withBuckets(
      e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
      "neighbor_id", "cv")
    // score BEFORE deduplicating: a pair colliding in several tables
    // recomputes a cheap dot product, but the dedup shuffle then moves
    // only (query_id, neighbor_id, cos) triplets — never the 64-float
    // arrays (distinct() on array columns shuffled ~70 bytes/row of
    // vector payload per duplicate and dominated this query's time).
    // max(cos) is exact: every duplicate row scores identically.
    Ann.rank(Ann.byCos(
      cb.join(if (broadcastQueries) broadcast(qb) else qb,
          Seq("table", "bucket"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", Dedup.cosine(col("qv"), col("cv")))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(max(col("cos")).as("cos"))))
  }
}
