package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.load

/** Product quantization (Jégou/Douze/Schmid, TPAMI 2011) — the
  * compression half of a production IVF-PQ vector index, complementing
  * the IVF cell-probing half (`ann_ivf_topk`, [[AnnSpec]]): each 64-dim
  * vector splits into [[M]] 8-dim subvectors, each subvector is
  * replaced by the id of its nearest sub-centroid from a [[K]]-entry
  * per-subspace codebook, and the whole vector compresses to M codes —
  * 8 nibbles, a 64× memory cut, which is what makes billion-vector
  * search fit RAM at all. Queries then rank candidates with
  * ASYMMETRIC distance (ADC): the query stays exact, each neighbor is
  * approximated by its sub-centroids, so the scan needs only the codes
  * plus a per-query 8×16 lookup table of subspace distances.
  *
  * The codebook here is DETERMINISTIC (the 16 smallest-id vectors with
  * vec_id % 29 == 3, sliced per subspace) — the same seed-quantizer
  * trade as [[Ann.centroids]]: a k-means-trained codebook drops
  * in via [[KMeans]] exactly as it does for IVF, but the seed form
  * makes `pq_codes` expressible in oracle SQL, so the ENCODING — the
  * part with a right answer — is hash-verified, while ADC ranking
  * (whose value is recall, not exactness) is measured in `PqSpec`.
  *
  * Scale shapes: encoding is corpus × broadcast(128 codebook rows),
  * argmin folded by `max_by` at the (vector, subspace) grain — the
  * shuffle carries M rows per vector, never the M×K scored pairs.
  * ADC is codes × broadcast(query LUTs) — an equi-join on
  * (subspace, code) — then one map-side-combinable sum per
  * (query, vector) and a WindowGroupLimit top-k: the raw embedding
  * column is never read by the ranking scan, only by the (tiny) LUT
  * builder.
  */
object Pq {

  /** Subspaces per vector (64 dims / 8 per subspace). */
  val M = 8

  /** Dimensions per subspace. */
  val SubDim = 8

  /** Codes per subspace codebook (4-bit codes). */
  val K = 16

  /** Squared L2 distance between two float-array slices, folded
    * left-to-right in double — bit-identical to the oracle's
    * `list_reduce(list_zip(...))` fold. Native codegen expression
    * (functions/VecL2Sq, r16): the declarative `aggregate(zip_with)`
    * form it replaces evaluated interpreted per element and dominated
    * the warm PQ/OPQ serving stacks; same fold order, same values.
    */
  private[operators] def l2sq(a: Column, b: Column): Column =
    graft.functions.vecL2Sq(a, b)

  /** Slices an embedding-like array column into its M subvectors:
    * posexplode output normalized to (…, subspace: long, sub).
    */
  private def sliced(c: Column): Column =
    posexplode(transform(sequence(lit(0), lit(M - 1)),
      m => slice(c, m * SubDim + 1, lit(SubDim))))

  /** An (id, vector) frame as subvectors: (outId, subspace, sub) —
    * the ONE slicing point every side (corpus codes, query LUTs,
    * codebook seeds, residuals) goes through, so the subspace
    * geometry cannot drift between the codes and what scores them.
    */
  private[operators] def slicedFrame(src: DataFrame, idCol: String, vecCol: String,
      outId: String, outVec: String,
      carry: Seq[String] = Nil): DataFrame =
    src.select((col(idCol) +: carry.map(col)) :+ sliced(col(vecCol)): _*)
      .toDF((outId +: carry) ++ Seq("subspace", outVec): _*)
      .select((col(outId) +: carry.map(col)) ++
        Seq(col("subspace").cast("long").as("subspace"), col(outVec)): _*)

  /** The corpus as subvectors: (vec_id, subspace, sub) — shared by
    * encoding and codebook training.
    */
  private def subvectors(s: SparkSession, dir: String): DataFrame =
    // repartition(vec_id) before slicing (r17, guide §2): encoding's
    // groupBy(vec_id, subspace) needs clustering by vec_id anyway
    // (hashpartitioning(vec_id) satisfies it — subset of the group
    // keys), so this relocates that exchange below the K-way scoring
    // expansion rather than adding one, and the scoring parallelizes
    // past the source's single split.
    slicedFrame(load(s, dir, "embeddings").repartition(col("vec_id")),
      "vec_id", "embedding", "vec_id", "sub")

  /** The deterministic seed codebook over ANY (id, vector) frame:
    * (subspace, code, cvec_sub) — the K smallest-id vectors with
    * id % 29 == 3, code = rank − 1, each sliced into M subvectors.
    * M·K rows total; every consumer broadcasts it. [[codebooks]]
    * seeds from raw embeddings, `ann_ivfpq_topk` from cell residuals —
    * the same rule, one implementation.
    */
  private[operators] def seedCodebook(src: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val w = Window.orderBy(col(idCol))
    slicedFrame(
      src.filter(col(idCol) % 29 === 3)
        .orderBy(col(idCol)).limit(K)
        .withColumn("__code", (row_number().over(w) - 1).cast("long")),
      "__code", vecCol, "code", "cvec_sub")
      .select(col("subspace"), col("code"), col("cvec_sub"))
  }

  /** The per-subspace seed codebook over the raw embeddings. */
  def codebooks(s: SparkSession, dir: String): DataFrame =
    seedCodebook(load(s, dir, "embeddings"), "vec_id", "embedding")

  /** Lloyd's rounds for the trained codebook (the [[KMeans.Rounds]]
    * discipline applied per subspace).
    */
  val Rounds = 3

  /** k-means-TRAINED per-subspace codebooks — the production form of
    * [[codebooks]], exactly the coarse-quantizer relationship
    * [[KMeans.trainedCentroids]] has to [[Ann.centroids]]: the
    * seed codebook refines by [[Rounds]] rounds of per-subspace
    * Lloyd's (assign every corpus subvector to its nearest
    * sub-centroid by squared L2, ties to the smallest code; recenter
    * each code on the mean of its members). All M subspaces train in
    * the SAME corpus×broadcast(codebook) DAG — the per-round shuffle
    * carries one row per (vector, subspace), never the M×K scored
    * pairs, and the update is a two-phase per-(subspace, code, dim)
    * mean.
    *
    * Determinism: exact mode folds SORTED member lists so the trained
    * codebook is double-run byte-identical and sequentially
    * replayable (`PqSpec`); [[trainedCodebooksScale]] is the O(1)
    * aggregation-state mode for 100 TB. Codes that lose every member
    * drop (standard Lloyd's degeneracy; PqSpec pins all M×K survive
    * on the shipped corpus). The result COLLECTS to a 128-row local
    * relation for the same reason [[KMeans.trainedCentroids]] does:
    * consumers reference it more than once and would otherwise replay
    * the whole training per branch.
    */
  def trainedCodebooks(s: SparkSession, dir: String): DataFrame =
    trainedCodebooksMode(s, dir, orderFree = false)

  /** 100 TB training mode: plain two-phase `avg` recenters — O(1)
    * aggregation state instead of O(members) sorted collects, at the
    * price of last-ulp addition-order dependence (PqSpec pins the two
    * modes within 1e-5 per dimension after the float cast, with the
    * same surviving (subspace, code) set).
    */
  def trainedCodebooksScale(s: SparkSession, dir: String): DataFrame =
    trainedCodebooksMode(s, dir, orderFree = true)

  private def trainedCodebooksMode(s: SparkSession, dir: String,
      orderFree: Boolean): DataFrame =
    trainedCodebookFrom(s, subvectors(s, dir), codebooks(s, dir),
      orderFree, memoKey = dir -> s"pqcb|$orderFree")

  /** The Lloyd's loop over ANY subvector frame (`vec_id`, `subspace`,
    * `sub`) and seed codebook — shared by the raw-embedding training
    * above and the residual codebooks ([[Ann.trainedResidualCodebook]])
    * (same rounds, same tie-breaks, same two-phase recenters).
    * `memoKey` names the (dir, distribution, mode) this codebook is a
    * deterministic function of: the collected M·K-row result is
    * session-memoized under it ([[OperatorCaches.trainedMemo]]), so
    * training runs once per dir listing per distribution.
    */
  private[operators] def trainedCodebookFrom(s: SparkSession, subs0: DataFrame,
      seed: DataFrame, orderFree: Boolean, memoKey: (String, String))
      : DataFrame = {
    import s.implicits._
    val rows = OperatorCaches.trainedMemo(memoKey) {
      // every Lloyd's round re-reads the subvector frame — cached, the
      // corpus is scanned and sliced once instead of once per round
      // (and the plan-keyed entry is shared with any consumer deriving
      // the same frame). Kept under the OperatorCaches lifecycle.
      val subs = subs0.cache()
      var cb = seed
      for (_ <- 1 to Rounds) {
        val assigned = subs.join(broadcast(cb), Seq("subspace"))
          .withColumn("d2", l2sq(col("sub"), col("cvec_sub")))
          .groupBy(col("vec_id"), col("subspace"))
          .agg(max_by(col("code"), struct(-col("d2"), -col("code")))
            .as("code"), first(col("sub")).as("sub"))
        val dims = assigned.select(col("subspace"), col("code"),
          posexplode(col("sub")).as(Seq("d", "x")))
        val mean =
          if (orderFree) avg(col("x").cast("double"))
          else aggregate(array_sort(collect_list(col("x").cast("double"))),
            lit(0.0), (a, b) => a + b) / count(lit(1))
        val means = dims.groupBy(col("subspace"), col("code"), col("d"))
          .agg(mean.as("m"))
        cb = means.groupBy(col("subspace"), col("code"))
          .agg(array_sort(collect_list(struct(col("d"), col("m"))))
            .as("dm"))
          .select(col("subspace"), col("code"),
            transform(col("dm"), e => e.getField("m").cast("float"))
              .as("cvec_sub"))
      }
      cb.as[(Long, Long, Array[Float])].collect().toSeq
    }
    rows.toDF("subspace", "code", "cvec_sub")
  }

  /** PQ encoding of the corpus: (vec_id, subspace, code) — nearest
    * sub-centroid by squared L2, ties to the smallest code. M rows
    * per vector, all-integer output.
    */
  def codes(s: SparkSession, dir: String): DataFrame =
    encode(load(s, dir, "embeddings").repartition(col("vec_id")),
      "embedding", codebooks(s, dir))
      .orderBy(col("vec_id"), col("subspace"))

  /** The PQ coder: every (vec_id, `vecCol`, carry…) row's subvectors
    * coded against `cb` — (vec_id, subspace, carry…, code), nearest
    * sub-centroid by squared L2, ties to the smallest code. Corpus ×
    * broadcast(M·K codebook rows), the argmin folded by `max_by` at the
    * (vector, subspace) grain, so the shuffle carries M rows per
    * vector, never the M×K scored pairs.
    */
  private[operators] def encode(vecs: DataFrame, vecCol: String,
      cb: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val aggs = carry.map(c => first(col(c)).as(c)) :+
      max_by(col("code"), struct(-col("d2"), -col("code"))).as("code")
    slicedFrame(vecs, "vec_id", vecCol, "vec_id", "sub", carry)
      .join(broadcast(cb), Seq("subspace"))
      .withColumn("d2", l2sq(col("sub"), col("cvec_sub")))
      .groupBy(col("vec_id"), col("subspace"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Each subvector of `subs` (vec_id, subspace, sub) at its nearest
    * `cb` code, carrying `payload` (`d2` or `sub`): (subspace, code,
    * payload) — the assignment the codebook readouts aggregate.
    */
  private[operators] def nearest(subs: DataFrame, cb: DataFrame,
      payload: String): DataFrame =
    subs.join(broadcast(cb), Seq("subspace"))
      .withColumn("d2", l2sq(col("sub"), col("cvec_sub")))
      .groupBy(col("vec_id"), col("subspace"))
      .agg(max_by(struct(col("code"), col(payload)),
        struct(-col("d2"), -col("code"))).as("b"))
      .select(col("subspace"), col("b.code").as("code"),
        col(s"b.$payload").as(payload))

  /** Training audit: one row per trained (subspace, code) — members
    * assigned and their mean quantization distortion (the per-code
    * Lloyd's objective), plus the sub-centroid norm. The distortion
    * mean sums 6-decimal-quantized d2 as exact DECIMAL (order-free,
    * O(1) state — the `embed_stats_scale` discipline, not a sorted
    * collect). Rows-only query: the codebook is the trainer's
    * data-dependent output; PqSpec replays training sequentially and
    * pins the total distortion never above the seed codebook's
    * (Lloyd's monotonicity).
    */
  def train(s: SparkSession, dir: String): DataFrame = {
    val cb = trainedCodebooks(s, dir)
    nearest(subvectors(s, dir), cb, "d2")
      .groupBy(col("subspace"), col("code"))
      .agg(count(lit(1)).as("n_assigned"),
        round(sum(round(col("d2"), 6).cast("decimal(38,6)"))
          .cast("double") / count(lit(1)), 6).as("mean_d2"))
      .join(broadcast(cb.select(col("subspace"), col("code"),
        round(sqrt(aggregate(transform(col("cvec_sub"),
          x => x.cast("double") * x.cast("double")),
          lit(0.0), (a, b) => a + b)), 6).as("c_norm"))),
        Seq("subspace", "code"))
      .orderBy(col("subspace"), col("code"))
  }

  /** Per-query ADC lookup tables: every query subvector of
    * (`idCol`, `vecCol`, carry…) scored against every `cb` entry once —
    * (query_id, carry…, subspace, code, d2u). The 6-decimal rounding
    * happens HERE, once per LUT entry (micro-units, functions/
    * Round6Micros), instead of once per candidate row after the join.
    */
  private[operators] def luts(queries: DataFrame, idCol: String,
      vecCol: String, cb: DataFrame, carry: Seq[String] = Nil): DataFrame =
    slicedFrame(queries, idCol, vecCol, "query_id", "qsub", carry)
      .join(cb, Seq("subspace"))
      .select((col("query_id") +: carry.map(col)) ++ Seq(col("subspace"),
        col("code"), graft.functions.round6Micros(
          l2sq(col("qsub"), col("cvec_sub"))).as("d2u")): _*)

  /** Corpus codes (vec_id, subspace, carry…, code) meet the broadcast
    * LUTs on (carry…, subspace, code): the ranking scan reads codes
    * only, never the raw vectors.
    */
  private[operators] def adcJoin(codes: DataFrame, luts: DataFrame,
      carry: Seq[String] = Nil): DataFrame =
    codes.toDF(("neighbor_id" +: "subspace" +: carry) :+ "code": _*)
      .join(broadcast(luts), carry ++ Seq("subspace", "code"))

  /** Asymmetric distance: one (query_id, neighbor_id, adc_d2) per
    * candidate pair (self-pairs dropped) — the exact long micro-unit sum
    * of its M subspace LUT entries. Bit-identical to summing the
    * 6-decimal-rounded distances as DECIMAL (functions/Round6Micros),
    * so the ADC score — and the ranking — replays in DuckDB; sound
    * because the group is bounded (M rows per pair ⇒ sums ≪ 2⁵³).
    */
  private[operators] def adcScores(cands: DataFrame): DataFrame =
    cands
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg((sum(col("d2u")).cast("double") / lit(1e6)).as("adc_d2"))

  /** The residual coder's output collapsed to one M-byte code array per
    * vector in subspace order — (vec_id, cell, codes: array<tinyint>),
    * the row the on-disk IVF-PQ layout stores.
    */
  private[operators] def codeArrays(resid: DataFrame,
      rcb: DataFrame): DataFrame = {
    // codes persist as signed bytes; past 127 the cast would wrap
    // negative and the probe's long-cast would silently miss every LUT
    // row for the wrapped codes — fail loudly if K ever drifts
    require(K <= 127,
      s"K=$K exceeds the signed-byte code range of the on-disk layout")
    encode(resid, "rv", rcb, Seq("cell"))
      .groupBy(col("vec_id"))
      .agg(first(col("cell")).as("cell"),
        transform(
          array_sort(collect_list(struct(col("subspace"), col("code")))),
          e => e.getField("code").cast("byte")).as("codes"))
  }

  /** Encode an arbitrary (vec_id, embedding) frame against a FROZEN
    * quantizer pair — no seed derivation, no training: cell
    * assignment, residual and codes all come from the given
    * centroids/codebook, which [[Layout.appendToIvfPq]] reads from an
    * existing index's sidecars. This is how the index GROWS at
    * 100 TB: new shards are coded by a corpus-×-broadcast(quantizer)
    * pass — shard-linear, nothing global recomputed — and the
    * quantizer stays frozen until a deliberate retrain rebuilds the
    * layout.
    */
  private[graft] def encodeAgainst(s: SparkSession, shard: DataFrame,
      centsSrc: DataFrame, rcb: DataFrame): DataFrame =
    codeArrays(Ann.residuals(Ann.assign(shard, centsSrc), centsSrc,
      "vec_id", "cv", "rv"), rcb)
}
