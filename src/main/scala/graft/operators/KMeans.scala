package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load

/** Lloyd's k-means over the embedding corpus — the TRAINING half of
  * the IVF index whose probe half is `ann_ivf_topk` ([[AnnSpec]]): the same
  * deterministic seed set ([[Ann.centroids]] — sublinear stride) is
  * refined for [[Rounds]] iterations, after which [[Ann.cellAssignments]]'s
  * quantizer would use the trained centroids instead of raw seeds.
  *
  * Per round, entirely declarative (no driver action, unlike the
  * data-dependent `bpe_train` loop — the round count is FIXED, so the
  * whole training is one Catalyst DAG):
  *
  *   1. assignment: corpus × broadcast(centroids) scored by cosine,
  *      argmax folded by `max_by` at the groupBy grain — map-side
  *      combine means the shuffle carries one (vec_id, cell) row per
  *      vector, never the N×C scored pairs (the
  *      [[Ann.cellAssignments]] shape);
  *   2. update: per-(cell, dim) means via posexplode + two-phase agg,
  *      re-assembled into centroid arrays by a dim-sorted collect.
  *
  * Determinism: every floating sum folds a SORTED list
  * (`aggregate(array_sort(collect_list(x)))`), so the addition order —
  * and therefore the trained centroids, double-run byte-identical —
  * is pinned regardless of partitioning. The per-(cell,dim) sorted
  * collect (state = cell population) exists for that EXACT
  * sequential-replay spec; the 100 TB mode is
  * [[trainedCentroidsScale]] — plain two-phase `avg`, O(1) state,
  * fp-tolerance reproducible, pinned against the exact mode in
  * `KMeansSpec`. Cells that lose all members drop (standard Lloyd's
  * degeneracy; the seed count is scale-proportional so locally it
  * doesn't occur — `KMeansSpec` pins that too).
  *
  * Output: one row per surviving cell — member count, mean member
  * cosine to the trained centroid (the inertia analog, higher =
  * tighter), centroid norm. Rows-only query: the loop has a fixed SQL
  * form in principle but 3 unrolled rounds of sorted-fold means are
  * beyond what a readable oracle buys; `KMeansSpec` replays the whole
  * training sequentially and compares bit-for-bit.
  */
object KMeans {

  /** Fixed Lloyd's rounds — enough to move every centroid off its
    * seed while keeping the unrolled plan shallow.
    */
  val Rounds = 3

  /** (vec_id, cell, cos, v): each vector's argmax-cosine cell under
    * `cents`, ties to the smallest cent_id, plus its cosine there.
    */
  private def assign(corpus: DataFrame, cents: DataFrame): DataFrame =
    corpus.join(broadcast(cents))
      .withColumn("cs", Dedup.cosine(col("embedding"), col("cvec")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"), struct(col("cs"), -col("cent_id")))
        .as("cell"),
        max(col("cs")).as("cos"),
        first(col("embedding")).as("v"))

  /** (cent_id, cvec) after [[Rounds]] Lloyd's iterations — the
    * trained quantizer `ann_ivf_trained_topk` probes with.
    * The result is COLLECTED into a local relation before returning:
    * the quantizer is ~corpus/37 tiny rows while its lineage is the
    * full 3-round corpus-wide training DAG, and every downstream
    * consumer references the centroid frame at least twice (assign +
    * audit/probe branches) — an uncollected frame would re-run the
    * entire training once per branch (the differing projections
    * defeat ReuseExchange). Same discipline as `Bpe.trainedMerges`:
    * training runs exactly once, consumers broadcast ~100 rows.
    */
  def trainedCentroids(s: SparkSession, dir: String): DataFrame =
    trainedCentroidsMode(s, dir, orderFree = false)

  /** The 100 TB training mode: per-(cell, dim) means as plain
    * two-phase `avg` — partial (sum, count) per partition, one merged
    * pair per (cell, dim) after the shuffle, so aggregation state is
    * O(1) regardless of cell population, where the exact mode's
    * sorted collect is O(members). The price is addition-order
    * dependence of the last ulp (float summation is non-associative);
    * `KMeansSpec` pins the two modes within 1e-6 per dimension (after
    * the float cast) with the same surviving cell set on this corpus,
    * so the trained quantizer is interchangeable — pick exact for
    * replay-testable determinism, scale for bounded executor state.
    */
  def trainedCentroidsScale(s: SparkSession, dir: String): DataFrame =
    trainedCentroidsMode(s, dir, orderFree = true)

  private def trainedCentroidsMode(s: SparkSession, dir: String,
      orderFree: Boolean): DataFrame = {
    import s.implicits._
    // session-memoized: the collected quantizer (~corpus/37 rows) is
    // deterministic per (dir listing, mode), so the 3-round corpus
    // training runs once per listing however many trained consumers
    // (IVF probe, residual coder, layout writer) ask for it
    val rows = OperatorCaches.trainedMemo(dir -> s"kmeans|$orderFree") {
      val corpus = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      var cents = Ann.centroids(s, dir) // (cent_id, cvec) seeds
      for (_ <- 1 to Rounds) {
        val dims = assign(corpus, cents)
          .select(col("cell"), posexplode(col("v")).as(Seq("d", "x")))
        val mean =
          if (orderFree) avg(col("x").cast("double"))
          else aggregate(array_sort(collect_list(col("x").cast("double"))),
            lit(0.0), (a, b) => a + b) / count(lit(1))
        val means = dims.groupBy(col("cell"), col("d")).agg(mean.as("m"))
        cents = means.groupBy(col("cell"))
          .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("dm"))
          .select(col("cell").as("cent_id"),
            transform(col("dm"), e => e.getField("m").cast("float"))
              .as("cvec"))
      }
      cents.as[(Long, Array[Float])].collect().toSeq
    }
    rows.toDF("cent_id", "cvec")
  }

  /** Graded `kmeans_frozen_stats`: [[train]]'s per-cell statistics
    * under the FROZEN quantizer ([[FrozenAnn.ivfCentroids]] — the
    * committed literal output of [[trainedCentroids]] at sf0.01).
    * Because the centroids are literals, the assignment argmax and the
    * per-cell readout (member count, mean member cosine) replay in
    * DuckDB — hash-grading the trainer's SERVE semantics, where
    * `kmeans_train` itself stays rows-only (live training has no SQL
    * twin; KMeansSpec replays it bit-for-bit instead). Mean cosine is
    * exact: 6dp-rounded cosines summed in DECIMAL, ONE IEEE division
    * at the end.
    *
    * Scale shape: corpus × broadcast(C literals) scored, argmax folded
    * map-side at vec grain, then a C-row aggregation.
    */
  def frozenStats(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .join(broadcast(FrozenAnn.ivfCentroidFrame(s)))
      .withColumn("cs", Dedup.cosine(col("embedding"), col("cvec")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"), struct(col("cs"), -col("cent_id")))
        .as("cell"), max(col("cs")).as("cos"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(round(col("cos"), 6).cast("decimal(38,6)"))
          .cast("double") / count(lit(1)), 6).as("mean_cos"))
      .orderBy(col("cell"))

  /** Pinned stationarity bound for [[convergedCert]]: the measured
    * max per-cell Lloyd's-update displacement of the frozen quantizer
    * on its own training corpus (0.0498 at sf0.01, cells spanning
    * 0.0–0.0498 against centroid coordinates of O(0.05–0.1)), plus
    * ~20% headroom. The frozen centroids are [[Rounds]]-round
    * outputs, not a fixed point — the cert claims the training MOVED
    * the quantizer to near-stationarity (one more update step
    * displaces every centroid by at most this), which a trainer or
    * freeze regression breaks long before it breaks a recall number.
    */
  val StationarityBound = 0.06

  /** Graded `kmeans_converged_cert`: the CONVERGENCE CERTIFICATE of
    * the k-means trainer — the `bpe_converged_cert` recipe applied to
    * Lloyd's. From the committed frozen centroids
    * ([[FrozenAnn.ivfCentroids]]), re-derive the assignment from
    * scratch, then grade per cell:
    *
    *   - `n_members`: the cell's population under the frozen argmax
    *     (oracle recomputes it exactly — same literals, same argmax);
    *   - `residual`: the EXACT stationarity residual — the L2 norm of
    *     (mean of assigned members − frozen centroid), i.e. how far
    *     one more Lloyd's update would move this centroid. Per-dim
    *     means are 7dp-rounded member coordinates summed in DECIMAL
    *     with ONE IEEE division; squared diffs 14dp-rounded and
    *     DECIMAL-summed, so both engines fold the identical numbers;
    *   - `stationary`: residual ≤ [[StationarityBound]] — the pinned
    *     claim the live computation must earn (the `within_tol`
    *     discipline of `media_video_decode`).
    *
    * The trained centroid VALUES stay rows-only (`kmeans_train`);
    * this row set makes the trainer's termination QUALITY
    * hash-graded: a regression that ships an under-trained quantizer
    * flips booleans and fails the driver compare.
    *
    * Scale shape: corpus × broadcast(C literals) argmax folded
    * map-side, then a (C·dims)-row aggregation — no stage carries
    * more than corpus rows.
    */
  def convergedCert(s: SparkSession, dir: String): DataFrame = {
    val cents = FrozenAnn.ivfCentroidFrame(s)
    val assigned = load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .join(broadcast(cents))
      .withColumn("cs", Dedup.cosine(col("embedding"), col("cvec")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"), struct(col("cs"), -col("cent_id")))
        .as("cell"), first(col("embedding")).as("v"))
    val means = assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("cell"), col("d"))
      .agg((sum(round(col("x").cast("double"), 7).cast("decimal(38,7)"))
        .cast("double") / count(lit(1))).as("m"),
        count(lit(1)).as("n"))
    val centDims = cents.select(col("cent_id").as("cell"),
      posexplode(col("cvec")).as(Seq("d", "c")))
    means.join(broadcast(centDims), Seq("cell", "d"))
      .withColumn("dd", col("m") - round(col("c").cast("double"), 7))
      .groupBy(col("cell"))
      .agg(first(col("n")).as("n_members"),
        round(sqrt(sum(round(col("dd") * col("dd"), 14)
          .cast("decimal(38,14)")).cast("double")), 6).as("residual"))
      .withColumn("stationary", col("residual") <= lit(StationarityBound))
      .orderBy(col("cell"))
  }

  def train(s: SparkSession, dir: String): DataFrame = {
    val corpus = load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = trainedCentroids(s, dir)
    assign(corpus, cents)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        round(aggregate(array_sort(collect_list(col("cos"))), lit(0.0),
          (a, b) => a + b) / count(lit(1)), 6).as("mean_cos"))
      .join(cents.select(col("cent_id").as("cell"),
        round(sqrt(graft.functions.vecDot(col("cvec"), col("cvec"))), 6)
          .as("c_norm")), "cell")
      .orderBy(col("cell"))
  }
}
