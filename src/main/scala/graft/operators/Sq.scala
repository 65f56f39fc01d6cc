package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load

/** Scalar quantization (SQ8) — the second standard vector-compression
  * family next to product quantization ([[Pq]]), and the one real
  * deployments reach for first (FAISS `SQ8`, the float16/int8 tiers
  * of every vector DB): each DIMENSION is quantized independently to
  * an 8-bit level on a per-dimension [min, max] grid learned from the
  * corpus in ONE aggregation. 4× smaller than raw float32, "training"
  * is a min/max scan, decode is two flops — the right trade when PQ's
  * codebook machinery is overkill or when decode must stay on the
  * hot path. Contrast with PQ: SQ compresses 4× with near-exact
  * distances (grid error per dim), PQ compresses 32× with codebook
  * error; production stacks often layer them (OPQ/SQ hybrids).
  *
  * Everything here is deterministic floor/min/max arithmetic, so BOTH
  * the codes and the full compressed-domain search are hash-oracled
  * in DuckDB (`sq_codes`, `ann_sq8_topk`) — unlike PQ, whose trained
  * variants are rows-only, SQ8's entire pipeline has a right answer.
  *
  * Scale shapes: the grid is a 64-row broadcast (one (min, max) per
  * dimension — two-phase agg, O(1) state); encoding is one
  * corpus × broadcast(grid) narrow pass, shuffling M nothing (codes
  * collapse per vector with a sorted collect bounded by dim count);
  * search ([[AnnSpec]] coder `Sq8`) reads the 64-byte codes,
  * reconstructs midpoints inline and ranks exactly like the raw
  * scan — the scan is 4× lighter than raw, the plan identical.
  */
object Sq {

  /** Quantization levels per dimension (8-bit). */
  val Levels = 256

  /** Per-dimension grid: (d, dmin, dmax) — 64 rows, broadcast by
    * every consumer. Degenerate dimensions (dmax == dmin) quantize to
    * code 0 and reconstruct to the midpoint of a zero-width cell.
    */
  private[operators] def dimStats(s: SparkSession,
      dir: String): DataFrame =
    // cached: 64 rows, but every consumer (codes, dequantize — twice
    // per dequantized plan) otherwise pays its own corpus scan to
    // re-derive the grid; plan-keyed, shared across the SQ queries
    load(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy(col("d").cast("long").as("d"))
      .agg(min(col("x").cast("double")).as("dmin"),
        max(col("x").cast("double")).as("dmax"))
      .cache()

  /** Per-(vector, dimension) codes, pre-collapse: (vec_id, d, code)
    * with code = clamp(floor((x − dmin)/(dmax − dmin) · 256), 0, 255).
    * Floor (not round) keeps the bucket rule identical across engines
    * — round() half-way ties are where cross-engine hashes die.
    */
  private def dimCodes(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d").cast("long").as("d"),
        col("x").cast("double").as("x"))
      .join(broadcast(dimStats(s, dir)), Seq("d"))
      .select(col("vec_id"), col("d"),
        when(col("dmax") === col("dmin"), lit(0L))
          .otherwise(least(lit(255L),
            floor((col("x") - col("dmin")) / (col("dmax") - col("dmin"))
              * lit(256.0)).cast("long"))).as("code"))

  /** The compressed corpus: (vec_id, codes: array<bigint> in dimension
    * order) — the API form consumers (the IVF-SQ8 layout) want.
    */
  def codes(s: SparkSession, dir: String): DataFrame =
    dimCodes(s, dir)
      .groupBy(col("vec_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("d"), col("code")))),
        e => e.getField("code")).as("codes"))
      .orderBy(col("vec_id"))

  /** The same codes in exploded scalar shape (vec_id, d, code) — the
    * `sq_codes` query deliverable. Array-typed output columns break
    * the driver's pandas-based row sort (unhashable ndarray), so the
    * graded query emits one row per (vector, dimension) exactly like
    * `pq_codes`; [[codes]] stays the array-shaped API.
    */
  def codesRows(s: SparkSession, dir: String): DataFrame =
    dimCodes(s, dir).orderBy(col("vec_id"), col("d"))

  /** Midpoint-reconstructed corpus: (vec_id, dv: array<float> in
    * dimension order) — the SQ8 coder of [[AnnSpec]] (`ann_sq8_topk`,
    * `ann_ivfsq_topk`).
    */
  private[operators] def dequantized(s: SparkSession,
      dir: String): DataFrame =
    reconstruct(dimCodes(s, dir), dimStats(s, dir))

  /** Midpoint reconstruction of STORED code arrays against a grid
    * frame — the sidecar-driven decode the on-disk probe runs
    * ([[Layout.ivfSqProbe]]); the same arithmetic as [[dequantized]],
    * so results over persisted codes are row-identical to the in-query
    * search.
    */
  private[operators] def dequantizeAgainst(codes: DataFrame,
      grid: DataFrame): DataFrame =
    reconstruct(codes
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("d", "code")))
      .select(col("vec_id"), col("d").cast("long").as("d"), col("code")),
      grid)

  /** (vec_id, d, code) codes → (vec_id, dv): deq_d = dmin + (code +
    * 0.5)·(dmax − dmin)/256, cast to float so both engines land the
    * identical IEEE value and the codegen'd `vec_dot` fast path applies.
    */
  private def reconstruct(codes: DataFrame, grid: DataFrame): DataFrame =
    codes
      .join(broadcast(grid), Seq("d"))
      .select(col("vec_id"), col("d"),
        (col("dmin") + (col("code") + lit(0.5))
          * (col("dmax") - col("dmin")) / lit(256.0))
          .cast("float").as("xq"))
      .groupBy(col("vec_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("d"), col("xq")))),
        e => e.getField("xq")).as("dv"))
}
