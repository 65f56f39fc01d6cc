package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.load

/** Corpus-drift measurement: distributional statistics that tell a
  * curator whether two slices of a corpus (sources here; shards,
  * snapshots or time windows at scale) are exchangeable BEFORE mixing
  * them — the check a pipeline runs when a new crawl lands. Divergence
  * between unigram distributions is the standard first-order signal
  * (Jensen-Shannon because it is symmetric, bounded in [0,1] bits, and
  * defined even where supports differ — KL is neither).
  *
  * Scale shape: everything reduces to token-count aggregations
  * (map-side combinable, output is vocab-sized ≪ corpus) and
  * vocab-sized equi-joins. The pair frame is |sources|²/2 rows —
  * broadcast by construction. Nothing quadratic in the corpus.
  */
object Drift {

  /** Per-source unigram probabilities: one corpus scan, map-side
    * combined to (source, token, n), then a per-source total join.
    * The probability is ONE IEEE division of two exact longs, so it
    * is bit-identical on any engine.
    */
  private def sourceProbs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // CACHED: both JSD join legs and the entropy/total consumers read
    // this vocab-sized frame; uncached each would re-scan and
    // re-explode the corpus. Plan-keyed CacheManager shares one entry
    // across calls, kept across requests under the [[OperatorCaches]]
    // lifecycle.
    val counts = load(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .cache()
    val totals = counts.groupBy(col("source")).agg(sum(col("n")).as("tot"))
    val probs = counts.join(totals, "source")
      .select(col("source"), col("tok"),
        col("n").cast("double") / col("tot").cast("double"))
      .toDF("source", "tok", "p")
    (probs, totals)
  }

  /** Pairwise Jensen-Shannon divergence (bits) between the unigram
    * distributions of every source pair, plus the union-vocabulary
    * size. JSD(P,Q) = ½·Σ p·log₂(2p/(p+q)) + ½·Σ q·log₂(2q/(p+q)),
    * with absent tokens contributing their defined limit 0.
    *
    * The per-pair token union is a FULL OUTER equi-join on
    * (pair, token) of the two broadcast-pair-tagged probability
    * frames — the only join that touches vocab-sized data, and it
    * stays an equi-join at any corpus size. log₂ is written as
    * ln/ln 2 in both engines so the two evaluate the same form; the
    * final sum is rounded to 6 decimals (FP accumulation error across
    * a vocab-sized sum is ~1e-12, six orders below the rounding
    * grain).
    */
  def sourceTokenJsd(s: SparkSession, dir: String): DataFrame = {
    val (probs, totals) = sourceProbs(s, dir)
    val pairs = totals.select(col("source").as("sa"))
      // broadcast pinned on the right factor: both factors are the
      // same tiny distinct-sources frame, so without the hint AQE
      // picks the nested-loop build side from byte-level noise
      // between two near-equal runtime stats — a BuildLeft/BuildRight
      // coin flip that executes identically but flips the bench's
      // plan fingerprint
      .crossJoin(broadcast(totals.select(col("source").as("sb"))))
      .filter(col("sa") < col("sb"))
    val left = probs.join(broadcast(pairs), col("source") === col("sa"))
      .select(col("sa"), col("sb"), col("tok"), col("p"))
    val right = probs.join(broadcast(pairs), col("source") === col("sb"))
      .select(col("sa"), col("sb"), col("tok"), col("p").as("q"))
    val ln2 = log(lit(2.0))
    left.join(right, Seq("sa", "sb", "tok"), "full_outer")
      .na.fill(0.0, Seq("p", "q"))
      .withColumn("contrib",
        when(col("p") > 0,
          col("p") * (log(lit(2.0) * col("p") / (col("p") + col("q"))) / ln2))
          .otherwise(lit(0.0)) / 2 +
        when(col("q") > 0,
          col("q") * (log(lit(2.0) * col("q") / (col("p") + col("q"))) / ln2))
          .otherwise(lit(0.0)) / 2)
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_union_vocab"),
        round(sum(col("contrib")), 6).as("jsd_bits"))
      .orderBy(col("sa"), col("sb"))
  }

  /** JSD (bits) between two unigram-probability frames with columns
    * (tok, p) and (tok, q) — the two-distribution core that
    * [[sourceTokenJsd]] applies pairwise and the streaming monitor
    * ([[graft.streaming.DriftStream]]) applies per micro-batch. One
    * FULL OUTER equi-join on the token plus one scalar aggregation.
    */
  def jsdBetween(pf: DataFrame, qf: DataFrame): Double = {
    val ln2 = log(lit(2.0))
    val joined = pf.join(qf, Seq("tok"), "full_outer")
      .na.fill(0.0, Seq("p", "q"))
      .withColumn("contrib",
        when(col("p") > 0,
          col("p") * (log(lit(2.0) * col("p") / (col("p") + col("q"))) / ln2))
          .otherwise(lit(0.0)) / 2 +
        when(col("q") > 0,
          col("q") * (log(lit(2.0) * col("q") / (col("p") + col("q"))) / ln2))
          .otherwise(lit(0.0)) / 2)
      .agg(coalesce(sum(col("contrib")), lit(0.0)))
    joined.head.getDouble(0)
  }

  /** Unigram probabilities of one (doc_id, text) frame: (tok, p).
    * The reference-distribution builder for the streaming monitor.
    */
  def unigramProbs(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("tot"))
    counts.crossJoin(broadcast(tot))
      .select(col("tok"),
        (col("n").cast("double") / col("tot").cast("double")).as("p"))
  }

  /** Kolmogorov–Smirnov drift on a NUMERIC feature (document length):
    * for each source pair, the max absolute CDF gap over doc-length
    * distributions — the companion to [[sourceTokenJsd]] for
    * numeric-feature drift (a source whose length distribution walks
    * is re-chunked or truncated even when its vocabulary holds).
    *
    * Exactness: each CDF point is one division of exact integers;
    * the step functions align by a FULL OUTER equi-join on (pair,
    * value) with window forward-fill, and only the MAX gap is
    * emitted (ulp-level ties in the max can't change the value).
    *
    * Scale shape: the corpus collapses to (source, length, n) counts
    * first; everything after runs on that value-sized frame with
    * per-pair windows. For continuous features at 100 TB, quantize
    * the feature into bins first — the shape is unchanged.
    */
  def lengthKs(s: SparkSession, dir: String): DataFrame = {
    val counts = load(s, dir, "documents")
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
      .cache()
    val totals = counts.groupBy(col("source")).agg(sum(col("c")).as("tot"))
    val wCdf = Window.partitionBy(col("source")).orderBy(col("n_chars"))
    val cdf = counts
      .withColumn("cum", sum(col("c")).over(wCdf))
      .join(totals, "source")
      .select(col("source"), col("n_chars"),
        (col("cum").cast("double") / col("tot").cast("double")).as("cdf"))
    val pairs = totals.select(col("source").as("sa"))
      // broadcast pinned on the right factor: both factors are the
      // same tiny distinct-sources frame, so without the hint AQE
      // picks the nested-loop build side from byte-level noise
      // between two near-equal runtime stats — a BuildLeft/BuildRight
      // coin flip that executes identically but flips the bench's
      // plan fingerprint
      .crossJoin(broadcast(totals.select(col("source").as("sb"))))
      .filter(col("sa") < col("sb"))
    val left = cdf.join(broadcast(pairs), col("source") === col("sa"))
      .select(col("sa"), col("sb"), col("n_chars"), col("cdf").as("cdf_a"))
    val right = cdf.join(broadcast(pairs), col("source") === col("sb"))
      .select(col("sa"), col("sb"), col("n_chars"), col("cdf").as("cdf_b"))
    val wFill = Window.partitionBy(col("sa"), col("sb"))
      .orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    left.join(right, Seq("sa", "sb", "n_chars"), "full_outer")
      .withColumn("fa", coalesce(
        last(col("cdf_a"), ignoreNulls = true).over(wFill), lit(0.0)))
      .withColumn("fb", coalesce(
        last(col("cdf_b"), ignoreNulls = true).over(wFill), lit(0.0)))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_points"),
        round(max(abs(col("fa") - col("fb"))), 6).as("ks"))
      .orderBy(col("sa"), col("sb"))
  }

  /** Per-source Shannon entropy of the unigram distribution (bits) —
    * the diversity dial next to the divergence: a source whose
    * entropy collapses between snapshots got templated/boilerplated
    * even if its vocabulary didn't move. One vocab-sized aggregation
    * per source; H = −Σ p·log₂ p with the same ln/ln 2 form and
    * 6-decimal rounding as [[sourceTokenJsd]].
    */
  def sourceEntropy(s: SparkSession, dir: String): DataFrame = {
    val (probs, totals) = sourceProbs(s, dir)
    val ln2 = log(lit(2.0))
    probs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        round(-sum(col("p") * (log(col("p")) / ln2)), 6).as("entropy_bits"))
      .join(totals, "source")
      .select(col("source"), col("tot").as("n_tokens"), col("vocab"),
        col("entropy_bits"))
      .orderBy(col("source"))
  }
}
