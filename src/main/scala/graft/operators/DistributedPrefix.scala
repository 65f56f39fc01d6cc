package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The distributed exclusive prefix sum shared by [[Pack.packChunks]]
  * (token offsets) and [[Curriculum.order]] (global ranks, weight 1).
  * The naive Spark form — `Window.orderBy(...)` with no partition key —
  * silently collapses the corpus into ONE task; this is the
  * scale-correct three-phase shape:
  *
  *   1. range-partition by the order columns and sort within
  *      partitions, so partition order = the requested total order;
  *   2. per-partition weight totals — one row PER PARTITION, a frame
  *      bounded by cluster parallelism, never data size — and their
  *      exclusive running sum = each partition's starting offset;
  *   3. broadcast the offsets back (pid equi-join — map-side,
  *      preserves the range partitioning and sort) and one streaming
  *      `mapPartitions` pass turns offset + per-row weights into the
  *      per-row exclusive prefix.
  *
  * Invariants callers inherit (kept in ONE place on purpose — both
  * consumers used to carry private copies of this scaffolding):
  *
  *   - The ranged frame is CACHED, so the sharing between the
  *     per-partition-totals subtree and the output subtree is
  *     STRUCTURAL: both scan one `InMemoryRelation`, whose batches
  *     preserve the range partitioning and the within-partition sort.
  *     The previous design left both subtrees as independent copies of
  *     the same exchange and gambled on Catalyst `ReuseExchange`
  *     pattern-matching them — which fails under a warm session's
  *     differing AQE state, silently re-running the ENTIRE upstream
  *     (for the capstone pipeline: the whole curate stage) a second
  *     time. Same discipline as `Dedup.semantic`'s assignment cache;
  *     at 100 TB the cache is the narrow (keys + weights) frame, not
  *     the corpus text. Spark's `CacheManager` keys on the
  *     canonicalized plan, so repeated runs of the same query reuse
  *     one entry instead of accumulating; a serving session keeps it
  *     while the dir's listing is unchanged ([[OperatorCaches]]).
  *     Pinned in PackSpec /
  *     PipelineSpec (reuse evidence = executed-plan nodes: no
  *     FileScan outside the cache, one outer range exchange).
  *   - The broadcast pid join must stay map-side: a shuffle here
  *     would destroy the within-partition sort the phase-3 counter
  *     relies on.
  *   - `Long.MinValue` seeds the running counter so an all-zero
  *     offset (first partition) is distinguishable from "unseeded".
  *
  * The `mapPartitions` is the genuine per-partition-imperative case: a
  * running sum seeded per partition has no declarative form that
  * avoids a second full shuffle. Everything stays distributed; the
  * only single-point state is the P-row offsets frame.
  */
object DistributedPrefix {

  /** `df` plus a non-null `outName` long column = the exclusive
    * prefix sum of `weight` (cast to long) in the total order given
    * by `orderCols` (which may carry sort direction / null ordering,
    * e.g. `asc_nulls_first`). Output rows keep `df`'s schema, in
    * range-partition order.
    */
  private[operators] def exclusiveSum(df: DataFrame, orderCols: Seq[
      org.apache.spark.sql.Column], weight: org.apache.spark.sql.Column,
      outName: String): DataFrame =
    exclusiveSums(df, orderCols, Seq((weight, outName)))

  /** Several exclusive prefix sums over the SAME total order in ONE
    * pass — one range exchange, one P-row offsets frame carrying all
    * the running counters, one phase-3 `mapPartitions`. The capstone
    * pipeline needs (position, token offset) together; two
    * `exclusiveSum` calls would rebuild the identical range shuffle
    * and fold twice.
    */
  private[operators] def exclusiveSums(df: DataFrame, orderCols: Seq[
      org.apache.spark.sql.Column],
      weights: Seq[(org.apache.spark.sql.Column, String)]): DataFrame =
    exclusiveSumsAndRel(df, orderCols, weights)._1

  /** [[exclusiveSums]] plus the CACHED ranged frame it is built on
    * (`df`'s columns + the cast weight columns `__w0..__w{k-1}`, in
    * range-partition order). Callers needing AUXILIARY aggregates
    * over the same total order — e.g. [[Pipeline.manifest]]'s
    * per-split rebase offsets — aggregate this frame directly:
    * aggregating the phase-3 OUTPUT instead would duplicate the
    * whole offsets join + `mapPartitions` pass over the corpus
    * (each consumer of the un-cached output re-executes it).
    */
  private[operators] def exclusiveSumsAndRel(df: DataFrame, orderCols: Seq[
      org.apache.spark.sql.Column],
      weights: Seq[(org.apache.spark.sql.Column, String)]): (DataFrame, DataFrame) = {
    require(weights.nonEmpty)
    val k = weights.length
    // case-insensitive (Spark's default resolution) and covering the
    // out names too: a duplicate output column or a case-variant "PID"
    // would corrupt the frame just as silently as an exact match
    val reserved = Set("pid") ++
      weights.indices.flatMap(i => Seq(s"__w$i", s"__t$i", s"__off$i"))
    val lower = df.columns.map(_.toLowerCase)
    require(!lower.exists(reserved), s"input columns collide with " +
      s"the helper's internals: ${df.columns.mkString(",")}")
    val outNames = weights.map(_._2)
    require(outNames.distinct.length == k, s"duplicate outName: $outNames")
    outNames.foreach { n =>
      require(!reserved(n.toLowerCase) && !lower.contains(n.toLowerCase),
        s"outName '$n' collides with an input or internal column")
    }
    val rel = weights.zipWithIndex.foldLeft(
      df.repartitionByRange(orderCols: _*)
        .sortWithinPartitions(orderCols: _*)) {
      case (d, ((w, _), i)) => d.withColumn(s"__w$i", w.cast("long"))
    }.cache()
    val totals = weights.indices.map(i => sum(col(s"__w$i")).as(s"__t$i"))
    val sums = rel.groupBy(spark_partition_id().as("pid"))
      .agg(totals.head, totals.tail: _*)
    val owin = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = sums.select(col("pid") +: weights.indices.map(i =>
      coalesce(sum(col(s"__t$i")).over(owin), lit(0L)).as(s"__off$i")): _*)
    val keep = df.columns
    val out = StructType(df.schema.fields ++
      weights.map { case (_, n) => StructField(n, LongType, nullable = false) })
    val result = rel.withColumn("pid", spark_partition_id())
      .join(broadcast(offs), "pid")
      .select(keep.map(col) ++ weights.indices.map(i => col(s"__w$i")) ++
        weights.indices.map(i => col(s"__off$i")): _*)
      .mapPartitions { it =>
        val run = Array.fill(k)(Long.MinValue)
        it.map { r =>
          val n = r.length
          val starts = new Array[Long](k)
          var i = 0
          while (i < k) {
            val w = r.getLong(n - 2 * k + i)
            val off = r.getLong(n - k + i)
            if (run(i) == Long.MinValue) run(i) = off
            starts(i) = run(i)
            run(i) += w
            i += 1
          }
          Row.fromSeq(r.toSeq.dropRight(2 * k) ++ starts)
        }
      }(Encoders.row(out))
    (result, rel)
  }
}
