package graft

import org.apache.spark.sql.SparkSession

/** Recall audit for the approximate-ANN family at an arbitrary scale:
  * `runMain graft.RecallReport [sfDir]` measures recall@K of every
  * approximate top-k query against the exact brute-force neighbors on
  * the SAME corpus and prints one JSON line per variant plus a summary.
  *
  * Motivation: the spec-level recall pins run at sf0.001 (600 vectors);
  * clustered-data recall claims should hold at the scale the bench
  * grades (sf0.1, 60k vectors), where cell populations, code
  * collisions, and LSH bucket occupancy are all 100× denser. The
  * committed numbers live in SURVEY §13; re-run this main after any
  * quantizer change.
  *
  * Every variant emits (query_id, neighbor_id) — recall@K is
  * |approx ∩ exact| / (n_queries × K) pooled over all probe queries,
  * the standard ANN-benchmarks aggregation.
  */
object RecallReport {
  /** Approximate variants to audit: name → whether it is the trained
    * sibling of a seed quantizer (ordering for the report only).
    */
  val variants: Seq[String] = Seq(
    "ann_blocked_topk",
    "ann_lsh_topk",
    "ann_ivf_topk", "ann_ivf_trained_topk",
    "ann_sq8_topk", "ann_ivfsq_topk",
    "ann_pq_adc_topk", "ann_pq_trained_topk", "ann_opq_topk",
    "ann_pq_refined_topk", "ann_opq_refined_topk",
    // ann_pca_refined_topk (live basis) is retired from the graded
    // registry — measured here via the direct mapping below
    "ann_pca_refined_topk", "ann_pca_frozen_refined_topk",
    "ann_ivfpq_topk", "ann_ivfpq_trained_topk",
    "ann_ivfpq_refined_topk",
    // the frozen OPQ,IVF,PQ composition (r14): the pruned replacement
    // for the exhaustive frozen OPQ scan — its recall story at bench
    // scale belongs in the same report as the family it supersedes
    "ann_opq_frozen_topk", "ann_opq_frozen_refined_topk",
    "ann_ivfopq_frozen_topk", "ann_ivfopq_frozen_refined_topk")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // variants measured here that are no longer in the graded
    // registry (retired in favor of a hash-graded serving twin)
    val direct: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "ann_pca_refined_topk" ->
        ((s, d) => graft.operators.Ann.search(s, d,
          graft.operators.AnnSpec.pcaLiveRefined)))

    def audit(dir: String, corpus: String): Unit = {
      def pairs(name: String): Map[Long, Set[Long]] =
        SparkEntry.queries.getOrElse(name, direct(name))(spark, dir)
          .select("query_id", "neighbor_id").collect()
          .groupBy(_.getLong(0))
          .view.mapValues(_.map(_.getLong(1)).toSet).toMap

      val exact = pairs("ann_brute_topk")
      val denom = exact.valuesIterator.map(_.size).sum.toDouble
      val lines = variants.map { name =>
        val t0 = System.nanoTime()
        val got = pairs(name)
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        val hits = got.iterator.map { case (q, ns) =>
          exact.get(q).fold(0)(e => ns.count(e)) }.sum
        val recall = hits / denom
        val line = f"""{"query":"$name","corpus":"$corpus",""" +
          f""""recall_at_k":$recall%.4f,""" +
          f""""n_queries":${exact.size},"sec":$sec%.2f}"""
        println(line)
        name -> recall
      }
      val summary = lines.map { case (n, r) => f""""$n":$r%.4f""" }
        .mkString("{\"metric\":\"recall\",\"corpus\":\"" + corpus +
          "\",\"sf\":\"" + dir + "\",", ",", "}")
      println(summary)
    }

    // corpus 1: the driver's near-orthogonal table — the coarse
    // quantizer's worst case (recall bounded by cell-probing luck)
    audit(sfDir, "orthogonal")

    // corpus 2: planted clusters — the shape real embedding spaces
    // have, where TRAINED quantizers should (and measurably do) beat
    // their sampled-member seeds. nClusters matches the seed
    // quantizer's cell count (one id ≡ 5 mod 37 per 37 ids) so both
    // quantizers field the same C and the delta is quality, not size.
    val planted = java.nio.file.Files
      .createTempDirectory("graft-planted").toString
    ClusteredCorpus.write(spark, planted, 20000, 20000 / 37, 64, 0.5)
    audit(planted, "clustered")
    spark.stop()
  }
}
