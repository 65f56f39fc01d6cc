package graft

import org.apache.spark.sql.SparkSession

/** Deterministic planted-cluster embedding corpus — the adversary's
  * complement: the driver's synthetic `embeddings` table is
  * near-orthogonal (i.i.d. coordinates), the WORST case for coarse
  * quantizers, where SURVEY §13.19 could only argue "real embeddings
  * cluster, training pays there". This generator turns that argument
  * into a measurement: `nClusters` Gaussian clusters with uniform
  * [-1, 1]^dim centers and per-coordinate noise `sigma`, sized so a
  * cluster's members are mutual nearest neighbors but a MEMBER makes a
  * poor centroid (its own noise displaces the Voronoi cell) while the
  * cluster MEAN makes a good one — exactly the gap Lloyd's training
  * closes over the sampled-member seed quantizer
  * ([[operators.KMeans.trainedCentroids]] vs
  * [[operators.Ann.centroids]]).
  *
  * Everything is a pure function of (id, cluster): centers and noise
  * draw from per-key-seeded `java.util.Random`, so any engine, any
  * partitioning, any rerun writes the identical corpus — same schema
  * as the driver's table (vec_id long, embedding array<float>,
  * label int = the true cluster, enabling labeled audits).
  *
  * Used by [[RecallReport]] (the committed two-corpus recall table)
  * and the SimilaritySpec trained-beats-seed pin.
  */
object ClusteredCorpus {

  def write(s: SparkSession, dir: String, nVecs: Int, nClusters: Int,
      dim: Int, sigma: Double): Unit = {
    import s.implicits._
    val rows = s.range(0L, nVecs.toLong).map { id =>
      val c = (id % nClusters).toInt
      val cr = new java.util.Random(c.toLong * 7919L + 13L)
      val center = Array.fill(dim)(cr.nextDouble() * 2 - 1)
      val vr = new java.util.Random(id * 1000003L + 7L)
      val emb = center.map(x => (x + vr.nextGaussian() * sigma).toFloat)
      (id, emb, c)
    }.toDF("vec_id", "embedding", "label")
    rows.repartition(8).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
  }
}
