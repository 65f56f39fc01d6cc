package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Golden outputs of the nearest-neighbor family: for every
  * DuckDB-oracled family query, its row count and an order-insensitive
  * hash of its rows at sf0.001, recorded from the per-variant
  * implementation the [[AnnSpec]] pipeline replaced. The DuckDB oracle
  * runs outside the test suite (`graft.Verify` + `tools/verify_local.py`),
  * so without these pins no suite fails when a refactor changes a
  * graded row.
  *
  * Left out: the rows-only queries (trained models — their float folds
  * depend on the partition count, which varies by host), listed in
  * [[rowsOnly]] so the two lists together cover the family.
  */
class AnnGoldenSpec extends SparkSpec {

  private val golden: Map[String, (Long, String)] = Map(
    "ann_blocked_topk" -> ((25L, "7f0660b4886bb6d8")),
    "ann_brute_topk" -> ((25L, "7f0660b4886bb6d8")),
    "ann_ivf_filtered_topk" -> ((25L, "2f1e97739a0e6a21")),
    "ann_ivf_frozen_topk" -> ((25L, "a54ee1b4b0cef7a8")),
    "ann_ivf_topk" -> ((25L, "65712c86987ccd4a")),
    "ann_ivfopq_frozen_refined_topk" -> ((25L, "090d8c59d65d957e")),
    "ann_ivfopq_frozen_topk" -> ((25L, "a6bf5d3a71224a06")),
    "ann_ivfpq_frozen_topk" -> ((25L, "2b1f8b07df4f51d6")),
    "ann_ivfpq_refined_topk" -> ((25L, "d37f3d9f815c57c4")),
    "ann_ivfpq_topk" -> ((25L, "d29d34b552e9158e")),
    "ann_ivfsq_topk" -> ((25L, "858ca90182be35e9")),
    "ann_lsh_md5_topk" -> ((25L, "739075d2fc6afb65")),
    "ann_lsh_scaled_topk" -> ((25L, "739075d2fc6afb65")),
    "ann_mmr_topk" -> ((25L, "80d627fd8ca4f319")),
    "ann_opq_frozen_refined_topk" -> ((25L, "7ebf4e6df7df7810")),
    "ann_opq_frozen_topk" -> ((25L, "a8d3a79995b0b83c")),
    "ann_pca_frozen_refined_topk" -> ((25L, "b1f2f614776aaa00")),
    "ann_pq_adc_topk" -> ((25L, "cd751b9aea733d08")),
    "ann_pq_refined_topk" -> ((25L, "ca9e096d1b6ff1ff")),
    "ann_range_search" -> ((0L, "e3b0c44298fc1c14")),
    "ann_range_search_blocked" -> ((0L, "e3b0c44298fc1c14")),
    "ann_sq8_topk" -> ((25L, "e8fdbf8d9a743044")),
    "embed_stats" -> ((10L, "db43772d61f06deb")),
    "embed_stats_scale" -> ((10L, "db43772d61f06deb")),
    "ivf_index_stats" -> ((1L, "70b9b1a399640320")),
    "kmeans_converged_cert" -> ((14L, "b6fca5e15639f8c2")),
    "kmeans_frozen_stats" -> ((14L, "7483a6c1142aa56b")),
    "pca_covariance" -> ((136L, "6db972abfc04ac42")),
    "pca_frozen_project" -> ((500L, "198b2231b511ce25")),
    "pca_frozen_variance" -> ((8L, "33e1b42bb8621d38")),
    "pca_variance_2d" -> ((1L, "c2e6ab1217539a32")),
    "pq_codes" -> ((4000L, "f0760678f170fd16")),
    "pq_converged_cert" -> ((128L, "1c0d02f24fce3de8")),
    "pq_frozen_stats" -> ((128L, "b123ed11304f257e")),
    "sq_codes" -> ((32000L, "4d7939ce76d6897e")))

  private val rowsOnly = Set("ann_ivf_trained_topk", "ann_ivfpq_trained_topk",
    "ann_lsh_topk", "ann_opq_refined_topk", "ann_opq_topk",
    "ann_pq_trained_topk", "kmeans_train", "pca_project", "pca_variance",
    "pq_train")

  /** (rows, hash): each row's columns cast to string and joined, sha-256
    * per row, the sorted row hashes digested together.
    */
  private def fingerprint(df: DataFrame): (Long, String) = {
    val row = concat_ws("\u0001", df.columns.toSeq.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val hashes = df.select(sha2(row, 256)).collect().map(_.getString(0)).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    hashes.foreach(h => md.update(h.getBytes("UTF-8")))
    (hashes.length.toLong, md.digest().take(8).map(b => f"$b%02x").mkString)
  }

  test("the pins cover exactly the oracled family queries") {
    assert(golden.keySet.forall(SparkEntry.oracleSql.contains))
    assert(rowsOnly.forall(n => SparkEntry.queries.contains(n) &&
      !SparkEntry.oracleSql.contains(n)))
    assert(AnnSpec.table.map(_._1).toSet.subsetOf(golden.keySet ++ rowsOnly))
  }

  golden.toSeq.sortBy(_._1).foreach { case (name, expected) =>
    test(s"$name: rows and row hash unchanged") {
      assert(fingerprint(SparkEntry.queries(name)(spark, sf)) == expected)
    }
  }
}
