package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Empty-shard robustness: a pipeline run against an empty arrival
  * (zero documents, schema intact) must yield empty results, not
  * throw — the operational case every scheduled ingestion hits.
  */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = Files.createTempDirectory("graft-empty").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      schema).write.parquet(s"$dir/documents.parquet")
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      embSchema).write.parquet(s"$dir/embeddings.parquet")
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      evSchema).write.parquet(s"$dir/events.parquet")
    // empty TPC-H tables for the relational-driven operators (schemas
    // from Tables.canonical so conform() is a no-op)
    Seq("customer", "orders", "lineitem", "nation", "supplier")
      .foreach { t =>
        val sch = StructType(graft.Tables.canonical(t).map {
          case (n, dt) => StructField(n, dt)
        })
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), sch)
          .write.parquet(s"$dir/$t.parquet")
      }
    dir
  }

  test("every documents-driven operator returns empty, never throws") {
    val ops: Seq[(String, () => Long)] = Seq(
      "pii_scrub" -> (() => Pii.scrub(spark, emptyDir).count()),
      "mix_sources" -> (() => Mix.mixSources(spark, emptyDir).count()),
      "mix_audit" -> (() => Mix.mixAudit(spark, emptyDir).count()),
      "dup_ngrams" -> (() => TextAnalysis.dupNgrams(spark, emptyDir).count()),
      "lm_score" -> (() => TextAnalysis.lmScore(spark, emptyDir).count()),
      "bpe_pairs" -> (() => TextAnalysis.bpePairs(spark, emptyDir).count()),
      "bpe_tokenize" -> (() => Bpe.tokenize(spark, emptyDir).count()),
      "curriculum" -> (() => Curriculum.order(spark, emptyDir).count()),
      "corpus_shuffle" -> (() => Shuffle.permute(spark, emptyDir).count()),
      "split_manifest" -> (() => Sampling.splitAudit(spark, emptyDir).count()),
      "pack_chunks" -> (() => Pack.packChunks(spark, emptyDir).count()),
      "pack_bins" -> (() => Pack.packBins(spark, emptyDir).count()),
      "dedup_incremental" -> (() => Dedup.incremental(spark, emptyDir).count()),
      "dedup_exact" -> (() => Dedup.exact(spark, emptyDir).count()),
      "quality" -> (() => TextAnalysis.quality(spark, emptyDir).count()),
      "langid" -> (() => TextAnalysis.langId(spark, emptyDir).count()),
      "fingerprint" -> (() => TextAnalysis.fingerprint(spark, emptyDir).count()),
      "bm25" -> (() => Retrieval.bm25Top(spark, emptyDir).count()),
      "bm25_multiterm" -> (() =>
        Retrieval.bm25MultiTop(spark, emptyDir).count()),
      "bm25_multiterm_and" -> (() =>
        Retrieval.bm25MultiAndTop(spark, emptyDir).count()),
      "bm25_phrase" -> (() =>
        Retrieval.bm25PhraseTop(spark, emptyDir).count()),
      "sq_codes_rows" -> (() => Sq.codesRows(spark, emptyDir).count()),
      "profile_categorical" -> (() =>
        Profile.profileCategorical(spark, emptyDir).count()),
      "text_cooccur_window" -> (() =>
        TextAnalysis.cooccurWindow(spark, emptyDir).count()),
      "hybrid" -> (() => Retrieval.hybridTopK(spark, emptyDir).count()),
      "sq_codes" -> (() => Sq.codes(spark, emptyDir).count()),
      "sq_topk" -> (() => Ann.search(spark, emptyDir, "ann_sq8_topk").count()),
      "ivfsq_topk" -> (() => Ann.search(spark, emptyDir, "ann_ivfsq_topk").count()),
      "ivf_filtered" -> (() =>
        Ann.search(spark, emptyDir, "ann_ivf_filtered_topk").count()),
      "drift_jsd" -> (() => Drift.sourceTokenJsd(spark, emptyDir).count()),
      "drift_entropy" -> (() => Drift.sourceEntropy(spark, emptyDir).count()),
      "weighted_sample" -> (() =>
        Sampling.weightedSample(spark, emptyDir).count()),
      "weighted_quota" -> (() =>
        Sampling.weightedQuota(spark, emptyDir).count()),
      "split_leakage_safe" -> (() =>
        Sampling.leakageSafeSplit(spark, emptyDir).count()),
      "split_contamination" -> (() =>
        Sampling.splitContamination(spark, emptyDir).count()),
      "snapshot_diff" -> (() =>
        Snapshot.snapshotDiff(spark, emptyDir).count()),
      "langid_confusion" -> (() =>
        TextAnalysis.langidConfusion(spark, emptyDir).count()),
      "bigram_pmi" -> (() => TextAnalysis.bigramPmi(spark, emptyDir).count()),
      "contamination_spans" -> (() =>
        TextAnalysis.contaminationSpans(spark, emptyDir).count()),
      "quality_sweep" -> (() =>
        TextAnalysis.qualitySweep(spark, emptyDir).count()),
      "dedup_cluster_sizes" -> (() =>
        Dedup.clusterSizes(spark, emptyDir).count()),
      "vocab_coverage" -> (() =>
        TextAnalysis.vocabCoverage(spark, emptyDir).count()),
      "zorder_keys" -> (() => Layout.zorderKeys(spark, emptyDir).count()),
      "skew_report" -> (() => Skew.skewReport(spark, emptyDir).count()),
      "events_decayed" -> (() =>
        Temporal.decayedCounts(spark, emptyDir).count()),
      "events_transitions" -> (() =>
        Temporal.eventTransitions(spark, emptyDir).count()),
      "events_mad" -> (() => Temporal.eventsMad(spark, emptyDir).count()),
      "events_gapfill" -> (() => Temporal.gapFill(spark, emptyDir).count()),
      "interval_join_binned" -> (() =>
        Temporal.intervalJoinBinned(spark, emptyDir).count()),
      "graph_pagerank" -> (() =>
        Graph.graphPagerank(spark, emptyDir).count()),
      "graph_pagerank_trade" -> (() =>
        Graph.graphPagerankTrade(spark, emptyDir).count()),
      "graph_roots" -> (() => Graph.graphRoots(spark, emptyDir).count()),
      "ivm_maintain" -> (() => Ivm.ivmMaintain(spark, emptyDir).count()),
      "basket_rules" -> (() => Basket.basketRules(spark, emptyDir).count()),
      "privacy_kanon" -> (() => Privacy.kanonAudit(spark, emptyDir).count()),
      "dedup_canonical" -> (() => Dedup.canonical(spark, emptyDir).count()),
      // r12 pack: behavior analytics, weighted graph, statistics
      "events_sessionize" -> (() =>
        Behavior.sessionize(spark, emptyDir).count()),
      "events_funnel_steps_users" -> (() =>
        // the 3 step rows survive with n_users = 0 — pin the counts
        Behavior.funnel(spark, emptyDir).collect()
          .map(_.getLong(2)).sum),
      "events_attribution" -> (() =>
        Behavior.attribution(spark, emptyDir).count()),
      "orders_cohort_retention" -> (() =>
        Behavior.cohortRetention(spark, emptyDir).count()),
      "events_stickiness" -> (() =>
        Behavior.stickiness(spark, emptyDir).count()),
      "graph_labelprop" -> (() =>
        Graph.graphLabelprop(spark, emptyDir).count()),
      "graph_sssp_reached" -> (() =>
        // the seed row is min(u) of an EMPTY edge set -> null node;
        // nothing must survive with a real node id
        Graph.graphSssp(spark, emptyDir)
          .filter(col("node").isNotNull).count()),
      "dq_benford" -> (() => DataQuality.benford(spark, emptyDir).count()),
      "profile_gini" -> (() => Profile.giniSpend(spark, emptyDir).count()),
      "text_bigram_lift" -> (() =>
        TextAnalysis.bigramLift(spark, emptyDir).count()),
      "ann_range_search" -> (() =>
        Ann.search(spark, emptyDir, "ann_range_search").count()),
      // r14 pack: frozen IVF-OPQ serving, frozen PQ readout, MJPEG
      // video decode, QAST frame verbs
      "ann_ivfopq_frozen_topk" -> (() =>
        Ann.search(spark, emptyDir, "ann_ivfopq_frozen_topk").count()),
      "ann_ivfopq_frozen_refined_topk" -> (() =>
        Ann.search(spark, emptyDir, "ann_ivfopq_frozen_refined_topk").count()),
      "pq_frozen_stats" -> (() =>
        Opq.pqFrozenStats(spark, emptyDir).count()),
      "media_video_decode" -> (() =>
        Multimodal.videoDecode(spark, emptyDir).count()),
      "qast_top_rollup" -> (() =>
        QastQueries.topRollup(spark, emptyDir).count()),
      "qast_top_rows" -> (() =>
        QastQueries.topRows(spark, emptyDir).count()),
      "qast_group_having" -> (() =>
        QastQueries.groupHaving(spark, emptyDir).count()),
      // r15 pack: convergence certs, frozen-PCA serving + spectrum,
      // profile sketch cert, QAST project
      "kmeans_converged_cert" -> (() =>
        KMeans.convergedCert(spark, emptyDir).count()),
      "pq_converged_cert" -> (() =>
        Opq.pqConvergedCert(spark, emptyDir).count()),
      "ann_pca_frozen_refined_topk" -> (() =>
        Ann.search(spark, emptyDir, "ann_pca_frozen_refined_topk").count()),
      "pca_frozen_variance" -> (() =>
        Pca.frozenVariance(spark, emptyDir).count()),
      "qast_project" -> (() =>
        QastQueries.projectRollup(spark, emptyDir).count()))
    ops.foreach { case (name, run) =>
      val n = try run() catch {
        case e: Throwable => fail(s"$name threw on empty input: $e")
      }
      assert(n == 0, s"$name returned $n rows on empty input")
    }
  }

  test("fixed-shape readouts keep their full row set on empty input " +
      "(zeros, not vanishing rows)") {
    // the frozen merge list has 12 ranks whether or not any fires —
    // the readout's SHAPE is part of its contract (and the oracle's
    // LEFT JOIN reproduces it)
    val stats = Bpe.frozenStats(spark, emptyDir).collect()
    assert(stats.length == Bpe.FrozenMerges.size,
      s"frozen-stats rows: ${stats.length}")
    assert(stats.forall(_.getAs[Long]("n_applied") == 0L))
    // the convergence certificate is one row always: zero merges
    // trained, threshold floor 2, vacuously capped/above, converged
    val cert = Bpe.convergedCert(spark, emptyDir).collect()
    assert(cert.length == 1)
    val c = cert.head
    assert(c.getAs[Long]("total_freq") == 0L &&
      c.getAs[Long]("min_count") == 2L &&
      c.getAs[Boolean]("n_merges_capped") &&
      c.getAs[Boolean]("all_above_threshold") &&
      c.getAs[Boolean]("converged"))
    // the profile cert is a global aggregation: one row per profiled
    // column always, n = 0, no throw from the 0/0 stddev (NaN is the
    // documented empty-corpus value, the same as profile_numeric's)
    val prof = Profile.profileScaleCert(spark, emptyDir).collect()
    assert(prof.length == 4, s"profile cert rows: ${prof.length}")
    assert(prof.forall(_.getAs[Long]("n") == 0L))
  }
}
