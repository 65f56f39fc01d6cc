package graft.operators

import graft.SparkSpec

/** BM25 retrieval: the score exactness is DuckDB-oracled
  * (`bm25_topk`); here the shape and ranking contracts, plus the
  * derived-query rule the oracle encodes but can't explain.
  */
class RetrievalSpec extends SparkSpec {

  test("on-disk inverted index: probe equals the in-query operator " +
      "row for row and prunes to the query terms' buckets") {
    val out = java.nio.file.Files.createTempDirectory("bm25_idx").toString
    Retrieval.writeBm25Index(spark, sf, out)

    val probe = Retrieval.bm25Probe(spark, out)
    val got = probe.collect().map(_.toSeq).toSeq
    val want = Retrieval.bm25Top(spark, sf).collect().map(_.toSeq).toSeq
    assert(got == want)

    // planning-time pruning: the postings scan reads only the query
    // terms' buckets' files
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scan = outerPlanNodes(probe.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec
        if f.output.exists(_.name == "tf") => f }.head
    assert(scan.partitionFilters.nonEmpty,
      s"postings scan carries no partition filter: $scan")
    val filesRead = scan.metrics("numFiles").value
    val totalFiles = spark.read.parquet(out).inputFiles.length
    assert(filesRead < totalFiles,
      s"probe read $filesRead of $totalFiles files — nothing pruned")

    // explicit-terms probing agrees with the derived-workload ranking
    val term = want.head.head.asInstanceOf[String]
    val one = Retrieval.bm25Probe(spark, out, Seq(term))
      .collect().map(_.toSeq).toSeq
    assert(one == want.filter(_.head == term))

    // the multi-term OR probe: same lexicon-derived workload, same
    // sorted-sum scoring, row-identical to the in-query operator, and
    // still bucket-pruned
    val multi = Retrieval.bm25MultiProbe(spark, out)
    val gotMulti = multi.collect().map(_.toSeq).toSeq
    val wantMulti = Retrieval.bm25MultiTop(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(gotMulti == wantMulti)
    val mScan = outerPlanNodes(multi.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec
        if f.output.exists(_.name == "tf") => f }.head
    assert(mScan.partitionFilters.nonEmpty)
  }

  test("hybrid RRF: k fused rows per query, rrf within bounds and " +
      "non-increasing; dual-list members outrank single-list tails") {
    val rows = Retrieval.hybridTopK(spark, sf).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (_, rs) =>
      assert(rs.length == Retrieval.HybridTop)
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rs.length))
      val fs = sorted.map(_.getAs[Double]("rrf"))
      assert(fs.zip(fs.tail).forall { case (a, b) => a >= b })
      // one list contributes at most 1/(C+1); two at most 2/(C+1)
      fs.foreach { f =>
        assert(f > 0 && f <= 2.0 / (Retrieval.RrfC + 1) + 1e-9)
      }
    }
    // sequential replay: rebuild both lists and the fusion in plain
    // Scala and compare exactly (text and embeddings are independent
    // in this corpus, so the lists rarely overlap — the replay proves
    // the fusion regardless)
    def shinglesOf(text: String): Set[String] = {
      val t = text.split(" ")
      if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toSet
      else Set(text)
    }
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        shinglesOf(r.getAs[String]("text"))).toMap
    val semRanks = Ann.search(spark, sf, "ann_brute_topk").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Int]("rank")).toMap
    val queries = docs.keys.filter(_ % 100 == 0).toSeq.sorted
    val want = queries.flatMap { q =>
      val qs = docs(q)
      val lex = docs.toSeq.collect { case (d, s2) if d != q =>
        val inter = (qs & s2).size
        (d, inter.toDouble / (qs.size + s2.size - inter))
      }.filter(_._2 > 0)
        .sortBy { case (d, j) => (-j, d) }.take(Retrieval.LexTop)
        .zipWithIndex.map { case ((d, _), i) => d -> (i + 1) }.toMap
      val fused = (lex.keySet ++
        semRanks.collect { case ((`q`, d), _) => d }).toSeq.map { d =>
        val rrf = lex.get(d).map(r => 1.0 / (Retrieval.RrfC + r))
          .getOrElse(0.0) +
          semRanks.get((q, d)).map(r => 1.0 / (Retrieval.RrfC + r))
            .getOrElse(0.0)
        (d, rrf)
      }.sortBy { case (d, f) => (-f, d) }.take(Retrieval.HybridTop)
      fused.zipWithIndex.map { case ((d, f), i) =>
        (q, d, i + 1, BigDecimal(f)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    val got = rows.sortBy(r =>
      (r.getAs[Long]("query_id"), r.getAs[Int]("rank")))
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("rank"), r.getAs[Double]("rrf"))).toSeq
    assert(got == want)
  }

  test("bm25: derived query terms are the rarest; per-term rankings " +
      "are dense with positive non-increasing scores") {
    val rows = Retrieval.bm25Top(spark, sf).collect()
    val byTerm = rows.groupBy(_.getAs[String]("term"))
    assert(byTerm.size == Retrieval.NumQueryTerms)
    byTerm.foreach { case (term, rs) =>
      assert(rs.length <= Retrieval.TopDocs)
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rs.length))
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.forall(_ > 0), s"$term has non-positive scores")
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }

    // the derivation rule: the query terms are exactly the
    // NumQueryTerms rarest vocabulary terms (ties by term)
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
    val dfOf = docs.flatMap(r =>
        r.getAs[String]("text").split(" ").distinct)
      .groupBy(identity).view.mapValues(_.length).toMap
    val want = dfOf.toSeq.sortBy { case (t, df) => (df, t) }
      .take(Retrieval.NumQueryTerms).map(_._1).toSet
    assert(byTerm.keySet == want,
      s"query terms ${byTerm.keySet} != rarest $want")
  }

  test("BM25 delete + compact: probes equal an index written whole " +
      "over the remainder (statistics maintained exactly), delete " +
      "replay is a no-op, compaction drops the tombstones") {
    import org.apache.spark.sql.functions._
    val full = java.nio.file.Files.createTempDirectory("bm25_del").toString
    Retrieval.writeBm25Index(spark, sf, full)
    val docs = graft.Tables.load(spark, sf, "documents")
    val deadIds = docs.filter(col("doc_id") % 7 === 1)
      .select(col("doc_id"))

    // the ground truth: a fresh index over only the surviving docs
    val remLake = java.nio.file.Files
      .createTempDirectory("bm25_rem").toString
    docs.filter(col("doc_id") % 7 =!= 1)
      .write.parquet(s"$remLake/documents.parquet")
    val remIdx = java.nio.file.Files
      .createTempDirectory("bm25_remidx").toString
    Retrieval.writeBm25Index(spark, remLake, remIdx)

    Retrieval.deleteFromBm25(spark, full, deadIds)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(Retrieval.bm25Probe(spark, full)) ==
      rows(Retrieval.bm25Probe(spark, remIdx)),
      "single-term probe after delete != remainder index")
    assert(rows(Retrieval.bm25MultiProbe(spark, full)) ==
      rows(Retrieval.bm25MultiProbe(spark, remIdx)),
      "multi-term probe after delete != remainder index")

    // at-least-once replay: re-deleting the same ids must not
    // double-decrement the statistics
    Retrieval.deleteFromBm25(spark, full, deadIds)
    assert(rows(Retrieval.bm25Probe(spark, full)) ==
      rows(Retrieval.bm25Probe(spark, remIdx)),
      "delete replay changed the probe — statistics double-decremented")

    // repair: a no-op on a healthy index, and it HEALS a corrupted
    // sidecar (the crash-mid-delete recovery) — both sidecars are
    // pure functions of the live postings
    Retrieval.repairBm25Sidecars(spark, full)
    assert(rows(Retrieval.bm25Probe(spark, full)) ==
      rows(Retrieval.bm25Probe(spark, remIdx)),
      "repair on a healthy index changed the probe")
    val statsPath = s"$full.stats"
    val goodStats = spark.read.parquet(statsPath).collect()
    spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(1L, 1L)),
      spark.read.parquet(statsPath).schema)
      .write.mode("overwrite").parquet(s"$statsPath.corrupt")
    // simulate the crash artifact: clobber stats with nonsense
    val fsPath = new org.apache.hadoop.fs.Path(statsPath)
    val fs = fsPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(fsPath, true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$statsPath.corrupt"),
      fsPath)
    assert(spark.read.parquet(statsPath).collect().head.getLong(0) == 1L)
    Retrieval.repairBm25Sidecars(spark, full)
    assert(spark.read.parquet(statsPath).collect().map(_.toSeq).toSeq ==
      goodStats.map(_.toSeq).toSeq, "repair must rebuild exact stats")
    assert(rows(Retrieval.bm25Probe(spark, full)) ==
      rows(Retrieval.bm25Probe(spark, remIdx)),
      "repair must restore probe correctness after corruption")

    // compaction: pure physical hygiene — identical probes, sidecar gone
    Retrieval.compactBm25(spark, full)
    assert(rows(Retrieval.bm25Probe(spark, full)) ==
      rows(Retrieval.bm25Probe(spark, remIdx)))
    assert(rows(Retrieval.bm25MultiProbe(spark, full)) ==
      rows(Retrieval.bm25MultiProbe(spark, remIdx)))
    assert(!new java.io.File(s"$full.tombstones").exists,
      "compaction must drop the tombstone sidecar")
  }

  test("multi-term AND: every returned document contains ALL terms of " +
      "its query; OR rankings are dense with bounded match counts") {
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split(" ").toSet).toMap
    // reconstruct the derived AND queries: 6 most common terms in
    // (df desc, term) order, 3 per query
    val dfOf = docs.values.toSeq.flatMap(_.toSeq)
      .groupBy(identity).view.mapValues(_.length).toMap
    val andTerms = dfOf.toSeq.sortBy { case (t, d) => (-d, t) }
      .take(Retrieval.NumAndQueries * Retrieval.MultiTermLen).map(_._1)
    val queryTerms = andTerms.grouped(Retrieval.MultiTermLen).toSeq
    val andRows = Retrieval.bm25MultiAndTop(spark, sf).collect()
    assert(andRows.nonEmpty, "AND over common terms must be non-trivial")
    andRows.foreach { r =>
      val q = r.getAs[Long]("query_id").toInt
      val terms = queryTerms(q - 1)
      val docTerms = docs(r.getAs[Long]("doc_id"))
      assert(terms.forall(docTerms.contains),
        s"doc ${r.getAs[Long]("doc_id")} misses a term of query $q: $terms")
    }
    val orRows = Retrieval.bm25MultiTop(spark, sf).collect()
    val byQ = orRows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == Retrieval.NumMultiQueries)
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rs.length))
      assert(rs.forall { r =>
        val m = r.getAs[Long]("n_matched")
        m >= 1 && m <= Retrieval.MultiTermLen
      })
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("phrase retrieval: every returned document contains its query " +
      "phrase as ADJACENT tokens (not merely both terms)") {
    val text = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val rows = Retrieval.bm25PhraseTop(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[String]("phrase")).distinct.length ==
      Retrieval.NumPhraseQueries)
    rows.foreach { r =>
      val phrase = r.getAs[String]("phrase").split(" ")
      val toks = text(r.getAs[Long]("doc_id")).split(" ")
      val adjacent = toks.sliding(2).exists(w =>
        w.length == 2 && w(0) == phrase(0) && w(1) == phrase(1))
      assert(adjacent,
        s"doc ${r.getAs[Long]("doc_id")} lacks adjacent '$phrase'")
    }
  }
}
