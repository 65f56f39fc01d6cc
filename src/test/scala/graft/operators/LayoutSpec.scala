package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Layout ops: a month-partitioned, day-sorted copy of lineitem must
  * (a) keep every row, (b) prune partitions at planning time for a
  * month filter, and (c) expose the residual predicate to the parquet
  * reader for row-group skipping.
  */
class LayoutSpec extends SparkSpec {

  test("time-partitioned layout prunes partitions and pushes residuals") {
    val out = Files.createTempDirectory("layout").toString
    val src = Tables.load(spark, sf, "lineitem")
    Layout.writeTimePartitioned(src, "l_shipdate", "l_shipdate", out)

    val back = Layout.readTimePartitioned(spark, out)
    assert(back.count() == src.count()) // lossless reshape

    val q = back.filter(col("part_month") === "1996-03" &&
      col("l_quantity") > 10)
    val plan = q.queryExecution.executedPlan.toString
    // month filter consumed at PLANNING time, not row time
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.linesIterator.find(_.contains("PartitionFilters")).get
      .contains("part_month"), plan)
    // quantity predicate reaches the parquet reader (row-group stats)
    assert(plan.linesIterator.find(_.contains("PushedFilters")).get
      .contains("GreaterThan(l_quantity"), plan)

    // and the pruned read equals the unpruned filter
    val expected = src
      .filter(date_format(col("l_shipdate"), "yyyy-MM") === "1996-03" &&
        col("l_quantity") > 10).count()
    assert(q.count() == expected)
  }

  test("IVF-cell layout: probe reads only its cells' directories") {
    val out = Files.createTempDirectory("ivf_layout").toString
    Layout.writeIvfPartitioned(spark, sf, out)

    val assigned = Ann.cellAssignments(spark, sf)
      .select("vec_id", "cell").collect()
    val back = spark.read.parquet(out)
    assert(back.count() == assigned.length) // lossless reshape

    // probe two cells: planning-time pruning, no vector I/O elsewhere
    val cells = assigned.map(_.getLong(1)).distinct.sorted.take(2)
    val probe = back.filter(col("part_cell").isin(cells: _*))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.linesIterator.find(_.contains("PartitionFilters")).get
      .contains("part_cell"), plan)
    val expected = assigned.count(r => cells.contains(r.getLong(1)))
    assert(probe.count() == expected)
  }

  test("trained-quantizer IVF layout: probe touches <= NProbe/C of the " +
      "files (planning-time pruning over the trained directories)") {
    val out = Files.createTempDirectory("ivf_trained").toString
    Layout.writeIvfTrainedPartitioned(spark, sf, out)

    val assigned = Ann.cellAssignmentsTrained(spark, sf)
      .select("vec_id", "cell").collect()
    val back = spark.read.parquet(out)
    assert(back.count() == assigned.length) // lossless reshape

    val cellCount = assigned.map(_.getLong(1)).distinct.length
    val totalFiles = back.select(input_file_name()).distinct().count()

    // an NProbe-cell probe, as ivfTrainedTopK would issue it
    val cells = assigned.map(_.getLong(1)).distinct.sorted
      .take(Ann.NProbe)
    val probe = back.filter(col("part_cell").isin(cells: _*))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.linesIterator.find(_.contains("PartitionFilters")).get
      .contains("part_cell"), plan)
    val expected = assigned.count(r => cells.contains(r.getLong(1)))
    assert(probe.count() == expected)

    // the graded claim: the pruned scan READS at most ~NProbe/C of the
    // files (1.5x slack for uneven per-cell file counts)
    val touched = probe.select(input_file_name()).distinct().count()
    assert(touched.toDouble / totalFiles <=
      1.5 * Ann.NProbe.toDouble / cellCount,
      s"probe read $touched of $totalFiles files across $cellCount cells")
  }

  test("IVF-PQ layout: probe equals the in-query operator row for row, " +
      "skips unprobed cells' files, and reads a fraction of the " +
      "raw-vector layout's bytes") {
    val out = Files.createTempDirectory("ivfpq_layout").toString
    val raw = Files.createTempDirectory("ivf_raw").toString
    Layout.writeIvfPqPartitioned(spark, sf, out)
    Layout.writeIvfPartitioned(spark, sf, raw)

    // the probe over persisted codes is bit-identical to the in-query
    // composition: same seeds, residuals, tie-breaks, DECIMAL ADC
    val probe = Layout.ivfPqProbe(spark, sf, out)
    val got = probe.collect().map(_.toSeq).toSeq
    val expect = Ann.search(spark, sf, "ann_ivfpq_topk").collect().map(_.toSeq).toSeq
    assert(got == expect)

    // files skipped: the scan carries a literal partition filter and
    // actually reads only the probed cells' files
    import org.apache.spark.sql.execution.FileSourceScanExec
    val codesScan = outerPlanNodes(probe.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec
        if f.output.exists(_.name == "codes") => f }.head
    assert(codesScan.partitionFilters.nonEmpty,
      s"codes scan carries no partition filter: $codesScan")
    val filesRead = codesScan.metrics("numFiles").value
    val totalFiles = spark.read.parquet(out).inputFiles.length
    assert(filesRead < totalFiles,
      s"probe read $filesRead of $totalFiles files — nothing skipped")

    // bytes shrinkage: over the SAME probed cells, the codes
    // directories are a fraction of the raw-vector directories (M
    // bytes vs 64 floats per row; compression narrows but cannot
    // close a 32x raw gap even at toy scale)
    val probed = Ann.queryProbes(spark, sf)
      .select("cell").distinct().collect().map(_.getLong(0)).sorted
    def cellBytes(base: String): Long = probed.map { c =>
      val d = new java.io.File(base, s"part_cell=$c")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.length).sum
    }.sum
    val (pqBytes, rawBytes) = (cellBytes(out), cellBytes(raw))
    info(s"probed-cell bytes: codes=$pqBytes raw=$rawBytes " +
      f"(${pqBytes.toDouble / rawBytes}%.3f)")
    assert(pqBytes * 2 < rawBytes,
      s"codes layout $pqBytes B not meaningfully below raw $rawBytes B")
  }

  test("trained IVF-PQ layout: probe equals the in-query TRAINED operator " +
      "row for row with ZERO training in the probe plan") {
    val out = Files.createTempDirectory("ivfpq_trained_layout").toString
    // write time pays BOTH training loops (coarse k-means + residual
    // Lloyd's); the quantizer pair persists as the sidecars
    Layout.writeIvfPqTrainedPartitioned(spark, sf, out)

    val probe = Layout.ivfPqProbe(spark, sf, out)
    val got = probe.collect().map(_.toSeq).toSeq
    val expect = Ann.search(spark, sf, "ann_ivfpq_trained_topk").collect().map(_.toSeq).toSeq
    assert(got == expect)

    // the artifact claim: the probe derives NOTHING quantizer-shaped —
    // trained output enters the in-query plan as collected
    // LocalRelations, so a probe plan free of them provably read its
    // quantizer from the sidecars instead of re-training
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val locals = probe.queryExecution.optimizedPlan
      .collect { case l: LocalRelation => l }
    assert(locals.isEmpty,
      s"probe plan embeds collected (trained) relations: $locals")
    val trainedLocals = Ann.search(spark, sf, "ann_ivfpq_trained_topk")
      .queryExecution.optimizedPlan
      .collect { case l: LocalRelation => l }
    assert(trainedLocals.nonEmpty,
      "sanity: the in-query trained operator should embed its trained " +
        "quantizer as a LocalRelation")

    // and the same planning-time pruning as the seed layout
    import org.apache.spark.sql.execution.FileSourceScanExec
    val codesScan = outerPlanNodes(probe.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec
        if f.output.exists(_.name == "codes") => f }.head
    assert(codesScan.partitionFilters.nonEmpty,
      s"codes scan carries no partition filter: $codesScan")
    val filesRead = codesScan.metrics("numFiles").value
    val totalFiles = spark.read.parquet(out).inputFiles.length
    assert(filesRead < totalFiles,
      s"probe read $filesRead of $totalFiles files — nothing skipped")
  }

  test("IVF-PQ append: a new shard is coded by the frozen sidecar " +
      "quantizer, the stored index equals a written-whole one, and " +
      "appended vectors surface in probes") {
    val out = Files.createTempDirectory("ivfpq_append").toString
    Layout.writeIvfPqPartitioned(spark, sf, out)

    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val shard = emb.filter(col("vec_id") % 3 === 1)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    Layout.appendToIvfPq(spark, out, shard)

    // the index invariant: after the append, the stored (vec_id, cell,
    // codes) row set is EXACTLY what encoding corpus∪shard against the
    // same frozen quantizer yields — and ivfPqProbe is a pure function
    // of the stored rows + sidecars, so every probe over the appended
    // index is the written-whole probe
    def codeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Long]("cell"),
        r.getAs[scala.collection.Seq[Byte]]("codes").toList)).toSet
    val stored = codeSet(spark.read.parquet(out)
      .select(col("vec_id"), col("part_cell").cast("long").as("cell"),
        col("codes")))
    val whole = codeSet(Pq.encodeAgainst(spark, emb.union(shard),
      spark.read.parquet(s"$out.centroids"),
      spark.read.parquet(s"$out.codebook")))
    assert(stored == whole)
    assert(stored.size == emb.count() + shard.count()) // nothing lost

    // visibility: exact copies of the query vectors (fresh ids) must
    // enter their own queries' top-k — appended rows compete with the
    // original corpus in the ADC ranking, they don't just sit on disk
    val copies = emb.filter(col("vec_id") % 100 === 0)
      .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding"))
    Layout.appendToIvfPq(spark, out, copies)
    val probed = Layout.ivfPqProbe(spark, sf, out).collect()
    val queries = probed.map(_.getAs[Long]("query_id")).distinct
    val hits = probed.count(r =>
      r.getAs[Long]("neighbor_id") == r.getAs[Long]("query_id") + 3000000L)
    assert(hits == queries.length,
      s"only $hits of ${queries.length} planted query copies surfaced")
  }

  test("IVF-SQ8 layout: probe equals the in-query operator row for " +
      "row, skips unprobed cells, and codes undercut raw bytes ~4x") {
    val out = Files.createTempDirectory("ivfsq_layout").toString
    val raw = Files.createTempDirectory("ivfsq_raw").toString
    Layout.writeIvfSq(spark, sf, out)
    Layout.writeIvfPartitioned(spark, sf, raw)

    // sidecar-driven decode reproduces the in-query search exactly:
    // same grid, same midpoint floats, same tie-breaks
    val probe = Layout.ivfSqProbe(spark, sf, out)
    val got = probe.collect().map(_.toSeq).toSeq
    val expect = Ann.search(spark, sf, "ann_ivfsq_topk").collect().map(_.toSeq).toSeq
    assert(got == expect)

    // planning-time pruning: partition filter present, files skipped
    import org.apache.spark.sql.execution.FileSourceScanExec
    val codesScan = outerPlanNodes(probe.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec
        if f.output.exists(_.name == "codes") => f }.head
    assert(codesScan.partitionFilters.nonEmpty)
    val filesRead = codesScan.metrics("numFiles").value
    val totalFiles = spark.read.parquet(out).inputFiles.length
    assert(filesRead < totalFiles,
      s"probe read $filesRead of $totalFiles files — nothing skipped")

    // the compression claim: over the same probed cells the 64-byte
    // code rows undercut the 64-float raw rows decisively
    val probed = Ann.queryProbes(spark, sf)
      .select("cell").distinct().collect().map(_.getLong(0)).sorted
    def cellBytes(base: String): Long = probed.map { c =>
      val d = new java.io.File(base, s"part_cell=$c")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.length).sum
    }.sum
    val (sqBytes, rawBytes) = (cellBytes(out), cellBytes(raw))
    info(f"probed-cell bytes: sq8=$sqBytes raw=$rawBytes " +
      f"(${sqBytes.toDouble / rawBytes}%.3f)")
    assert(sqBytes * 2 < rawBytes,
      s"SQ8 layout $sqBytes B not meaningfully below raw $rawBytes B")
  }

  test("IVF-PQ delete + compact: tombstoned vectors leave probes at " +
      "once, survivors promote in order, compaction changes nothing " +
      "but the physical layout") {
    val out = Files.createTempDirectory("ivfpq_lifecycle").toString
    Layout.writeIvfPqPartitioned(spark, sf, out)
    val corpusN = spark.read.parquet(out).count()
    val before = Layout.ivfPqProbe(spark, sf, out).collect()

    // victims: every query's rank-1 neighbor — deletion must promote
    // the survivors without re-ordering them
    val victims = before.filter(_.getAs[Int]("rank") == 1)
      .map(_.getAs[Long]("neighbor_id")).distinct
    import spark.implicits._
    Layout.deleteFromIvfPq(spark, out, victims.toSeq.toDF("vec_id"))

    val afterDel = Layout.ivfPqProbe(spark, sf, out).collect()
    val victimSet = victims.toSet
    assert(!afterDel.exists(r => victimSet(r.getAs[Long]("neighbor_id"))))
    // top-k stays full (candidates deeper than the old top-k fill in)
    assert(afterDel.length == before.length)
    // promotion is ORDER-PRESERVING: the new ranking per query starts
    // with the old one's surviving prefix — deeper entrants can only
    // append after it (they scored worse than every old top-k row)
    afterDel.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val survivors = before.filter(_.getAs[Long]("query_id") == q)
        .sortBy(_.getAs[Int]("rank"))
        .map(_.getAs[Long]("neighbor_id")).filterNot(victimSet)
      val got = rs.sortBy(_.getAs[Int]("rank"))
        .map(_.getAs[Long]("neighbor_id"))
      assert(got.startsWith(survivors),
        s"query $q: survivors $survivors not a prefix of $got")
    }

    // compaction folds tombstones in physically; every probe result is
    // bit-identical before/after, the sidecar is gone, the rows are
    // actually removed, and each cell dir squashes to one file
    Layout.compactIvfPq(spark, out)
    val afterComp = Layout.ivfPqProbe(spark, sf, out).collect()
    assert(afterComp.map(_.toSeq).toSeq == afterDel.map(_.toSeq).toSeq)
    assert(!new java.io.File(s"$out.tombstones").exists())
    assert(spark.read.parquet(out).count() == corpusN - victims.length)
    val cellDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("part_cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"${d.getName} holds ${files.length} files after compaction")
    }
  }

  test("refined on-disk probe: equals the in-query two-stage search " +
      "row for row; tombstones cannot be resurrected by the re-rank") {
    val out = Files.createTempDirectory("ivfpq_refined").toString
    Layout.writeIvfPqPartitioned(spark, sf, out)

    val refined = Layout.ivfPqProbeRefined(spark, sf, out).collect()
    val expect = Ann.search(spark, sf, "ann_ivfpq_refined_topk").collect()
    assert(refined.map(_.toSeq).toSeq == expect.map(_.toSeq).toSeq)

    // the shortlist comes from stored codes, so a deleted vector can't
    // reach the exact re-rank at all
    val victims = refined.filter(_.getAs[Int]("rank") == 1)
      .map(_.getAs[Long]("neighbor_id")).distinct
    import spark.implicits._
    Layout.deleteFromIvfPq(spark, out, victims.toSeq.toDF("vec_id"))
    val after = Layout.ivfPqProbeRefined(spark, sf, out).collect()
    val victimSet = victims.toSet
    assert(!after.exists(r => victimSet(r.getAs[Long]("neighbor_id"))))
    assert(after.length == refined.length) // k stays full
  }

  test("z-order layout clusters BOTH keys (bounded per-file spread)") {
    val out = Files.createTempDirectory("zorder").toString
    val src = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    Layout.writeZOrdered(src, "l_partkey", "l_suppkey", out)

    val back = spark.read.parquet(out)
    assert(back.count() == src.count()) // lossless reshape

    // the skipping enabler: each file's min/max box is small on BOTH
    // dimensions (a single-column sort bounds only its own key)
    val spreads = back
      .groupBy(input_file_name().as("f"))
      .agg((max("l_partkey") - min("l_partkey")).as("sp_part"),
        (max("l_suppkey") - min("l_suppkey")).as("sp_supp"))
      .collect()
    assert(spreads.length >= 8, "expected a multi-file layout")
    val Seq(partRange, suppRange) = Seq("l_partkey", "l_suppkey").map { c =>
      val r = src.agg(max(col(c)) - min(col(c))).head.getLong(0).toDouble
      r
    }
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val meanPart = mean(spreads.map(_.getAs[Long]("sp_part").toDouble))
    val meanSupp = mean(spreads.map(_.getAs[Long]("sp_supp").toDouble))
    info(f"mean per-file spread: partkey ${meanPart / partRange}%.2f of range, " +
      f"suppkey ${meanSupp / suppRange}%.2f of range")
    assert(meanPart < partRange / 2, "partkey not clustered")
    assert(meanSupp < suppRange / 2, "suppkey not clustered")

    // correctness of a two-dimensional probe on the reshaped copy
    val q = back.filter(col("l_partkey") < 100 && col("l_suppkey") < 50)
    val expect = src.filter(col("l_partkey") < 100 && col("l_suppkey") < 50)
    assert(q.count() == expect.count())
  }
}
