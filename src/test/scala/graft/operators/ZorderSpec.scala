package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class ZorderSpec extends SparkSpec {

  /** The naive per-bit interleave zValue replaced — kept here as the
    * reference implementation the parallel-prefix form must equal.
    */
  private def referenceZ(a: Column, b: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftleft(shiftright(a.cast("long"), i).bitwiseAND(1L), 2 * i) +
        shiftleft(shiftright(b.cast("long"), i).bitwiseAND(1L), 2 * i + 1)
    }

  test("parallel-prefix zValue equals the per-bit reference fold " +
      "over pseudorandom inputs, at 10 and 21 bits") {
    val xs = spark.range(2000).select(
      pmod(xxhash64(col("id")), lit(1L << 21)).as("a"),
      pmod(xxhash64(col("id"), lit(1)), lit(1L << 21)).as("b"))
    Seq(10, 21).foreach { bits =>
      val bad = xs.filter(
        Layout.zValue(col("a"), col("b"), bits) =!=
          referenceZ(col("a").bitwiseAND(lit((1L << bits) - 1)),
            col("b").bitwiseAND(lit((1L << bits) - 1)), bits)).count()
      assert(bad == 0L, s"zValue diverges from reference at $bits bits")
    }
  }

  test("zorder_keys: total order holds and the key de-interleaves " +
      "back to its own (zx, zy) on the driver") {
    val out = Layout.zorderKeys(spark, sf).collect()
    assert(out.length == 100)
    val keys = out.map(r =>
      (-r.getAs[Long]("zkey"), r.getAs[Long]("event_id"))).toSeq
    assert(keys == keys.sorted, "not ordered by (zkey desc, event_id)")
    out.foreach { r =>
      var z = 0L
      (0 until 21).foreach { i =>
        z |= ((r.getAs[Long]("zx") >> i) & 1L) << (2 * i)
        z |= ((r.getAs[Long]("zy") >> i) & 1L) << (2 * i + 1)
      }
      assert(z == r.getAs[Long]("zkey"))
    }
  }

  private def src: DataFrame = Tables.load(spark, sf, "lineitem")
    .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("z-bucketed lifecycle: probe prunes partitions and matches a " +
      "full scan; append lands only in touched buckets; compact " +
      "rewrites only fragmented buckets and is idempotent") {
    val path = Files.createTempDirectory("zbucketed").toString + "/zl"
    val base = src.filter(col("l_orderkey") % 3 =!= 0)
    val batch = src.filter(col("l_orderkey") % 3 === 0)
    Layout.writeZBucketed(spark, base, "l_partkey", "l_orderkey", path)

    // --- probe ≡ full scan, under a literal partition filter
    val (aLo, aHi, bLo, bHi) = (40L, 90L, 1000L, 3000L)
    def boxOf(df: DataFrame) = df.filter(
      col("l_partkey").between(aLo, aHi) &&
        col("l_orderkey").between(bLo, bHi))
    val probe = Layout.zOrderedProbe(spark, path, aLo, aHi, bLo, bHi)
    assert(sortedRows(probe) == sortedRows(boxOf(base)))
    val scan = outerPlanNodes(probe.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }.head
    assert(scan.partitionFilters.nonEmpty, "probe carries no partition filter")
    val filesRead = scan.metrics("numFiles").value
    val totalFiles = spark.read.parquet(path).inputFiles.length
    assert(filesRead < totalFiles,
      s"probe read $filesRead of $totalFiles files — nothing pruned")

    // --- append: only the batch's buckets gain files, and reads see
    // the union immediately
    def filesByBucket: Map[String, Set[String]] = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f.getPath) else Nil
      val d = new java.io.File(path)
      d.listFiles().filter(f => f.isDirectory &&
          f.getName.startsWith("zbucket="))
        .map(b => b.getName -> walk(b).toSet)
        .toMap
    }
    val before = filesByBucket
    Layout.appendToZOrdered(spark, path, batch)
    val after = filesByBucket
    assert(sortedRows(spark.read.parquet(path).drop("zbucket", "zbatch")) ==
      sortedRows(src))
    val untouched = after.filter { case (b, fs) => before.get(b) == Some(fs) }
    val grown = after.keySet.filter(b => before.get(b) != Some(after(b)))
    assert(grown.nonEmpty, "append created no new files")
    assert(untouched.forall { case (b, fs) => fs == before(b) })
    // every pre-existing file survives the append untouched
    before.foreach { case (b, fs) =>
      assert(fs.subsetOf(after.getOrElse(b, Set())),
        s"append rewrote files in $b") }

    // --- compact: exactly the multi-file buckets rewrite to one file;
    // single-file buckets keep byte-identical files; contents stable
    val fragmented = after.filter(_._2.size > 1).keySet
    val clean = after.filter(_._2.size == 1)
    val rewritten = Layout.compactZBuckets(spark, path)
    assert(rewritten.map(b => s"zbucket=$b").toSet == fragmented)
    val compacted = filesByBucket
    assert(fragmented.forall(b => compacted(b).size == 1),
      "a compacted bucket still fragmented")
    clean.foreach { case (b, fs) =>
      assert(compacted(b) == fs, s"compact touched clean bucket $b") }
    assert(sortedRows(spark.read.parquet(path).drop("zbucket", "zbatch")) ==
      sortedRows(src))
    // idempotent: a second compact finds nothing to do
    assert(Layout.compactZBuckets(spark, path).isEmpty)

    // the probe still matches after append + compact
    val probe2 = Layout.zOrderedProbe(spark, path, aLo, aHi, bLo, bHi)
    assert(sortedRows(probe2) == sortedRows(boxOf(src)))
  }

  test("bootstrap flow: an empty layout created with explicit bounds " +
      "accepts appends and serves probes; an empty rebuild never throws") {
    val path = Files.createTempDirectory("zboot").toString + "/zl"
    // expected ranges known up front, no data yet — the streaming
    // ingest starting point
    Layout.writeZBucketed(spark, src.limit(0), "l_partkey", "l_orderkey",
      path, bounds = Some((0L, 199L, 0L, 6000L)))
    Layout.appendToZOrdered(spark, path, src)
    val probe = Layout.zOrderedProbe(spark, path, 40L, 90L, 1000L, 3000L)
    assert(sortedRows(probe) == sortedRows(src.filter(
      col("l_partkey").between(40, 90) &&
        col("l_orderkey").between(1000, 3000))))
    // derived-bounds rebuild over zero rows: total, not a throw
    val empty = Files.createTempDirectory("zempty").toString + "/zl"
    Layout.writeZBucketed(spark, src.limit(0), "l_partkey", "l_orderkey",
      empty)
    assert(Layout.compactZBuckets(spark, empty).isEmpty)
  }

  test("sorted_bucket: codegen binary search equals the driver-side " +
      "count-of-boundaries-<=-v on edges, ties and interior points") {
    val bs = Array(1.0, 3.0, 3.0, 7.0, 10.0)
    val vs = Seq(0.5, 1.0, 2.0, 3.0, 6.9, 7.0, 9.0, 10.0, 11.0)
    val got = spark.createDataFrame(vs.map(Tuple1(_))).toDF("v")
      .select(col("v"),
        call_function("sorted_bucket", col("v"), lit(bs)).as("b"))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    vs.foreach { v =>
      val expect = bs.count(_ <= v).toLong
      assert(got(v) == expect, s"sorted_bucket($v) = ${got(v)} != $expect")
    }
  }

  test("equi-depth z-layout holds bucket balance on a zipf key where " +
      "min-max collapses; probes stay exact") {
    // heavy-headed key: ~half the mass below 20 in a 0..100k range
    val skewed = spark.range(20000).select(
      col("id"),
      (lit(100000L) / (pmod(xxhash64(col("id")), lit(1000L)) + 1))
        .cast("long").as("ka"),
      pmod(xxhash64(col("id"), lit(7)), lit(10000L)).as("kb"))
    val mm = Files.createTempDirectory("zmm").toString + "/zl"
    val ed = Files.createTempDirectory("zed").toString + "/zl"
    Layout.writeZBucketed(spark, skewed, "ka", "kb", mm)
    Layout.writeZBucketedEquiDepth(spark, skewed, "ka", "kb", ed)

    def imbalance(path: String): (Long, Double) = {
      val sizes = spark.read.parquet(path).groupBy("zbucket")
        .count().collect().map(_.getAs[Long]("count"))
      val mean = sizes.sum.toDouble / 16 // 2^bucketBits buckets total
      (sizes.length, sizes.max / mean)
    }
    val (mmBuckets, mmImb) = imbalance(mm)
    val (edBuckets, edImb) = imbalance(ed)
    info(f"min-max: $mmBuckets buckets, imbalance $mmImb%.1f; " +
      f"equi-depth: $edBuckets buckets, imbalance $edImb%.1f")
    // min-max collapses the zipf head: most Morton cells empty
    assert(edBuckets > mmBuckets, "equi-depth no better populated")
    assert(edImb < mmImb / 2,
      f"equi-depth imbalance $edImb%.1f not clearly below min-max $mmImb%.1f")
    assert(edImb < 2.0, f"equi-depth imbalance $edImb%.1f above 2x mean")

    // probe correctness is distribution-independent
    val probe = Layout.zOrderedProbe(spark, ed, 50L, 5000L, 2000L, 8000L)
    val expect = skewed.filter(col("ka").between(50, 5000) &&
      col("kb").between(2000, 8000))
    def keyset(df: DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    assert(keyset(probe) == keyset(expect))
  }

  test("hilbert_key: bijective unit-step curve (engine-exhaustive at " +
      "bits=4) matching the driver reference") {
    val bits = 4
    val n = 1 << bits
    val keys = spark.range(n.toLong * n).select(
        (col("id") / n).cast("long").as("x"),
        pmod(col("id"), lit(n.toLong)).as("y"))
      .select(col("x"), col("y"),
        call_function("hilbert_key", col("x"), col("y"), lit(bits)).as("d"))
      .collect()
    // bijective onto [0, n^2)
    assert(keys.map(_.getAs[Long]("d")).toSet ==
      (0L until n.toLong * n).toSet)
    // consecutive keys are grid neighbors — the property Morton lacks
    val pos = keys.map(r => r.getAs[Long]("d") ->
      (r.getAs[Long]("x"), r.getAs[Long]("y"))).toMap
    (0L until n.toLong * n - 1).foreach { d =>
      val ((x1, y1), (x2, y2)) = (pos(d), pos(d + 1))
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1, s"jump at d=$d")
    }
    // generated code ≡ the static reference used by the probe cover
    keys.foreach { r =>
      assert(r.getAs[Long]("d") == graft.functions.HilbertKey.xy2d(
        n.toLong, r.getAs[Long]("x"), r.getAs[Long]("y")))
    }
  }

  test("hilbert lifecycle: probe exact under a partition filter; " +
      "per-file bounding boxes measurably tighter than morton") {
    val hdir = Files.createTempDirectory("zhil").toString + "/zl"
    Layout.writeZBucketed(spark, src, "l_partkey", "l_orderkey", hdir,
      curve = "hilbert")
    val (aLo, aHi, bLo, bHi) = (40L, 90L, 1000L, 3000L)
    val probe = Layout.zOrderedProbe(spark, hdir, aLo, aHi, bLo, bHi)
    assert(sortedRows(probe) == sortedRows(src.filter(
      col("l_partkey").between(aLo, aHi) &&
        col("l_orderkey").between(bLo, bHi))))
    val scan = outerPlanNodes(probe.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }.head
    assert(scan.partitionFilters.nonEmpty)
    assert(scan.metrics("numFiles").value <
      spark.read.parquet(hdir).inputFiles.length)

    // locality: range-partition the SAME normalized coords by each
    // curve into 64 equal files; hilbert's unit-step continuity gives
    // tighter per-file (partkey × orderkey) bounding boxes
    val bits = 10
    def meanBoxArea(curveKey: (Long, Long) => Long): Double = {
      val st = src.agg(min("l_partkey"), max("l_partkey"),
        min("l_orderkey"), max("l_orderkey")).head
      val w = (1L << bits) - 1
      def nrm(v: Long, lo: Long, hi: Long) =
        (v - lo) * w / math.max(hi - lo, 1L)
      val keyed = src.collect().map { r =>
        val (a, b) = (r.getAs[Long]("l_partkey"), r.getAs[Long]("l_orderkey"))
        (curveKey(nrm(a, st.getLong(0), st.getLong(1)),
          nrm(b, st.getLong(2), st.getLong(3))), a, b)
      }.sortBy(_._1)
      val chunks = keyed.grouped((keyed.length + 63) / 64).toSeq
      chunks.map { c =>
        (c.map(_._2).max - c.map(_._2).min).toDouble *
          (c.map(_._3).max - c.map(_._3).min)
      }.sum / chunks.length
    }
    def mortonRef(x: Long, y: Long): Long = {
      var z = 0L
      (0 until bits).foreach { i =>
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val m = meanBoxArea(mortonRef)
    val h = meanBoxArea(graft.functions.HilbertKey.xy2d(1L << bits, _, _))
    info(f"mean per-file bbox area: morton $m%.0f, hilbert $h%.0f " +
      f"(ratio ${h / m}%.2f)")
    assert(h < m * 0.8,
      f"hilbert bbox area $h%.0f not clearly below morton $m%.0f")
  }

  test("bloom sidecar: point lookups on a non-layout column prune " +
      "buckets with no false negatives; compaction preserves filters; " +
      "appends stale them until a rebuild") {
    val path = Files.createTempDirectory("zbloom").toString + "/zl"
    // the layout serves (partkey, suppkey) boxes; orderkey point
    // lookups are what the bloom sidecar adds
    Layout.writeZBucketed(spark, src, "l_partkey", "l_suppkey", path)
    Layout.writeBloomSidecar(spark, path, "l_orderkey")

    val k = src.select("l_orderkey").head.getLong(0)
    val probe = Layout.bloomPointProbe(spark, path, k)
    assert(sortedRows(probe) ==
      sortedRows(src.filter(col("l_orderkey") === k)))
    val scan = outerPlanNodes(probe.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }.head
    assert(scan.partitionFilters.nonEmpty, "no partition filter")
    val (filesRead, total) = (scan.metrics("numFiles").value,
      spark.read.parquet(path).inputFiles.length.toLong)
    info(s"point lookup read $filesRead of $total files")
    assert(filesRead < total, "bloom pruned nothing")
    // absent key: exact empty (filters have no false negatives)
    assert(Layout.bloomPointProbe(spark, path, 99999999L).count() == 0)

    // append a planted key the filters have never seen: the sidecar
    // is stale toward false negatives — the documented contract
    val planted = src.limit(5).select(
      lit(7777777L).as("l_orderkey"), col("l_partkey"),
      col("l_suppkey"), col("l_quantity"))
    Layout.appendToZOrdered(spark, path, planted)
    assert(Layout.bloomPointProbe(spark, path, 7777777L).count() == 0,
      "stale filters unexpectedly matched the planted key")
    // rebuild = one grouped pass; the planted rows surface exactly
    Layout.writeBloomSidecar(spark, path, "l_orderkey")
    assert(Layout.bloomPointProbe(spark, path, 7777777L).count() == 5)

    // compaction rewrites files, not bucket membership: the sidecar
    // stays valid with NO rebuild
    assert(Layout.compactZBuckets(spark, path).nonEmpty)
    assert(Layout.bloomPointProbe(spark, path, 7777777L).count() == 5)
    assert(sortedRows(Layout.bloomPointProbe(spark, path, k)) ==
      sortedRows(src.filter(col("l_orderkey") === k)))
  }

  test("zone map: range probe on the clustered column skips files " +
      "and is exact; an uncorrelated column degrades to a full scan " +
      "but never a wrong one") {
    val path = Files.createTempDirectory("zones").toString + "/t"
    src.repartitionByRange(8, col("l_orderkey"))
      .write.mode("overwrite").parquet(path)
    Layout.writeZoneMap(spark, path, Seq("l_orderkey", "l_partkey"))
    val total = spark.read.parquet(path).inputFiles.length

    // clustered column: tight disjoint zones → files skipped, exact
    val probe = Layout.zoneProbe(spark, path, "l_orderkey", 1000L, 1500L)
    assert(sortedRows(probe) == sortedRows(
      src.filter(col("l_orderkey").between(1000L, 1500L))))
    assert(probe.inputFiles.length < total,
      s"read ${probe.inputFiles.length} of $total files — no pruning")
    info(s"clustered probe read ${probe.inputFiles.length} of $total files")

    // column uncorrelated with the clustering: zones span everything,
    // no pruning — but the residual predicate keeps the result exact
    val flat = Layout.zoneProbe(spark, path, "l_partkey", 40L, 60L)
    assert(sortedRows(flat) == sortedRows(
      src.filter(col("l_partkey").between(40L, 60L))))

    // empty band beyond the data: zero files read, zero rows
    val none = Layout.zoneProbe(spark, path, "l_orderkey",
      99999999L, 99999999L)
    assert(none.count() == 0)

    // incremental maintenance: new files append rows (the manifest is
    // append-only — files are immutable), old rows stay valid, and a
    // replayed merge leaves probe results exact despite dup rows
    val planted = src.limit(4).select(lit(5555555L).as("l_orderkey"),
      col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    planted.coalesce(1).write.mode("append").parquet(path)
    // a live file the manifest does not cover yet is scanned unpruned
    assert(Layout.zoneProbe(spark, path, "l_orderkey",
      5555555L, 5555555L).count() == 4, "an uncovered file was skipped")
    Layout.mergeZoneMap(spark, path, Seq("l_orderkey", "l_partkey"))
    val freshProbe = Layout.zoneProbe(spark, path, "l_orderkey",
      5555555L, 5555555L)
    assert(freshProbe.count() == 4)
    assert(freshProbe.inputFiles.length == 1,
      "planted-key probe should read only the appended file")
    Layout.mergeZoneMap(spark, path, Seq("l_orderkey", "l_partkey"))
    assert(Layout.zoneProbe(spark, path, "l_orderkey",
      5555555L, 5555555L).count() == 4, "replayed merge broke the probe")
  }

  test("zone map after an append and a compaction: the probe skips " +
      "the replaced files, scans the uncovered ones, equals the filter") {
    val path = Files.createTempDirectory("zcompact").toString + "/zl"
    Layout.writeZBucketed(spark, src.filter(col("l_orderkey") % 2 === 0),
      "l_partkey", "l_orderkey", path)
    Layout.appendToZOrdered(spark, path,
      src.filter(col("l_orderkey") % 2 === 1))
    Layout.writeZoneMap(spark, path, Seq("l_suppkey"))
    val plain = sortedRows(src.filter(col("l_suppkey").between(1L, 5L)))
    def probe() = sortedRows(Layout.zoneProbe(spark, path, "l_suppkey",
      1L, 5L).drop("zbucket", "zbatch"))
    assert(plain.nonEmpty)
    assert(probe() == plain)
    assert(Layout.compactZBuckets(spark, path).nonEmpty)
    assert(probe() == plain, "probe after compaction")
  }

  test("incremental bloom merge: appended keys visible without a " +
      "rescan, byte-identical to a same-parameter rebuild") {
    val path = Files.createTempDirectory("zbloom2").toString + "/zl"
    Layout.writeZBucketed(spark, src, "l_partkey", "l_suppkey", path)
    Layout.writeBloomSidecar(spark, path, "l_orderkey")

    val planted = src.limit(7).select(
      lit(8888888L).as("l_orderkey"), col("l_partkey"),
      col("l_suppkey"), col("l_quantity"))
    Layout.appendToZOrdered(spark, path, planted)
    assert(Layout.bloomPointProbe(spark, path, 8888888L).count() == 0,
      "filters unexpectedly fresh before the merge")
    // fold ONLY the batch in: one batch-sized pass, no layout rescan
    Layout.mergeBloomSidecar(spark, path, planted)
    assert(Layout.bloomPointProbe(spark, path, 8888888L).count() == 7)
    assert(Layout.bloomPointProbe(spark, path, 55555555L).count() == 0)

    // OR-merge of same-parameter filters ≡ from-scratch build over
    // the grown buckets, BYTE for byte (order-free bit-OR)
    val sidecar = spark.read.parquet(s"$path.blooms").collect()
    val merged = sidecar.map(r =>
      r.getAs[Long]("zbucket") -> r.getAs[Array[Byte]]("bloom")).toMap
    val items = sidecar.head.getAs[Long]("est_items")
    val bits = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(
        sidecar.head.getAs[Array[Byte]]("bloom"))).bitSize()
    val rebuilt = spark.read.parquet(path)
      .groupBy(col("zbucket").cast("long").as("zbucket"))
      .agg(call_function("bloom_agg", col("l_orderkey").cast("long"),
        lit(items), lit(bits)).as("bloom"))
      .collect().map(r =>
        r.getAs[Long]("zbucket") -> r.getAs[Array[Byte]]("bloom")).toMap
    assert(rebuilt.keySet == merged.keySet)
    rebuilt.foreach { case (beta, bs) =>
      assert(java.util.Arrays.equals(bs, merged(beta)),
        s"bucket $beta: merged filter differs from rebuilt")
    }
  }
}
