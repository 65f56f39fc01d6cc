package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load

/** Data-layout operators — how 100 TB tables make their own scans
  * cheap. Two orthogonal techniques:
  *
  *   - **hive partitioning** on a low-cardinality derived key: the
  *     filter prunes whole directories at PLANNING time
  *     (`PartitionFilters` in the scan, pruned before any I/O);
  *   - **sort-within-files** on a second key: parquet row-group
  *     min/max stats skip pages inside the surviving files at READ
  *     time (`PushedFilters`).
  *
  * Together: a (month, sorted-by-day) layout answers a time-range
  * query touching 1/Nth of the partitions and a fraction of each.
  * The write pays one range shuffle, amortized over every later scan.
  */
object Layout {

  /** Write `df` hive-partitioned by a derived month key, rows sorted
    * by `sortCol` inside each file.
    */
  def writeTimePartitioned(df: DataFrame, tsCol: String, sortCol: String,
      path: String): Unit =
    df.withColumn("part_month", date_format(col(tsCol), "yyyy-MM"))
      .repartition(col("part_month"))
      .sortWithinPartitions(col("part_month"), col(sortCol))
      .write.partitionBy("part_month").mode("overwrite").parquet(path)

  /** Read back with partition pruning available to the planner. */
  def readTimePartitioned(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  /** Write the embeddings corpus hive-partitioned by its IVF cell
    * assignment ([[Ann.cellAssignments]]): the coarse quantizer
    * becomes the directory structure, so an ANN probe reads only its
    * NProbe cells' directories — partition pruning before any vector
    * I/O. This is `ann_ivf_topk`'s probe in on-disk form: at 100 TB
    * the assignment is paid once at write time and every query
    * thereafter scans NProbe/C of the corpus.
    */
  def writeIvfPartitioned(s: SparkSession, dir: String, path: String): Unit =
    writeIvfWith(Ann.cellAssignments(s, dir), path)

  /** The same layout under the TRAINED quantizer
    * ([[KMeans.trainedCentroids]] — Lloyd's-refined seeds): training →
    * layout → pruned probe as one story. Training runs once (the
    * trainer collects its ~C-row centroid table); the write pays the
    * same one assignment pass; every later probe partition-prunes to
    * its NProbe cells of a BETTER-balanced quantizer (Lloyd's evens
    * cell populations, which here evens directory sizes — the skew
    * control for the layout itself).
    */
  def writeIvfTrainedPartitioned(s: SparkSession, dir: String,
      path: String): Unit =
    writeIvfWith(Ann.cellAssignmentsTrained(s, dir), path)

  private def writeIvfWith(assigned: DataFrame, path: String): Unit =
    assigned
      .select(col("vec_id"), col("cv").as("embedding"),
        col("cell").as("part_cell"))
      .repartition(col("part_cell"))
      .write.partitionBy("part_cell").mode("overwrite").parquet(path)

  /** The FULL on-disk IVF-PQ index: per-vector residual PQ codes —
    * M bytes, not the 64-float vector — hive-partitioned by IVF cell,
    * with the shared residual codebook persisted as a `.codebook`
    * sidecar. This is `ann_ivfpq_topk`'s data half made durable: the
    * coarse quantizer is the directory structure (planning-time
    * pruning to NProbe/C of the index) and the leaf files carry ONLY
    * codes, so the probe's I/O shrinks twice — files skipped by cell,
    * and ~32× fewer bytes per surviving row than the raw-vector
    * layout ([[writeIvfPartitioned]]). At billion scale this pair of
    * reductions is what makes the index scan-time negligible next to
    * the ranking join; LayoutSpec measures both on the shipped corpus.
    */
  def writeIvfPqPartitioned(s: SparkSession, dir: String,
      path: String): Unit =
    writeIvfPqWith(s, path, Ann.centroids(s, dir), trained = false, dir)

  /** The on-disk index under the fully TRAINED quantizer pair —
    * Lloyd's-refined coarse cells ([[KMeans.trainedCentroids]]) and
    * the residual codebook trained on the distribution the codes
    * actually quantize — i.e. `ann_ivfpq_trained_topk` made durable.
    * This is the artifact form of "train once, probe forever": BOTH
    * training loops (coarse k-means and per-subspace residual
    * Lloyd's) run here, at write time, and their outputs persist as
    * the `.centroids` / `.codebook` sidecars next to the coded
    * corpus, so [[ivfPqProbe]] serves queries with zero training
    * compute — at 100 TB the training cost amortizes over every probe
    * instead of being paid per query (the in-query trained operator
    * exists for self-contained verification, not for serving).
    */
  def writeIvfPqTrainedPartitioned(s: SparkSession, dir: String,
      path: String): Unit =
    writeIvfPqWith(s, path, KMeans.trainedCentroids(s, dir),
      trained = true, dir)

  private def writeIvfPqWith(s: SparkSession, path: String,
      centsSrc: DataFrame, trained: Boolean, dir: String): Unit = {
    // the same quantizer, residuals and tie-breaks as the in-query
    // search, so a probe over the persisted codes reproduces it
    val resid = Ann.residuals(Ann.assign(load(s, dir, "embeddings"),
      centsSrc), centsSrc, "vec_id", "cv", "rv").cache()
    val rcb =
      if (trained) Ann.trainedResidualCodebook(s, resid, s"pqrescb|$dir")
      else Pq.seedCodebook(resid, "vec_id", "rv")
    Pq.codeArrays(resid, rcb)
      .select(col("vec_id"), col("codes"), col("cell").as("part_cell"))
      .repartition(col("part_cell"))
      .write.partitionBy("part_cell").mode("overwrite").parquet(path)
    rcb.write.mode("overwrite").parquet(s"$path.codebook")
    // the coarse quantizer is part of the index: persisting it makes
    // the probe self-sufficient (queries route against the sidecar,
    // whether the centroids were seed-derived or trainer output)
    centsSrc.write.mode("overwrite").parquet(s"$path.centroids")
  }

  /** Append a shard of NEW vectors to an existing IVF-PQ layout under
    * its FROZEN quantizer — index maintenance, the operation a growing
    * corpus runs daily while retraining stays an occasional deliberate
    * rebuild. The shard is routed and residual-coded entirely against
    * the layout's own `.centroids`/`.codebook` sidecars
    * ([[Pq.encodeAgainst]]) — one shard-linear corpus-×-broadcast pass,
    * nothing about the existing index read or rewritten — and the new
    * code rows land in their cells' partition directories via a
    * parquet append. [[ivfPqProbe]] picks the additions up unchanged:
    * probes after an append rank old and new vectors together, as if
    * the index had been written whole (LayoutSpec pins exactly that,
    * plus correct cell placement and untouched sidecars).
    *
    * The standard caveat travels with the operation: appended vectors
    * are coded by a quantizer trained before they arrived, so heavy
    * drift degrades recall until a rebuild — at which point
    * [[writeIvfPqTrainedPartitioned]] over the grown corpus IS the
    * rebuild.
    */
  def appendToIvfPq(s: SparkSession, path: String,
      shard: DataFrame): Unit = {
    val rcb = s.read.parquet(s"$path.codebook")
    val cents = s.read.parquet(s"$path.centroids")
    Pq.encodeAgainst(s, shard, cents, rcb)
      .select(col("vec_id"), col("codes"), col("cell").as("part_cell"))
      .repartition(col("part_cell"))
      .write.partitionBy("part_cell").mode("append").parquet(path)
  }

  /** Probe the persisted IVF-PQ layout: route each query against the
    * `.centroids` sidecar, rebuild its per-probed-cell residual LUTs
    * against the `.codebook` sidecar, prune the scan to the probed
    * cells (a LITERAL partition filter — the probed-cell set is
    * bounded by queries × NProbe, a planning-time constant, and the
    * one driver-side collect here is of that same bounded set), decode
    * by joining stored codes to the broadcast LUTs, and rank. The
    * probe is QUANTIZER-AGNOSTIC — everything quantizer-shaped comes
    * from the sidecars, nothing is re-derived or re-trained — so the
    * same code serves both layouts, bit-identical to the matching
    * in-query search (`ann_ivfpq_topk` / `ann_ivfpq_trained_topk`),
    * which LayoutSpec pins row for row.
    */
  def ivfPqProbe(s: SparkSession, dir: String, path: String): DataFrame =
    Ann.rank(Ann.byAdc(Pq.adcScores(probeCandidates(s, dir, path))))

  /** The on-disk serving form of the two-stage refined search
    * (`ann_ivfpq_refined_topk`): the ADC shortlist comes from the
    * STORED codes (pruned, tombstone-filtered — this scan never
    * touches a raw vector) and only the shortlist's queries×ShortR
    * rows point-read the embeddings table for the exact re-rank.
    * Quantizer-agnostic like [[ivfPqProbe]], and tombstones compose:
    * a deleted vector can't reach the shortlist, so the re-rank
    * never resurrects it.
    */
  def ivfPqProbeRefined(s: SparkSession, dir: String,
      path: String): DataFrame =
    Ann.refine(s, dir, Ann.byAdc(Pq.adcScores(probeCandidates(s, dir, path))),
      Ann.ShortR)

  private def probeCandidates(s: SparkSession, dir: String,
      path: String): DataFrame = {
    val rcb = s.read.parquet(s"$path.codebook")
    val cents = s.read.parquet(s"$path.centroids")
    val luts = Pq.luts(Ann.residuals(Ann.probes(s, dir, cents), cents,
      "query_id", "qv", "qrv"), "query_id", "qrv", rcb, Seq("cell"))
    val probedCells = luts.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val stored = s.read.parquet(path)
      .filter(col("part_cell").isin(probedCells: _*))
    // tombstoned vectors leave results immediately (the anti-join runs
    // BEFORE the M-row code explode, and only over the probed cells'
    // rows); physical removal waits for [[compactIvfPq]]. Unhinted:
    // the tombstone set starts tiny (AQE broadcasts it) but is
    // unbounded until a compaction, so a forced broadcast would be
    // the same driver-OOM trap as the curation anti-join.
    val live =
      if (exists(s, s"$path.tombstones"))
        stored.join(s.read.parquet(s"$path.tombstones")
          .select(col("vec_id")).distinct(), Seq("vec_id"), "left_anti")
      else stored
    val scan = live
      .select(col("vec_id").as("neighbor_id"),
        col("part_cell").cast("long").as("cell"),
        posexplode(col("codes")))
      .toDF("neighbor_id", "cell", "subspace", "code")
      .select(col("neighbor_id"), col("cell"),
        col("subspace").cast("long").as("subspace"),
        col("code").cast("long").as("code"))
    scan.join(broadcast(luts), Seq("cell", "subspace", "code"))
  }

  /** The IVF-SQ8 artifact — `ann_ivfsq_topk` made durable, filling
    * the last cell of the compression × artifact matrix (IVF-Flat and
    * IVF-PQ already persist): coded rows (vec_id, codes — 64 bytes,
    * 4× under raw float32) hive-partitioned by coarse cell, with the
    * 64-row quantization grid and the coarse centroids as sidecars.
    * Unlike PQ there is no trained codebook — the grid IS the whole
    * quantizer (one min/max aggregation), which is exactly why SQ8 is
    * the first compression tier real deployments reach for; the
    * artifact makes its probes pay zero quantizer compute AND zero
    * corpus access.
    */
  def writeIvfSq(s: SparkSession, dir: String, path: String): Unit = {
    val cents = Ann.centroids(s, dir)
    val assigned = Ann.assign(load(s, dir, "embeddings"), cents)
      .select(col("vec_id"), col("cell").as("part_cell"))
    Sq.codes(s, dir).join(assigned, "vec_id")
      .select(col("vec_id"), col("codes"), col("part_cell"))
      .repartition(col("part_cell"))
      .write.partitionBy("part_cell").mode("overwrite").parquet(path)
    Sq.dimStats(s, dir).write.mode("overwrite").parquet(s"$path.grid")
    cents.write.mode("overwrite").parquet(s"$path.centroids")
  }

  /** Serve IVF-SQ8 queries from the persisted artifact: route against
    * the `.centroids` sidecar, prune the scan to the probed cells'
    * directories at planning time, reconstruct midpoints from the
    * `.grid` sidecar, rank exactly — row-identical to the in-query
    * `ann_ivfsq_topk` (LayoutSpec pins it, plus the files-skipped
    * pruning and the 4× byte shrinkage over the raw-vector layout).
    */
  def ivfSqProbe(s: SparkSession, dir: String, path: String): DataFrame = {
    val cents = s.read.parquet(s"$path.centroids")
    val probes = Ann.probes(s, dir, cents)
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val stored = s.read.parquet(path)
      .filter(col("part_cell").isin(cells: _*))
    val dv = Sq.dequantizeAgainst(
      stored.select(col("vec_id"), col("codes")),
      s.read.parquet(s"$path.grid"))
    val assigned = stored
      .select(col("vec_id"), col("part_cell").cast("long").as("cell"))
      .join(dv, "vec_id")
      .select(col("vec_id"), col("cell"), col("dv").as("cv"))
    Ann.rank(Ann.byCos(Ann.probeJoin(assigned, probes)))
  }

  /** Mark vectors deleted — the third index-maintenance verb next to
    * append and rebuild. Deletes are TOMBSTONES: the ids land in a
    * `.tombstones` sidecar (appended, so deletes compose) and every
    * probe anti-joins them out; nothing rewrites the coded corpus on
    * the delete path, which at 100 TB is the difference between an
    * O(deleted) metadata write and an O(index) rewrite per delete
    * batch. Deleting an absent id is a no-op by construction.
    */
  def deleteFromIvfPq(s: SparkSession, path: String,
      ids: DataFrame): Unit =
    ids.select(col("vec_id")).distinct()
      .coalesce(1)
      .write.mode("append").parquet(s"$path.tombstones")

  /** Fold the tombstones in and squash the small files appends leave:
    * rewrite each cell's directory from its live rows (one file per
    * cell — `repartition` on the partition key), swap the rewritten
    * tree in, drop the tombstone sidecar. Probes before and after a
    * compaction are identical (LayoutSpec pins it) — compaction is
    * pure physical hygiene, run when the tombstone set or the
    * per-cell file count has grown past taste.
    */
  def compactIvfPq(s: SparkSession, path: String): Unit = {
    val stored = s.read.parquet(path)
      .select(col("vec_id"), col("codes"),
        col("part_cell").cast("long").as("part_cell"))
    val live =
      if (exists(s, s"$path.tombstones"))
        stored.join(s.read.parquet(s"$path.tombstones")
          .select(col("vec_id")).distinct(), Seq("vec_id"), "left_anti")
      else stored
    // materialize into a sibling tree, then swap — overwriting the
    // directory a lazy plan is still reading from would race the scan
    val tmp = s"$path.compacting"
    live.repartition(col("part_cell"))
      .write.partitionBy("part_cell").mode("overwrite").parquet(tmp)
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    fs.delete(p, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), p)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path.tombstones"), true)
  }

  private def exists(s: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** The classic five-stage parallel-prefix bit spread: after stage k
    * the input's low bits sit in groups separated by gaps twice as
    * wide; the final stage leaves input bit i at position 2i. Masks
    * appear as the same decimal literals in the `zorder_keys` oracle
    * SQL.
    */
  private val SpreadStages = Seq(
    16 -> 0x0000FFFF0000FFFFL,
    8 -> 0x00FF00FF00FF00FFL,
    4 -> 0x0F0F0F0F0F0F0F0FL,
    2 -> 0x3333333333333333L,
    1 -> 0x5555555555555555L)

  /** Spread the low 32 bits of `c` to even bit positions (0,2,…,62). */
  private def spread(c: org.apache.spark.sql.Column) =
    SpreadStages.foldLeft(c) { case (x, (n, m)) =>
      x.bitwiseOR(shiftleft(x, n)).bitwiseAND(lit(m))
    }

  /** Morton/Z-value of two non-negative int keys: bits interleaved so
    * that sorting by z clusters BOTH dimensions at once. Pure column
    * arithmetic — fully codegen'd, no UDF. Ten shift/or/mask nodes per
    * dimension regardless of `bits` (the parallel-prefix form; the
    * naive per-bit fold costs 2·bits nodes — 84 at 21 bits —
    * ZorderSpec pins value-equality against that reference fold).
    */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      bits: Int): org.apache.spark.sql.Column = {
    val mask = (1L << bits) - 1
    spread(a.cast("long").bitwiseAND(lit(mask)))
      .bitwiseOR(shiftleft(spread(b.cast("long").bitwiseAND(lit(mask))), 1))
  }

  /** Z-order `df` by two keys: normalize each key to the SAME `bits`-
    * wide range (min/max scaling off a 1-row broadcast — raw
    * interleaving of unequal-width keys degenerates to a plain sort on
    * the wider one, since its high bits sit above all of the narrow
    * key's), interleave, then range-shuffle + sort on z. Every output
    * file covers a compact rectangle in (keyA, keyB) space — parquet
    * min/max stats skip most files for a selective filter on EITHER
    * key, which a single-column sort only gives its own key. The
    * 100 TB pattern for tables queried along two independent
    * dimensions; the write adds one stats pass + one narrow projection.
    */
  def writeZOrdered(df: DataFrame, keyA: String, keyB: String,
      path: String, files: Int = 16, bits: Int = 10): Unit = {
    val stats = df.agg(
      min(col(keyA)).cast("long").as("amin"),
      max(col(keyA)).cast("long").as("amax"),
      min(col(keyB)).cast("long").as("bmin"),
      max(col(keyB)).cast("long").as("bmax"))
    val width = (1L << bits) - 1
    def norm(c: org.apache.spark.sql.Column, lo: String, hi: String) =
      ((c.cast("long") - col(lo)) * width /
        greatest(col(hi) - col(lo), lit(1L))).cast("long")
    df.crossJoin(broadcast(stats))
      .withColumn("z", zValue(norm(col(keyA), "amin", "amax"),
        norm(col(keyB), "bmin", "bmax"), bits))
      .repartitionByRange(files, col("z"))
      .sortWithinPartitions(col("z"))
      .drop("z", "amin", "amax", "bmin", "bmax")
      .write.mode("overwrite").parquet(path)
  }

  /** Graded query `zorder_keys` — the Morton interleave itself,
    * hash-oracled. Buckets are taken by masking the user id and
    * integer-dividing event time to minute grain then masking:
    * bitwise AND, `div`, `<<` and `|` are exact integer ops with
    * identical semantics in Spark and DuckDB, so the five-stage
    * interleave hash-matches bit for bit. The top-100 by key
    * (event_id tiebreak → total order) exercises every spread stage —
    * one wrong mask reorders the whole prefix. This is the same
    * [[zValue]] the layout writers sort by: the graded row pins the
    * math the pruning story rests on.
    */
  def zorderKeys(s: SparkSession, dir: String): DataFrame =
    graft.Tables.events(s, dir)
      .select(col("event_id"),
        col("user_id").bitwiseAND(lit(2097151L)).as("zx"),
        expr("unix_micros(ts) div 60000000")
          .bitwiseAND(lit(2097151L)).as("zy"))
      .withColumn("zkey", zValue(col("zx"), col("zy"), 21))
      .orderBy(col("zkey").desc, col("event_id").asc)
      .limit(100)

  /** Z-order with a COARSE Morton prefix as a partition column — the
    * relational twin of the IVF index lifecycle: bucket directory =
    * the top `bucketBits` bits of the z-key (a rectangle in key
    * space), rows z-sorted inside each bucket, normalization bounds
    * persisted as a `.bounds` sidecar so appends and probes are
    * self-sufficient. [[writeZOrdered]] is the one-shot reshape; this
    * is the LIFECYCLE form a growing 100 TB table needs — append
    * daily ([[appendToZOrdered]]: new files land only in the buckets
    * the batch touches, nothing existing read or rewritten), compact
    * when buckets fragment ([[compactZBuckets]]: rewrites ONLY
    * multi-file buckets via dynamic partition overwrite), and serve
    * 2-D boxes under a LITERAL partition filter ([[zOrderedProbe]])
    * instead of relying on footer stats alone.
    */
  def writeZBucketed(s: SparkSession, df: DataFrame, keyA: String,
      keyB: String, path: String, bits: Int = 10, bucketBits: Int = 4,
      bounds: Option[(Long, Long, Long, Long)] = None,
      curve: String = "morton"): Unit = {
    require(bucketBits % 2 == 0, "bucketBits must split evenly over 2 dims")
    require(curve == "morton" || curve == "hilbert", s"unknown curve $curve")
    import s.implicits._
    // explicit bounds serve the BOOTSTRAP flow — create an empty
    // layout with the expected key ranges, then stream appends into
    // it — and the empty-rebuild edge (a min/max over zero rows is
    // NULL; coalesce keeps the write total rather than throwing)
    val (amin, amax, bmin, bmax) = bounds.getOrElse {
      val st = df.agg(
        coalesce(min(col(keyA)).cast("long"), lit(0L)),
        coalesce(max(col(keyA)).cast("long"), lit(0L)),
        coalesce(min(col(keyB)).cast("long"), lit(0L)),
        coalesce(max(col(keyB)).cast("long"), lit(0L))).head
      (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
    }
    Seq((keyA, keyB, amin, amax, bmin, bmax, bits, bucketBits,
        null.asInstanceOf[Array[Double]], null.asInstanceOf[Array[Double]],
        curve))
      .toDF("key_a", "key_b", "amin", "amax", "bmin", "bmax",
        "bits", "bucket_bits", "a_bounds", "b_bounds", "curve")
      .write.mode("overwrite").parquet(s"$path.bounds")
    zWrite(df, readZBounds(s, path), path, mode = "overwrite")
  }

  /** Equi-DEPTH variant of [[writeZBucketed]] — the skew-proof form.
    * Min-max normalization collapses a zipf-distributed key into a
    * handful of hot Morton cells (most of the value range is empty,
    * the head lands in one bucket — the 100 TB failure mode for id-
    * and count-like keys). Here each dimension's coordinate is its
    * QUANTILE bucket instead: boundaries from one approxQuantile pass
    * (driver-held, 2^bits−1 doubles — KB-scale, same budget as a
    * trained codebook), rows routed through the codegen'd
    * `sorted_bucket` binary search (O(log k) per row per dim — see
    * [[graft.functions.SortedBucket]]). Equal-population buckets by
    * construction, whatever the distribution; appends freeze the
    * boundaries exactly like min-max bounds (drift degrades balance
    * until a rebuild, never correctness). ZorderSpec measures the
    * imbalance factor both ways on a zipf corpus.
    */
  def writeZBucketedEquiDepth(s: SparkSession, df: DataFrame,
      keyA: String, keyB: String, path: String, bits: Int = 10,
      bucketBits: Int = 4): Unit = {
    require(bucketBits % 2 == 0, "bucketBits must split evenly over 2 dims")
    import s.implicits._
    val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
    val Array(aBs, bBs) = Array(keyA, keyB).map(k =>
      df.select(col(k).cast("double").as(k))
        .stat.approxQuantile(k, probs, 1e-4))
    Seq((keyA, keyB, 0L, 0L, 0L, 0L, bits, bucketBits, aBs, bBs,
        "morton"))
      .toDF("key_a", "key_b", "amin", "amax", "bmin", "bmax",
        "bits", "bucket_bits", "a_bounds", "b_bounds", "curve")
      .write.mode("overwrite").parquet(s"$path.bounds")
    zWrite(df, readZBounds(s, path), path, mode = "overwrite")
  }

  private case class ZBounds(keyA: String, keyB: String, amin: Long,
      amax: Long, bmin: Long, bmax: Long, bits: Int, bucketBits: Int,
      aBounds: Option[Array[Double]], bBounds: Option[Array[Double]],
      curve: String)

  private def readZBounds(s: SparkSession, path: String): ZBounds = {
    val r = s.read.parquet(s"$path.bounds").head
    def arr(name: String): Option[Array[Double]] =
      Option(r.getAs[scala.collection.Seq[Double]](name)).map(_.toArray)
    ZBounds(r.getAs[String]("key_a"), r.getAs[String]("key_b"),
      r.getAs[Long]("amin"), r.getAs[Long]("amax"),
      r.getAs[Long]("bmin"), r.getAs[Long]("bmax"),
      r.getAs[Int]("bits"), r.getAs[Int]("bucket_bits"),
      arr("a_bounds"), arr("b_bounds"), r.getAs[String]("curve"))
  }

  /** z + zbucket columns under FROZEN bounds. Out-of-bounds values
    * clamp to the edge bucket — the same contract as IVF appends
    * under a frozen quantizer: drift degrades locality until a
    * rebuild, never correctness.
    */
  private def zCols(df: DataFrame, zb: ZBounds): DataFrame = {
    val width = (1L << zb.bits) - 1
    def norm(c: org.apache.spark.sql.Column, lo: Long, hi: Long,
        bs: Option[Array[Double]]) = bs match {
      case Some(qs) => // equi-depth: quantile bucket via binary search
        call_function("sorted_bucket", c.cast("double"), lit(qs))
      case None =>
        val clamped = least(greatest(c.cast("long"), lit(lo)), lit(hi))
        ((clamped - lit(lo)) * width / lit(math.max(hi - lo, 1L)))
          .cast("long")
    }
    val (nx, ny) = (norm(col(zb.keyA), zb.amin, zb.amax, zb.aBounds),
      norm(col(zb.keyB), zb.bmin, zb.bmax, zb.bBounds))
    val key = zb.curve match {
      case "hilbert" => call_function("hilbert_key", nx, ny, lit(zb.bits))
      case _ => zValue(nx, ny, zb.bits)
    }
    df.withColumn("__z", key)
      .withColumn("zbucket",
        shiftright(col("__z"), 2 * zb.bits - zb.bucketBits))
  }

  /** Every data file sits at `zbucket=β/zbatch=i/` — the second level
    * is the INGEST GENERATION (−1 for one-shot writes and compacted
    * output, the micro-batch id for streamed appends), which is what
    * lets a streaming replay overwrite exactly its own partitions and
    * nothing else ([[appendZBatch]]). A consistent two-level
    * hierarchy everywhere keeps partition discovery happy; probes
    * drop both columns.
    */
  private def zWrite(df: DataFrame, zb: ZBounds, path: String,
      mode: String, batchId: Long = -1L): Unit =
    zCols(df, zb)
      .withColumn("zbatch", lit(batchId))
      .repartition(col("zbucket"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.partitionBy("zbucket", "zbatch")
      .mode(mode).parquet(path)

  /** Append a batch under the layout's frozen bounds: new files land
    * ONLY in the buckets the batch touches; nothing existing is read
    * or rewritten.
    */
  def appendToZOrdered(s: SparkSession, path: String,
      batch: DataFrame): Unit =
    zWrite(batch, readZBounds(s, path), path, mode = "append")

  /** Idempotent micro-batch append — the streaming ingest primitive:
    * writes the batch's rows under `zbucket=β/zbatch=batchId` with
    * DYNAMIC partition overwrite, so a crashed half-append heals on
    * replay (the recompute replaces exactly its own (bucket, batch)
    * partitions) and a full replay is a byte-level no-op rewrite.
    * Holds at every crash point without a side ledger — the
    * AdmissionStream store discipline applied to the layout.
    */
  def appendZBatch(s: SparkSession, path: String, batch: DataFrame,
      batchId: Long): Unit = {
    require(batchId >= 0, "batch ids are non-negative; -1 marks one-shot writes")
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try zWrite(batch, readZBounds(s, path), path, mode = "overwrite",
      batchId = batchId)
    finally prev match {
      case Some(v) =>
        s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Compact fragmented buckets: find partitions holding >1 data
    * file, re-sort and rewrite THOSE alone; single-file buckets keep
    * their files byte-identical. Returns the rewritten bucket ids
    * (empty = already compact and the call did no work — a second run
    * is a no-op). The rewrite stages into a `.compacting` sibling and
    * swaps per bucket dir (never reads and overwrites the same live
    * files — the BM25 sidecar-merge discipline); single-writer
    * assumed, as for every layout verb here.
    */
  def compactZBuckets(s: SparkSession, path: String): Seq[Long] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    def parquetCount(p: org.apache.hadoop.fs.Path): Int =
      fs.listStatus(p).map { st =>
        if (st.isDirectory) parquetCount(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) 1 else 0
      }.sum
    val dirty = fs.listStatus(hp).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("zbucket="))
      .filter(st => parquetCount(st.getPath) > 1)
      .map(_.getPath.getName.stripPrefix("zbucket=").toLong)
      .sorted
    if (dirty.nonEmpty) {
      val zb = readZBounds(s, path)
      val tmp = s"$path.compacting"
      zWrite(s.read.parquet(path)
          .filter(col("zbucket").isin(dirty: _*))
          .drop("zbucket", "zbatch"),
        zb, tmp, mode = "overwrite")
      dirty.foreach { beta =>
        val live = new org.apache.hadoop.fs.Path(path, s"zbucket=$beta")
        val fresh = new org.apache.hadoop.fs.Path(tmp, s"zbucket=$beta")
        fs.delete(live, true)
        fs.rename(fresh, live)
      }
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    dirty
  }

  /** Graded query `zorder_probe` — the lifecycle end to end under the
    * driver's oracle: (re)write the sf's lineitem as a z-bucketed
    * layout in a deterministic scratch dir, then serve a mid-range
    * 45–55% box on (l_partkey, l_orderkey) through [[zOrderedProbe]]'s
    * partition-pruned scan. The oracle is the plain SQL box filter
    * over the source table — proving the reshape loses nothing and
    * the bucket-cover math misses nothing, at both sf scales. Like
    * `cid_ingest`, the write round-trip IS the cost under test. Box
    * bounds use exact integer percent math (`lo + (hi−lo)·p div 100`)
    * so both engines compute the identical box.
    */
  def zorderProbe(s: SparkSession, dir: String): DataFrame =
    curveProbe(s, dir, "morton", "graft_zprobe_")

  /** Graded query `hilbert_probe` — the same lifecycle-under-oracle
    * as `zorder_probe` but through the Hilbert numbering: the box
    * result is curve-INDEPENDENT (layouts are permutations), so both
    * graded rows share one SQL oracle while exercising two different
    * key functions, bucket covers and partition layouts. A wrong
    * rotation in the xy→d walk or a bad cover renumbering loses rows
    * and hash-fails.
    */
  def hilbertProbe(s: SparkSession, dir: String): DataFrame =
    curveProbe(s, dir, "hilbert", "graft_hprobe_")

  private def curveProbe(s: SparkSession, dir: String, curve: String,
      prefix: String): DataFrame = {
    val src = graft.Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val path = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      prefix + Integer.toHexString(dir.hashCode)).toString
    // ONE stats pass (r17, guide §1/§6): the write's normalization
    // bounds and the probe's box percentiles are the SAME four
    // min/max values — computing them here and handing them to
    // writeZBucketed drops a second full scan of the fact table per
    // probe lifecycle.
    val st = src.agg(min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_orderkey")), max(col("l_orderkey"))).head
    def pct(lo: Long, hi: Long, p: Long) = lo + (hi - lo) * p / 100
    val (amin, amax) = (st.getLong(0), st.getLong(1))
    val (bmin, bmax) = (st.getLong(2), st.getLong(3))
    writeZBucketed(s, src, "l_partkey", "l_orderkey", path, curve = curve,
      bounds = Some((amin, amax, bmin, bmax)))
    zOrderedProbe(s, path,
      pct(amin, amax, 45), pct(amin, amax, 55),
      pct(bmin, bmax, 45), pct(bmin, bmax, 55))
      .orderBy(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
  }

  /** Bloom sidecar over a NON-layout column — point lookups for the
    * key the curve does not serve. A z-layout answers range boxes on
    * its two curve keys; a point lookup on any other column
    * (`WHERE l_orderkey = k` against a (partkey, suppkey) layout)
    * degenerates to a full scan, because no directory or footer stat
    * is selective in it. One grouped pass builds a Bloom filter PER
    * BUCKET over the probe column (the `bloom_agg` injection — one
    * shuffle of KB-sized partial filters with map-side combine,
    * O(2^bucketBits · bits/8) total state), persisted as a `.blooms`
    * sidecar. [[bloomPointProbe]] then tests the key against ≤
    * 2^bucketBits driver-held filters and scans only the buckets that
    * might contain it, under a literal partition filter.
    *
    * Freshness contract: filters describe bucket contents at build
    * time. COMPACTION preserves them (it rewrites files, not bucket
    * membership); APPENDS stale them toward false negatives — rebuild
    * after an append cycle, exactly like retraining stats. ZorderSpec
    * pins both directions: the planted staleness miss and the
    * post-rebuild exactness.
    */
  def writeBloomSidecar(s: SparkSession, path: String,
      column: String, fpp: Double = 0.01,
      rowCount: Option[Long] = None): Unit = {
    val layout = s.read.parquet(path)
    // rowCount: a caller that already counted the rows it just wrote
    // (bloomPointProbeQuery's one-pass stats) skips this count's
    // listing + footer pass over the fresh layout
    val perBucket = math.max(rowCount.getOrElse(layout.count()) /
      (1L << readZBounds(s, path).bucketBits), 64L)
    val bits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(perBucket, fpp)
    // coalesce(1): the sidecar is 2^bucketBits KB-scale rows read back
    // with one collect — 16 one-row files were pure commit overhead
    bloomsOf(layout, column, perBucket, bits)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path.blooms")
  }

  /** One grouped bloom-build pass over any (zbucket, column) frame —
    * shared by the full rebuild and the incremental merge, which is
    * what makes merged ≡ rebuilt BYTE-identical (same parameters,
    * same order-free bit-OR construction).
    */
  private def bloomsOf(df: DataFrame, column: String, items: Long,
      bits: Long): DataFrame =
    df.groupBy(col("zbucket").cast("long").as("zbucket"))
      .agg(call_function("bloom_agg", col(column).cast("long"),
        lit(items), lit(bits)).as("bloom"))
      .withColumn("key_col", lit(column))
      .withColumn("est_items", lit(items))

  /** Incrementally fold an appended batch into the `.blooms` sidecar
    * — closing the append-staleness window WITHOUT rescanning the
    * layout: Bloom filters are order-free bit-ORs, so
    * merge(old, bloom(batch)) equals a from-scratch rebuild over the
    * grown bucket BYTE FOR BYTE when built with the same parameters
    * (ZorderSpec pins exactly that equality). Buckets the batch never
    * touched keep their rows as-is; cost is one pass over the BATCH
    * plus 2^bucketBits KB-sized merges on the driver. Pair with
    * [[appendToZOrdered]]/[[appendZBatch]] and point lookups stay
    * fresh one trigger behind the stream.
    */
  def mergeBloomSidecar(s: SparkSession, path: String,
      batch: DataFrame): Unit = {
    import s.implicits._
    val sidecar = s"$path.blooms"
    resolveBloomSidecar(s, sidecar)
    val old = s.read.parquet(sidecar).collect()
    require(old.nonEmpty, s"$sidecar is empty — build it with " +
      "writeBloomSidecar over a non-empty layout before merging")
    val column = old.head.getAs[String]("key_col")
    val items = old.head.getAs[Long]("est_items")
    val bits = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(
        old.head.getAs[Array[Byte]]("bloom"))).bitSize()
    val fresh = bloomsOf(zCols(batch, readZBounds(s, path)), column,
      items, bits).collect()
    def bf(bytes: Array[Byte]) =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes))
    def bytes(b: org.apache.spark.util.sketch.BloomFilter) = {
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos)
      bos.toByteArray
    }
    val freshBy = fresh.map(r =>
      r.getAs[Long]("zbucket") -> r.getAs[Array[Byte]]("bloom")).toMap
    val merged = old.map { r =>
      val beta = r.getAs[Long]("zbucket")
      val blm = freshBy.get(beta) match {
        case Some(add) =>
          bytes(bf(r.getAs[Array[Byte]]("bloom"))
            .mergeInPlace(bf(add)))
        case None => r.getAs[Array[Byte]]("bloom")
      }
      (beta, blm, column, items)
    } ++ freshBy.keySet.diff(old.map(_.getAs[Long]("zbucket")).toSet)
      .toSeq.map(beta => (beta, freshBy(beta), column, items))
    val tmp = s"$sidecar.merging"
    merged.toSeq.toDF("zbucket", "bloom", "key_col", "est_items")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val hp = new org.apache.hadoop.fs.Path(sidecar)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), hp)
  }

  /** Complete a swap interrupted between delete and rename: if the
    * sidecar is missing but a fully-written `.merging` sibling
    * exists, rename it into place. Every sidecar READER calls this,
    * so a crash inside [[mergeBloomSidecar]]'s swap heals on the next
    * probe or merge — recovery-on-read, the same discipline as the
    * layout's batch partitions (no state is ever only-in-flight: the
    * delete runs strictly after the `.merging` write commits, so one
    * complete copy exists at every crash point).
    */
  private def resolveBloomSidecar(s: SparkSession,
      sidecar: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(sidecar)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$sidecar.merging")
    if (!fs.exists(hp) && fs.exists(tmp)) fs.rename(tmp, hp)
  }

  /** Graded query `bloom_point_probe` — the bloom sidecar under the
    * driver's oracle: z-layout on (l_partkey, l_suppkey), filters
    * over l_orderkey, point lookup of the MAX order key (exists by
    * construction, deterministic in both engines). The oracle is the
    * plain `WHERE l_orderkey = (SELECT max(...))` — a pruned lookup
    * that misses a bucket loses rows and hash-fails.
    */
  def bloomPointProbeQuery(s: SparkSession, dir: String): DataFrame = {
    val src = graft.Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val path = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_bprobe_" + Integer.toHexString(dir.hashCode)).toString
    // ONE stats pass (r17): bounds for the write, the probe key and
    // the row count for the filter sizing all come from a single
    // aggregation — this lifecycle previously scanned the fact table
    // three times (write bounds, sidecar count, max key).
    val st = src.agg(min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey")),
      max(col("l_orderkey")), count(lit(1))).head
    writeZBucketed(s, src, "l_partkey", "l_suppkey", path,
      bounds = Some((st.getLong(0), st.getLong(1),
        st.getLong(2), st.getLong(3))))
    writeBloomSidecar(s, path, "l_orderkey", rowCount = Some(st.getLong(5)))
    val k = st.getLong(4)
    bloomPointProbe(s, path, k)
      .orderBy(col("l_partkey"), col("l_suppkey"))
  }

  /** Point lookup via the `.blooms` sidecar: test the key against the
    * driver-held per-bucket filters (no false negatives at build
    * time), scan only the candidate buckets, apply the exact
    * predicate. The sidecar read is 2^bucketBits KB-sized rows — the
    * same planning-time budget as the probed-cell collect in
    * [[ivfPqProbe]].
    */
  def bloomPointProbe(s: SparkSession, path: String,
      key: Long): DataFrame = {
    resolveBloomSidecar(s, s"$path.blooms")
    val rows = s.read.parquet(s"$path.blooms").collect()
    val column = rows.head.getAs[String]("key_col")
    val cand = rows.filter { r =>
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom")))
        .mightContainLong(key)
    }.map(_.getAs[Long]("zbucket")).toSeq
    s.read.parquet(path)
      .filter(col("zbucket").isin(cand: _*))
      .filter(col(column) === key)
      .drop("zbucket", "zbatch")
  }

  /** Per-FILE min/max manifest over arbitrary numeric columns — the
    * Iceberg/Delta data-skipping pattern, completing the sidecar
    * family: the curve keys serve 2-D boxes, `.blooms` serves
    * EQUALITY on a non-layout column, `.zones` serves RANGES on any
    * column. Parquet footers already hold these stats, but at 100 TB
    * a scan that "only" opens every footer is already a
    * million-file metadata storm; a manifest answers the pruning
    * question in ONE read at planning time — exactly why table
    * formats ship manifests instead of trusting footer pushdown.
    *
    * One grouped pass over `_metadata.file_path` (map-side combine
    * collapses each partition to its own file rows). Selectivity
    * tracks physical clustering: range-clustered files give tight
    * disjoint zones; a column uncorrelated with layout gives
    * full-range zones and the probe degrades to a full scan — but
    * never a wrong one (the residual predicate is always applied).
    * Staleness contract matches `.blooms`: appends require a manifest
    * refresh; LayoutSpec-style pins live in ZorderSpec.
    */
  def writeZoneMap(s: SparkSession, path: String,
      cols: Seq[String]): Unit = {
    val df = s.read.parquet(path)
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("long")).as(s"min_$c"),
      max(col(c).cast("long")).as(s"max_$c")))
    df.groupBy(col("_metadata.file_path").as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path.zones")
  }

  /** Incremental manifest maintenance: zone rows are per-FILE and
    * parquet files are immutable, so the manifest is APPEND-ONLY —
    * list the layout, anti-join against the manifest driver-side,
    * scan ONLY the missing files for their min/max, and append their
    * rows. No merge arithmetic at all (contrast the bloom sidecar's
    * bit-OR): new files add rows, untouched files' rows stay valid
    * forever. A crash mid-append can leave duplicate rows for a file
    * on replay — harmless by construction because [[zoneProbe]]
    * reads the survivor list through `distinct`, so re-running this
    * verb is idempotent in effect. Cost: one pass over the NEW files
    * only.
    */
  def mergeZoneMap(s: SparkSession, path: String,
      cols: Seq[String]): Unit = {
    val onDisk = s.read.parquet(path).select(
      col("_metadata.file_path").as("file")).distinct()
      .collect().map(_.getString(0)).toSet
    val known = s.read.parquet(s"$path.zones")
      .select(col("file")).collect().map(_.getString(0)).toSet
    val missing = (onDisk -- known).toIndexedSeq
    if (missing.nonEmpty) {
      val df = s.read.parquet(missing: _*)
      val aggs = cols.flatMap(c => Seq(
        min(col(c).cast("long")).as(s"min_$c"),
        max(col(c).cast("long")).as(s"max_$c")))
      df.groupBy(col("_metadata.file_path").as("file"))
        .agg(aggs.head, aggs.tail: _*)
        .coalesce(1)
        .write.mode("append").parquet(s"$path.zones")
    }
  }

  /** Range probe through the `.zones` manifest: keep files whose
    * [min, max] interval intersects [lo, hi], read exactly those, and
    * apply the exact residual predicate. The manifest filter is a
    * dataframe (at million-file scale it's a distributed filter); the
    * collected survivor list is planning state, the same budget as
    * any file listing. An all-null column in a file yields null
    * min/max → the file is dropped, which is correct: null never
    * satisfies BETWEEN.
    */
  def zoneProbe(s: SparkSession, path: String, column: String,
      lo: Long, hi: Long): DataFrame = {
    // distinct: a crashed-and-replayed mergeZoneMap can leave a
    // file's row duplicated, and a doubled path would read it twice
    val files = s.read.parquet(s"$path.zones")
      .filter(col(s"min_$column") <= hi && col(s"max_$column") >= lo)
      .select(col("file")).distinct().collect().map(_.getString(0))
    val base =
      if (files.isEmpty) s.read.parquet(path).limit(0)
      else s.read.parquet(files.toIndexedSeq: _*)
    base.filter(col(column).between(lo, hi))
  }

  /** Graded query `zone_probe` — manifest-pruned range scan end to
    * end: lineitem range-clustered on l_orderkey into 8 files, zone
    * maps written, the 45–55% l_orderkey band served through
    * [[zoneProbe]]. The oracle is the plain SQL range filter, blind
    * to the layout — files are an implementation detail the result
    * must not see. Box bounds use exact integer percent math so both
    * engines compute the identical band.
    */
  def zoneProbeQuery(s: SparkSession, dir: String): DataFrame = {
    val src = graft.Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val path = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_zones_" + Integer.toHexString(dir.hashCode)).toString
    src.repartitionByRange(8, col("l_orderkey"))
      .write.mode("overwrite").parquet(path)
    writeZoneMap(s, path, Seq("l_orderkey", "l_partkey"))
    val st = src.agg(min(col("l_orderkey")), max(col("l_orderkey"))).head
    def pct(p: Long) =
      st.getLong(0) + (st.getLong(1) - st.getLong(0)) * p / 100
    zoneProbe(s, path, "l_orderkey", pct(45), pct(55))
      .orderBy(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
  }

  /** Rectangle probe: enumerate the bucket grid (≤ 2^bucketBits ids —
    * a planning-time constant, the relational analog of
    * [[ivfPqProbe]]'s probed-cell set), keep buckets whose key-space
    * rectangle intersects the normalized query box (±1 normalized
    * unit of padding absorbs the write side's double truncation), and
    * scan under a LITERAL partition filter — files outside the cover
    * are never opened. The residual exact predicate keeps the result
    * identical to a full scan regardless of the cover. (A bootstrap
    * layout that has never received a row has no data files to infer
    * a schema from — probe after the first append.)
    */
  def zOrderedProbe(s: SparkSession, path: String, aLo: Long, aHi: Long,
      bLo: Long, bHi: Long): DataFrame = {
    val zb = readZBounds(s, path)
    val width = (1L << zb.bits) - 1
    def normV(v: Long, lo: Long, hi: Long,
        bs: Option[Array[Double]]): Long = bs match {
      case Some(qs) => // count of boundaries <= v, as sorted_bucket
        var (l, h) = (0, qs.length)
        while (l < h) {
          val m = (l + h) >>> 1
          if (qs(m) <= v.toDouble) l = m + 1 else h = m
        }
        l.toLong
      case None =>
        ((math.min(math.max(v, lo), hi) - lo) * width.toDouble /
          math.max(hi - lo, 1L)).toLong
    }
    val (naLo, naHi) = (normV(aLo, zb.amin, zb.amax, zb.aBounds) - 1,
      normV(aHi, zb.amin, zb.amax, zb.aBounds) + 1)
    val (nbLo, nbHi) = (normV(bLo, zb.bmin, zb.bmax, zb.bBounds) - 1,
      normV(bHi, zb.bmin, zb.bmax, zb.bBounds) + 1)
    // both curves induce the SAME level-h quadtree cells as buckets —
    // only the cell NUMBERING differs. Enumerate the grid, keep cells
    // intersecting the box, number each through the layout's curve
    // (the curve is hierarchical, so a cell's key prefix — its bucket
    // id — is constant across the cell: take any corner).
    val h = zb.bucketBits / 2
    val low = zb.bits - h // free low bits inside a bucket, per dim
    val cand = (for {
      ah <- 0L until (1L << h)
      bh <- 0L until (1L << h)
      aMin = ah << low
      bMin = bh << low
      if aMin <= naHi && (aMin | ((1L << low) - 1)) >= naLo &&
        bMin <= nbHi && (bMin | ((1L << low) - 1)) >= nbLo
    } yield zb.curve match {
      case "hilbert" =>
        graft.functions.HilbertKey.xy2d(1L << zb.bits, aMin, bMin) >>
          (2 * low)
      case _ =>
        (0 until h).foldLeft(0L) { (acc, i) =>
          acc | (((ah >> i) & 1L) << (2 * i)) |
            (((bh >> i) & 1L) << (2 * i + 1))
        }
    }).distinct
    s.read.parquet(path)
      .filter(col("zbucket").isin(cand: _*))
      .filter(col(zb.keyA).between(aLo, aHi) &&
        col(zb.keyB).between(bLo, bHi))
      .drop("zbucket", "zbatch")
  }
}
