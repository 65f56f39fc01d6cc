package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.Layout
import graft.store.Artifact

/** Streaming z-layout ingest: a bootstrap layout fills from a
  * micro-batched stream, equals the one-shot batch reshape, replays
  * are no-ops, and a simulated crashed half-append heals on replay.
  */
class ZorderStreamSpec extends SparkSpec {
  import spark.implicits._

  private def src: DataFrame = Tables.load(spark, sf, "lineitem")
    .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("streamed rows land as if reshaped whole; replay is a no-op; " +
      "a crashed half-append heals") {
    val path = Files.createTempDirectory("zstream").toString + "/zl"
    Layout.writeZBucketed(spark, src.limit(0), "l_partkey", "l_orderkey",
      path, bounds = Some((0L, 199L, 0L, 6000L)))

    val batches = (0 until 3).map(i =>
      src.filter(col("l_orderkey") % 4 === i))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val q = ZorderStream.ingest(mem.toDF()
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity"), path)
    def rowsOf(df: DataFrame) =
      df.as[(Long, Long, Long, Double)].collect().toSeq
    try {
      batches.foreach { b =>
        mem.addData(rowsOf(b): _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = src.filter(col("l_orderkey") % 4 < 3)
    assert(sortedRows(spark.read.parquet(path)
      .drop("zbucket", "zbatch")) == sortedRows(streamed))

    // replayed committed batch: marker-skip, contents unchanged
    ZorderStream.ingestBatch(path, batches(1), batchId = 1L)
    assert(sortedRows(spark.read.parquet(path)
      .drop("zbucket", "zbatch")) == sortedRows(streamed))

    // crash simulation: batch 3's append ran on HALF its rows and
    // died before the marker. The replay overwrites exactly its own
    // (bucket, batch) partitions — no duplicates, no repair verb.
    val b3 = src.filter(col("l_orderkey") % 4 === 3)
    Layout.appendZBatch(spark, path, b3.filter(col("l_suppkey") < 5), 3L)
    ZorderStream.ingestBatch(path, b3, batchId = 3L)
    assert(sortedRows(spark.read.parquet(path)
      .drop("zbucket", "zbatch")) == sortedRows(src))

    // and a probe over the streamed layout matches the source box
    val probe = Layout.zOrderedProbe(spark, path, 40L, 90L, 1000L, 3000L)
    assert(sortedRows(probe) == sortedRows(src.filter(
      col("l_partkey").between(40, 90) &&
        col("l_orderkey").between(1000, 3000))))

    // compaction folds the batch partitions; contents stable
    val rewritten = Layout.compactZBuckets(spark, path)
    assert(rewritten.nonEmpty, "stream left nothing to compact")
    assert(sortedRows(spark.read.parquet(path)
      .drop("zbucket", "zbatch")) == sortedRows(src))
  }

  test("bloom maintenance: point lookups stay fresh one trigger " +
      "behind the stream; replayed merge is byte-idempotent; a " +
      "swap crash heals on the next read") {
    val path = Files.createTempDirectory("zstreamb").toString + "/zl"
    val seed = src.filter(col("l_orderkey") % 2 === 0)
    Layout.writeZBucketed(spark, seed, "l_partkey", "l_orderkey", path)
    Layout.writeBloomSidecar(spark, path, "l_orderkey")

    // a key arriving ONLY via the stream
    val planted = src.limit(5).select(lit(7777777L).as("l_orderkey"),
      col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    val late = src.filter(col("l_orderkey") % 2 === 1).union(planted)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val q = ZorderStream.ingest(mem.toDF()
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity"),
      path, maintainBlooms = true)
    try {
      mem.addData(late.as[(Long, Long, Long, Double)].collect().toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    // fresh WITHOUT any rebuild: the streamed-only key is found
    assert(Layout.bloomPointProbe(spark, path, 7777777L).count() == 5)
    assert(sortedRows(spark.read.parquet(path)
      .drop("zbucket", "zbatch")) == sortedRows(seed.union(late)))

    def sidecarBytes(): Map[Long, Seq[Byte]] =
      spark.read.parquet(s"$path.blooms").collect().map(r =>
        r.getAs[Long]("zbucket") ->
          r.getAs[Array[Byte]]("bloom").toSeq).toMap

    // replayed merge of an already-folded batch: bit-level no-op
    val before = sidecarBytes()
    Layout.mergeBloomSidecar(spark, path, late)
    assert(sidecarBytes() == before,
      "re-merging the same batch changed the sidecar")

    // crash between delete and rename: only the committed stage holds
    // the sidecar. The next reader completes the swap and serves exact
    // results.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sc = new org.apache.hadoop.fs.Path(s"$path.blooms")
    Artifact.onStep = st =>
      if (st == "replace\t.blooms deleted") throw new IllegalStateException
    try intercept[IllegalStateException](
      Layout.mergeBloomSidecar(spark, path, late))
    finally Artifact.onStep = _ => ()
    assert(!fs.exists(sc))
    assert(Layout.bloomPointProbe(spark, path, 7777777L).count() == 5)
    assert(sidecarBytes() == before, "recovered sidecar differs")
  }

  test("zone maintenance: range probes see streamed rows one trigger " +
      "behind; the manifest only grows by the new files; replayed " +
      "merge is harmless through the probe's distinct") {
    val path = Files.createTempDirectory("zstreamz").toString + "/zl"
    val seed = src.filter(col("l_orderkey") % 2 === 0)
    Layout.writeZBucketed(spark, seed, "l_partkey", "l_orderkey", path)
    Layout.writeZoneMap(spark, path, Seq("l_suppkey"))
    val zonesBefore = spark.read.parquet(s"$path.zones").count()

    // rows arriving ONLY via the stream, in a suppkey band of their own
    val planted = src.limit(7).select(col("l_orderkey"),
      col("l_partkey"), lit(9000001L).as("l_suppkey"), col("l_quantity"))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val q = ZorderStream.ingest(mem.toDF()
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity"),
      path, maintainZones = Seq("l_suppkey"))
    try {
      mem.addData(planted.as[(Long, Long, Long, Double)].collect().toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    // fresh WITHOUT a rebuild: the streamed-only band is served
    assert(Layout.zoneProbe(spark, path, "l_suppkey",
      9000000L, 9000002L).count() == 7)
    // the manifest grew by exactly the appended files, seeds untouched
    val zones = spark.read.parquet(s"$path.zones")
    assert(zones.count() > zonesBefore)
    assert(zones.filter(col("min_l_suppkey") === 9000001L).count() ==
      zones.count() - zonesBefore)

    // replayed merge: duplicate rows possible, probe exact regardless
    Layout.mergeZoneMap(spark, path, Seq("l_suppkey"))
    assert(Layout.zoneProbe(spark, path, "l_suppkey",
      9000000L, 9000002L).count() == 7)
  }
}
