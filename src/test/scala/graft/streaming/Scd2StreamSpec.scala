package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.Artifact
import graft.operators.Merge

/** Streaming SCD2 maintenance: streamed ticks equal batch chaining,
  * replay is a no-op, and a crash between writes heals on replay.
  */
class Scd2StreamSpec extends SparkSpec {
  import spark.implicits._

  private def dim0 = Seq(
    (1L, 100L, 0L, Option.empty[Long]),
    (2L, 200L, 0L, Option.empty[Long]),
    (3L, 300L, 0L, Option.empty[Long])
  ).toDF("id", "bal", "valid_from", "valid_to")

  private val batch1 = Seq((1L, 150L), (2L, 200L), (9L, 900L))
  private val batch2 = Seq((1L, 175L), (3L, 333L), (9L, 900L))

  private def chained = {
    val s1 = Merge.scd2Apply(dim0, batch1.toDF("id", "new_val"),
      "id", "bal", 1L)
    Merge.scd2Apply(s1, batch2.toDF("id", "new_val"), "id", "bal", 2L)
  }

  private def sortedRows(df: DataFrame) =
    df.select(col("id"), col("bal"), col("valid_from"), col("valid_to"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
      .sortBy(identity).toSeq

  test("streamed ticks produce exactly the batch-chained version " +
      "history; replay after success is a no-op") {
    val path = Files.createTempDirectory("scd2s").toString + "/dim"
    Scd2Stream.bootstrap(dim0, path)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = Scd2Stream.maintain(mem.toDF().toDF("id", "new_val"),
      path, "id", "bal")
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()

    assert(sortedRows(Scd2Stream.historyOf(spark, path))
      == sortedRows(chained))
    // one current row per key, and key 9 was inserted at tick 1
    val cur = Scd2Stream.currentOf(spark, path)
    assert(cur.count() == 4L)
    assert(cur.filter(col("id") === 9L).head.getLong(2) == 1L)

    // replay a committed tick directly: stats re-read, state unchanged
    val before = sortedRows(Scd2Stream.historyOf(spark, path))
    val st = Scd2Stream.applyTick(path, "id", "bal",
      batch1.toDF("id", "new_val"), 0L)
    assert(st == Scd2Stream.TickStats(0L, 1L, 1L, 4L),
      s"replayed stats $st")
    assert(sortedRows(Scd2Stream.historyOf(spark, path)) == before)
  }

  test("a crash between the snapshot write and the marker heals on " +
      "replay (overwrites of deterministic contents)") {
    val path = Files.createTempDirectory("scd2c").toString + "/dim"
    Scd2Stream.bootstrap(dim0, path)
    val b1 = batch1.toDF("id", "new_val")
    Scd2Stream.applyTick(path, "id", "bal", b1, 0L)

    // simulate tick 1 dying mid-write: half the snapshot landed (and
    // a duplicated row), hist written, NO marker
    val b2 = batch2.toDF("id", "new_val")
    val garbled = Scd2Stream.currentOf(spark, path).limit(2)
      .unionByName(Scd2Stream.currentOf(spark, path).limit(1))
    garbled.write.mode("overwrite").parquet(s"$path/cur/tick=1")
    spark.range(1).select(lit(99L).as("id"), lit(0L).as("bal"),
      lit(0L).as("valid_from"), lit(2L).as("valid_to"))
      .write.mode("overwrite").parquet(s"$path/hist/tick=1")

    // readers never see the wreck: tick 0 is still authoritative
    assert(Artifact.lastMark(spark, path, Artifact.Applied) == 0L)

    // the replay overwrites both dirs and completes the tick
    Scd2Stream.applyTick(path, "id", "bal", b2, 1L)
    assert(sortedRows(Scd2Stream.historyOf(spark, path))
      == sortedRows(chained))
  }

  test("vacuum drops old snapshots, keeps the frontier, and changes " +
      "no reader-visible state") {
    val path = Files.createTempDirectory("scd2v").toString + "/dim"
    Scd2Stream.bootstrap(dim0, path)
    Scd2Stream.applyTick(path, "id", "bal", batch1.toDF("id", "new_val"), 0L)
    Scd2Stream.applyTick(path, "id", "bal", batch2.toDF("id", "new_val"), 1L)
    val before = sortedRows(Scd2Stream.historyOf(spark, path))

    Scd2Stream.vacuum(spark, path, keep = 1)
    val fs = new java.io.File(s"$path/cur")
    assert(fs.list().sorted.toSeq == Seq("tick=1"),
      s"expected only the frontier, got ${fs.list().toSeq}")
    assert(sortedRows(Scd2Stream.historyOf(spark, path)) == before)
    assert(Artifact.lastMark(spark, path, Artifact.Applied) == 1L)

    // idempotent; and the frontier replay still short-circuits
    Scd2Stream.vacuum(spark, path, keep = 1)
    val st = Scd2Stream.applyTick(path, "id", "bal",
      batch2.toDF("id", "new_val"), 1L)
    assert(st.batchId == 1L && st.nCurrent == 4L)
    assert(sortedRows(Scd2Stream.historyOf(spark, path)) == before)
  }

  test("an empty tick closes nothing and keeps the snapshot intact") {
    val path = Files.createTempDirectory("scd2e").toString + "/dim"
    Scd2Stream.bootstrap(dim0, path)
    val st = Scd2Stream.applyTick(path, "id", "bal",
      Seq.empty[(Long, Long)].toDF("id", "new_val"), 0L)
    assert(st == Scd2Stream.TickStats(0L, 0L, 0L, 3L))
    assert(sortedRows(Scd2Stream.currentOf(spark, path))
      == sortedRows(dim0))
  }
}
