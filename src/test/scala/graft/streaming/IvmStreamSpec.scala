package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.Artifact

/** Streaming IVM: streamed delta folds equal a from-scratch recompute,
  * a replayed delta folds exactly once, a crash between the snapshot
  * write and the marker heals on replay, and vacuum keeps the replay
  * frontier.
  */
class IvmStreamSpec extends SparkSpec {
  import spark.implicits._

  // base facts: (cust, cents)
  private val base = Seq((1L, 100L), (1L, 50L), (2L, 80L), (3L, 10L))

  private def view0 =
    base.toDF("cust", "s").groupBy(col("cust"))
      .agg(count(lit(1)).as("n"), sum(col("s")).cast("decimal(38,0)").as("s"))

  // tick 0 deletes one of cust 1's rows; tick 1 retracts cust 3
  // entirely and births cust 9
  private val d0 = Seq((1L, -1L, 50L), (2L, 1L, 20L))
  private val d1 = Seq((3L, -1L, 10L), (9L, 1L, 70L))

  private def asMap(df: DataFrame) =
    df.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getDecimal(2).longValue())).toMap

  test("streamed folds equal the recompute; retired groups vanish") {
    val path = Files.createTempDirectory("ivms").toString + "/view"
    IvmStream.bootstrap(view0, path)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)]
    val q = IvmStream.maintain(mem.toDF().toDF("cust", "m", "s"),
      path, Seq("cust"), Seq("s"))
    try {
      mem.addData(d0: _*); q.processAllAvailable()
      mem.addData(d1: _*); q.processAllAvailable()
    } finally q.stop()

    val out = asMap(IvmStream.currentOf(spark, path))
    assert(out == Map(1L -> ((1L, 100L)), 2L -> ((2L, 100L)),
      9L -> ((1L, 70L))), out.toString)
  }

  test("a replayed committed delta folds exactly once") {
    val path = Files.createTempDirectory("ivmr").toString + "/view"
    IvmStream.bootstrap(view0, path)
    val b = d0.toDF("cust", "m", "s")
    IvmStream.applyTick(path, Seq("cust"), Seq("s"), b, 0L)
    val once = asMap(IvmStream.currentOf(spark, path))
    val st = IvmStream.applyTick(path, Seq("cust"), Seq("s"), b, 0L)
    assert(st.nGroups == once.size)
    assert(asMap(IvmStream.currentOf(spark, path)) == once,
      "replay double-applied the delta")
  }

  test("asOf time-travels to any retained committed tick and refuses " +
      "loudly otherwise") {
    val path = Files.createTempDirectory("ivmt").toString + "/view"
    IvmStream.bootstrap(view0, path)
    IvmStream.applyTick(path, Seq("cust"), Seq("s"),
      d0.toDF("cust", "m", "s"), 0L)
    IvmStream.applyTick(path, Seq("cust"), Seq("s"),
      d1.toDF("cust", "m", "s"), 1L)
    // tick 0's world: cust 3 still present, cust 9 not yet born
    val at0 = asMap(IvmStream.asOf(spark, path, 0L))
    assert(at0.contains(3L) && !at0.contains(9L), at0.toString)
    // the bootstrap snapshot is tick -1 and also reachable
    assert(asMap(IvmStream.asOf(spark, path, -1L)) == asMap(view0))
    // frontier asOf == currentOf
    assert(asMap(IvmStream.asOf(spark, path, 1L)) ==
      asMap(IvmStream.currentOf(spark, path)))
    // never-committed tick: named error
    val e1 = intercept[IllegalArgumentException](
      IvmStream.asOf(spark, path, 7L))
    assert(e1.getMessage.contains("never committed"))
    // committed-but-vacuumed tick: named error pointing at keep
    IvmStream.vacuum(spark, path, keep = 1)
    val e2 = intercept[IllegalArgumentException](
      IvmStream.asOf(spark, path, 0L))
    assert(e2.getMessage.contains("vacuumed"))
  }

  test("a crash between the snapshot write and the marker heals; " +
      "vacuum keeps the replay frontier") {
    val path = Files.createTempDirectory("ivmc").toString + "/view"
    IvmStream.bootstrap(view0, path)
    IvmStream.applyTick(path, Seq("cust"), Seq("s"),
      d0.toDF("cust", "m", "s"), 0L)

    // simulate tick 1 dying mid-write: a garbled half-snapshot landed,
    // NO marker — the previous tick stays authoritative
    IvmStream.currentOf(spark, path).limit(1)
      .write.mode("overwrite").parquet(s"$path/cur/tick=1")
    assert(Artifact.lastMark(spark, path, Artifact.Applied) == 0L)

    // the replay overwrites its own tick dir and commits
    IvmStream.applyTick(path, Seq("cust"), Seq("s"),
      d1.toDF("cust", "m", "s"), 1L)
    val out = asMap(IvmStream.currentOf(spark, path))
    assert(out == Map(1L -> ((1L, 100L)), 2L -> ((2L, 100L)),
      9L -> ((1L, 70L))), out.toString)

    // retention: old snapshots go, the frontier stays queryable
    IvmStream.vacuum(spark, path, keep = 1)
    assert(asMap(IvmStream.currentOf(spark, path)) == out)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/cur/tick=0")),
      "vacuum left the old snapshot")

    // multi-batch restart window: an OLDER committed batch replays
    // AFTER vacuum deleted its snapshot — the idempotent skip must
    // not throw on the missing parquet; -1 flags "committed, vacuumed"
    val st = IvmStream.applyTick(path, Seq("cust"), Seq("s"),
      d0.toDF("cust", "m", "s"), 0L)
    assert(st.nGroups == -1L, st.toString)
    assert(asMap(IvmStream.currentOf(spark, path)) == out,
      "a vacuumed replay mutated the view")
  }
}
