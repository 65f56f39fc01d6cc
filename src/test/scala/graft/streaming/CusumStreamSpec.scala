package graft.streaming

import java.sql.Date

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.Artifact
import graft.operators.Temporal

/** Streamed CUSUM maintenance must agree with the batch operator at
  * every batch boundary, and the tick fold must be replay-idempotent.
  */
class CusumStreamSpec extends SparkSpec {
  import spark.implicits._

  private def day(d: Int): Date =
    Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d - 1))

  // the planted step series the batch spec uses: 10 low, 10 high days
  private val series = (1 to 20).map(d =>
    ("a", day(d), if (d <= 10) 100L else 500L))

  test("streamed daily view reproduces the batch CUSUM after " +
    "arbitrary batch splits") {
    val root = java.nio.file.Files.createTempDirectory("cusum_stream")
      .toString
    CusumStream.bootstrap(spark, root)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Date, Long)]
    val q = CusumStream.maintain(
      mem.toDF().toDF("event_type", "day", "cents"), root)
    try {
      // ragged waves, one day split ACROSS waves (two cent rows for
      // day 7 arrive in different ticks and must sum in the view)
      mem.addData(series.take(6) :+ (("a", day(7), 40L)))
      q.processAllAvailable()
      mem.addData((("a", day(7), 60L)) +: series.slice(7, 13))
      q.processAllAvailable()
      mem.addData(series.drop(13))
      q.processAllAvailable()
      val streamed = CusumStream.changepoints(spark, root).collect()
      val batch = Temporal.cusumFor(series.toDF("event_type", "day", "c")
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("c")).as("c"))).collect()
      assert(streamed.map(_.toString).toSeq ==
        batch.map(_.toString).toSeq)
      val r = streamed.head
      assert(r.getAs[Date]("change_day").toString == "2024-01-10")
      assert(r.getAs[Long]("n_days") == 20L)
    } finally q.stop()
  }

  test("a vacuumed-tick replay and a crash mid-write both land on " +
    "the same changepoint (IvmStream discipline, pinned end-to-end)") {
    val root = java.nio.file.Files.createTempDirectory("cusum_vac")
      .toString
    CusumStream.bootstrap(spark, root)
    def delta(rows: Seq[(String, Date, Long)]) =
      rows.toDF("event_type", "day", "c")
        .select(col("event_type"), col("day"), lit(1L).as("m"), col("c"))
    def change(): (String, Long) = {
      val r = CusumStream.changepoints(spark, root).collect().head
      (r.getAs[Date]("change_day").toString, r.getAs[Long]("n_days"))
    }
    IvmStream.applyTick(root, Seq("event_type", "day"), Seq("c"),
      delta(series.take(10)), 0L)
    IvmStream.applyTick(root, Seq("event_type", "day"), Seq("c"),
      delta(series.slice(10, 15)), 1L)
    IvmStream.applyTick(root, Seq("event_type", "day"), Seq("c"),
      delta(series.drop(15)), 2L)
    assert(change() == (("2024-01-10", 20L)))

    // retention: vacuum deletes every snapshot but the frontier —
    // the readout must keep reporting the same changepoint
    IvmStream.vacuum(spark, root, keep = 1)
    assert(change() == (("2024-01-10", 20L)), "vacuum moved the alarm")

    // restart window: an OLDER committed batch replays AFTER vacuum
    // deleted its snapshot — idempotent skip (-1 = committed, vacuumed),
    // and the changepoint must not drift
    val st = IvmStream.applyTick(root, Seq("event_type", "day"),
      Seq("c"), delta(series.take(10)), 0L)
    assert(st.nGroups == -1L, st.toString)
    assert(change() == (("2024-01-10", 20L)),
      "a vacuumed replay mutated the maintained view")

    // crash mid-write: tick 3 dies after a garbled half-snapshot
    // landed but BEFORE its marker — the frontier stays authoritative
    IvmStream.currentOf(spark, root).limit(1)
      .write.mode("overwrite").parquet(s"$root/cur/tick=3")
    assert(Artifact.lastMark(spark, root, Artifact.Applied) == 2L)
    assert(change() == (("2024-01-10", 20L)),
      "a half-written snapshot leaked into the readout")

    // the replayed tick 3 overwrites its own dir and commits; the
    // extra high-side cents keep the change-in-mean at day 10
    IvmStream.applyTick(root, Seq("event_type", "day"), Seq("c"),
      delta(Seq(("a", day(20), 400L))), 3L)
    val batch = Temporal.cusumFor(
      (series :+ (("a", day(20), 400L))).toDF("event_type", "day", "c")
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("c")).as("c"))).collect().head
    assert(change() ==
      ((batch.getAs[Date]("change_day").toString,
        batch.getAs[Long]("n_days"))),
      "healed replay diverged from the batch operator")
  }

  test("a replayed committed tick folds exactly once") {
    val root = java.nio.file.Files.createTempDirectory("cusum_replay")
      .toString
    CusumStream.bootstrap(spark, root)
    val delta = Seq(("a", day(1), 1L, 100L), ("a", day(2), 1L, 200L))
      .toDF("event_type", "day", "m", "c")
    IvmStream.applyTick(root, Seq("event_type", "day"), Seq("c"),
      delta, 0L)
    // replay of the SAME committed tick must be a no-op
    IvmStream.applyTick(root, Seq("event_type", "day"), Seq("c"),
      delta, 0L)
    val view = IvmStream.currentOf(spark, root)
      .orderBy(col("day")).collect()
    assert(view.map(r => (r.getAs[Date]("day").toString,
      r.getAs[Long]("c"))).toSeq ==
      Seq(("2024-01-01", 100L), ("2024-01-02", 200L)))
  }
}
