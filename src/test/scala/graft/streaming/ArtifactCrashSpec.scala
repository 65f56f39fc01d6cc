package graft.streaming

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.{Layout, Retrieval}
import graft.store.Artifact

/** Crash points of the stage-and-publish commit
  * ([[graft.store.Artifact]]). Each maintenance verb on the IVF-PQ
  * layout, the BM25 index, the z-bucket layout and its bloom sidecar
  * runs once cleanly while the protocol steps it passes are recorded;
  * then, for every step in turn, it runs on a fresh copy of the same
  * artifact and is stopped just before that step, which leaves the
  * filesystem as a crash there would. At every point:
  *   - the next probe equals the probe without the verb or the probe
  *     with it (never a mix, never an error);
  *   - replaying the verb leaves the artifact row-identical to the
  *     run without a crash.
  * Append replays go through the streaming ingest, whose batch id is
  * the replay guard.
  */
class ArtifactCrashSpec extends SparkSpec {
  import spark.implicits._

  private object Crash extends RuntimeException("simulated crash")

  private def withHook[A](hook: String => Unit)(body: => A): A = {
    Artifact.onStep = hook
    try body finally Artifact.onStep = _ => ()
  }

  /** The artifact `a` (with its sidecars) in a new directory. */
  private def newBase(): File = Files.createTempDirectory("artifact").toFile

  /** A copy of `base`'s artifact, returned as the path of `a`. */
  private def copyOf(base: File): String = {
    val d = newBase()
    FileUtils.copyDirectory(base, d)
    new File(d, "a").toString
  }

  /** The crash-point check of one verb on a copy of `base`. */
  private def crashPoints(base: File)(verb: String => Unit)(
      probe: String => Any, rows: String => Any): Seq[String] = {
    val before = probe(copyOf(base))
    val clean = copyOf(base)
    val steps = mutable.ArrayBuffer[String]()
    withHook(steps += _)(verb(clean))
    assert(steps.nonEmpty, "the verb passed no protocol step")
    val (after, want) = (probe(clean), rows(clean))
    steps.indices.foreach { i =>
      val path = copyOf(base)
      var n = 0
      withHook { _ => if (n == i) throw Crash; n += 1 } {
        intercept[Crash.type](verb(path))
      }
      val got = probe(path)
      assert(got == before || got == after,
        s"probe after a crash at '${steps(i)}' is neither state")
      verb(path)
      assert(rows(path) == want,
        s"replay after a crash at '${steps(i)}' differs")
    }
    steps.toSeq
  }

  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case a: Array[Byte] => a.toSeq
      case v => v
    }).toSeq.sortBy(_.mkString("|"))

  /** `df` without the ids in `path`'s tombstones. */
  private def untombstoned(path: String, df: DataFrame,
      key: String): DataFrame =
    if (!new File(path + Artifact.Tombstones).exists) df
    else df.join(spark.read.parquet(path + Artifact.Tombstones)
      .select(col(key)).distinct(), Seq(key), "left_anti")

  // --- IVF-PQ -----------------------------------------------------------

  private lazy val emb = Tables.load(spark, sf, "embeddings")
    .select(col("vec_id"), col("embedding"))

  private lazy val shard = emb.filter(col("vec_id") % 5 === 0)
    .select((col("vec_id") + 4000000L).as("vec_id"), col("embedding"))

  private lazy val deadVecs = emb.filter(col("vec_id") % 7 === 1)
    .select(col("vec_id"))

  private lazy val ivfBase: File = {
    val b = newBase()
    Layout.writeIvfPqPartitioned(spark, sf, new File(b, "a").toString)
    b
  }

  private def ivfProbe(p: String) =
    sorted(Layout.ivfPqProbe(spark, sf, p))

  private def ivfRows(p: String) =
    sorted(untombstoned(p, spark.read.parquet(p), "vec_id"))

  test("IVF-PQ streamed append: no crash point loses or doubles codes") {
    crashPoints(ivfBase)(IndexStream.ingestBatch(_, shard, 0L))(
      ivfProbe, ivfRows)
  }

  test("IVF-PQ delete: tombstones publish whole at every crash point") {
    crashPoints(ivfBase)(Layout.deleteFromIvfPq(spark, _, deadVecs))(
      ivfProbe, ivfRows)
  }

  test("IVF-PQ compaction: the index is never missing after a crash") {
    val b = newBase()
    FileUtils.copyDirectory(ivfBase, b)
    val a = new File(b, "a").toString
    IndexStream.ingestBatch(a, shard, 0L)
    Layout.deleteFromIvfPq(spark, a, deadVecs)
    crashPoints(b)(Layout.compactIvfPq(spark, _))(ivfProbe, ivfRows)
  }

  test("an uncommitted stage is thrown away, never published") {
    val a = copyOf(ivfBase)
    val before = (ivfProbe(a), ivfRows(a))
    // a write that died mid-stage: a data file and a half-written
    // manifest, but no commit marker
    val tmp = Files.createTempDirectory("codes").toString + "/c"
    spark.read.parquet(a).limit(3)
      .select((col("vec_id") + 9000000L).as("vec_id"), col("codes"))
      .write.parquet(tmp)
    val staged = new File(s"$a.stage/a/part_cell=0")
    staged.mkdirs()
    new File(tmp).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => FileUtils.copyFileToDirectory(f, staged))
    Files.write(new File(s"$a.stage/_COMMITTED.tmp").toPath, "merge\t".getBytes)
    assert((ivfProbe(a), ivfRows(a)) == before)
    assert(!new File(s"$a.stage").exists, "the stage was not thrown away")
  }

  // --- BM25 -------------------------------------------------------------

  private lazy val docs = Tables.load(spark, sf, "documents")

  private def bm25Of(d: DataFrame): File = {
    val lake = Files.createTempDirectory("bm25_lake").toString
    d.write.parquet(s"$lake/documents.parquet")
    val b = newBase()
    Retrieval.writeBm25Index(spark, lake, new File(b, "a").toString)
    b
  }

  private lazy val bm25Full: File = bm25Of(docs)

  private lazy val deadDocs = docs.filter(col("doc_id") % 7 === 1)
    .select(col("doc_id"))

  private lazy val bm25Deleted: File = {
    val b = newBase()
    FileUtils.copyDirectory(bm25Full, b)
    Retrieval.deleteFromBm25(spark, new File(b, "a").toString, deadDocs)
    b
  }

  private def bm25Probe(p: String) =
    Retrieval.bm25MultiProbe(spark, p).collect().toSeq

  private def bm25Rows(p: String) =
    (sorted(untombstoned(p, spark.read.parquet(p), "doc_id")),
      sorted(spark.read.parquet(s"$p.lexicon")),
      sorted(spark.read.parquet(s"$p.stats")))

  test("BM25 streamed append: postings and df/N/sumdl publish together, " +
      "a replay never adds them twice") {
    val seed = bm25Of(docs.filter(col("doc_id") % 3 === 0))
    val batch = docs.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), col("text"))
    crashPoints(seed)(IndexStream.ingestBm25Batch(_, batch, 0L))(
      bm25Probe, bm25Rows)
  }

  test("BM25 delete: statistics never drift from the tombstones") {
    crashPoints(bm25Full)(Retrieval.deleteFromBm25(spark, _, deadDocs))(
      bm25Probe, bm25Rows)
  }

  test("BM25 repair: the lexicon and stats are never missing") {
    crashPoints(bm25Deleted)(Retrieval.repairBm25Sidecars(spark, _))(
      bm25Probe, bm25Rows)
  }

  test("BM25 compaction: the index is never missing after a crash") {
    crashPoints(bm25Deleted)(Retrieval.compactBm25(spark, _))(
      bm25Probe, bm25Rows)
  }

  // --- z-bucket layout ----------------------------------------------------

  private lazy val lineitem = Tables.load(spark, sf, "lineitem")
    .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")

  private def zRows(p: String) =
    sorted(spark.read.parquet(p).drop("zbatch"))

  test("z-bucket compaction: no crash point drops a bucket's rows") {
    val b = newBase()
    val a = new File(b, "a").toString
    Layout.writeZBucketed(spark, lineitem.filter(col("l_orderkey") % 3 =!= 0),
      "l_partkey", "l_orderkey", a, bucketBits = 2)
    Layout.appendToZOrdered(spark, a,
      lineitem.filter(col("l_orderkey") % 3 === 0))
    assert(Layout.compactZBuckets(spark, copyOf(b)).nonEmpty,
      "the fixture has no fragmented bucket")
    // the probe box covers every key: a lost bucket shows as lost rows
    crashPoints(b)(Layout.compactZBuckets(spark, _))(
      p => sorted(Layout.zOrderedProbe(spark, p, Long.MinValue,
        Long.MaxValue, Long.MinValue, Long.MaxValue)), zRows)
  }

  test("bloom merge: the sidecar is never missing or half merged") {
    val b = newBase()
    val a = new File(b, "a").toString
    Layout.writeZBucketed(spark, lineitem.filter(col("l_orderkey") % 2 === 0),
      "l_partkey", "l_orderkey", a)
    Layout.writeBloomSidecar(spark, a, "l_orderkey")
    // rows the sidecar does not cover yet: the merge folds them in
    val late = lineitem.filter(col("l_orderkey") % 2 === 1)
      .union(lineitem.limit(5).select(lit(7777777L).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity")))
    Layout.appendToZOrdered(spark, a, late)
    val keys = lineitem.filter(col("l_orderkey") % 2 === 1)
      .select(col("l_orderkey")).as[Long].head(3).toSeq :+ 7777777L
    crashPoints(b)(Layout.mergeBloomSidecar(spark, _, late))(
      p => keys.map(k => sorted(Layout.bloomPointProbe(spark, p, k))),
      p => sorted(spark.read.parquet(s"$p.blooms")))
  }
}
