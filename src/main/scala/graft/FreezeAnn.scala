package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One-shot generator for `operators/FrozenAnn.scala` — the FROZEN
  * ANN models (trained IVF centroids, OPQ rotation + codebook)
  * committed as source literals so the trained-quantizer serving
  * paths can be HASH-GRADED against DuckDB (the `bpe_tokenize_frozen`
  * recipe applied to vector quantizers: train once with the
  * deterministic seed rule, freeze the model as literal tables,
  * replay assignment + probe identically in both engines).
  *
  * Run: `sbt 'runMain graft.FreezeAnn /root/testdata/sf0.01
  * src/main/scala/graft/operators/FrozenAnn.scala'`, commit the
  * output. Regenerate only when the trainers change — the committed
  * literals ARE the model the graded queries serve, exactly like a
  * production index ships a trained quantizer that outlives corpus
  * growth (sf0.1 bench serves the same frozen model).
  *
  * Precision contract: IVF centroids and PQ sub-centroids are kept
  * as float32 shortest-representations (`Float.toString` round-trips
  * exactly; the SQL side gets `toDouble.toString`, the float's exact
  * double value). The OPQ rotation is ROUNDED to 7 decimals — the
  * frozen model is DEFINED as the rounded matrix (both engines
  * multiply the same literal, so exact orthogonality is not required
  * for replay; the refined form re-ranks on raw vectors anyway).
  */
object FreezeAnn {

  private def fmtF(f: Float): String = f.toString

  private def round7(d: Double): Double =
    BigDecimal(d).setScale(7, BigDecimal.RoundingMode.HALF_UP).toDouble

  def main(args: Array[String]): Unit = {
    val (dir, out) = (args(0), args(1))
    val builder = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
    Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val cents = graft.operators.KMeans.trainedCentroids(spark, dir)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val m = graft.operators.Opq.model(spark, dir)
    val rot = m.rot.map(_.map(round7))
    val cb = m.codebook.sortBy(e => (e._1, e._2))
    val pca = graft.operators.Pca.trained(spark, dir)._2
      .take(graft.operators.Pca.K).map(_.map(round7))
    // the IVF-OPQ residual codebook: Lloyd's over the rotated
    // residuals of the FRESH quantizer collected above — never the
    // compiled FrozenAnn members, which are one generation stale
    // during this very run when a trainer changed (training against
    // them would silently commit a codebook for a quantizer the file
    // no longer contains)
    val iocb = graft.operators.Opq
      .ivfOpqResidualCodebookFrom(spark, dir,
        cents.toSeq.toDF("cent_id", "cvec"), rot,
        memoKey = dir -> "ivfopqcb-freeze")
      .as[(Long, Long, Array[Float])].collect().sortBy(e => (e._1, e._2))

    val centText = cents.map { case (id, v) =>
      s"$id:" + v.map(fmtF).mkString(",")
    }.mkString(";")
    val rotRows = rot.map(_.mkString(","))
    val cbText = cb.map { case (sub, code, v) =>
      s"$sub:$code:" + v.map(fmtF).mkString(",")
    }.mkString(";")
    val ioCbText = iocb.map { case (sub, code, v) =>
      s"$sub:$code:" + v.map(fmtF).mkString(",")
    }.mkString(";")
    val pcaRows = pca.map(_.mkString(","))

    val src = new StringBuilder
    src ++= s"""package graft.operators
      |
      |import org.apache.spark.sql.{DataFrame, SparkSession}
      |
      |/** FROZEN ANN models — GENERATED by `graft.FreezeAnn` from
      |  * `$dir` (KMeans.trainedCentroids seed-stride quantizer,
      |  * Rounds=${graft.operators.KMeans.Rounds}; Opq.model
      |  * Iters=${graft.operators.Opq.Iters}, rotation rounded to 7
      |  * decimals). Do not edit by hand; regenerate via the
      |  * generator's scaladoc command when a trainer changes.
      |  *
      |  * These literals are the deployable artifact of the trainers:
      |  * the `ann_ivf_frozen_topk` / `ann_opq_frozen_topk` graded
      |  * queries serve THIS model in both Spark and the DuckDB
      |  * oracle, which hash-grades the trained-quantizer serving
      |  * path end to end (train → freeze → assign/probe) the same
      |  * way `bpe_tokenize_frozen` grades the trained BPE merges.
      |  */
      |object FrozenAnn {
      |""".stripMargin

    src ++= s"""
      |  private val CentText: String =
      |    "$centText"
      |
      |  private val RotRows: Seq[String] = Seq(
      |""".stripMargin
    src ++= rotRows.map(r => s"""    "$r"""").mkString(",\n")
    src ++= s"""
      |  )
      |
      |  private val CbText: String =
      |    "$cbText"
      |
      |  private val IvfOpqCbText: String =
      |    "$ioCbText"
      |
      |  private val PcaRows: Seq[String] = Seq(
      |""".stripMargin
    src ++= pcaRows.map(r => s"""    "$r"""").mkString(",\n")
    src ++= """
      |  )
      |""".stripMargin

    src ++= """
      |  /** (cent_id, cvec) of the frozen trained IVF quantizer. */
      |  lazy val ivfCentroids: Seq[(Long, Array[Float])] =
      |    CentText.split(';').toSeq.map { e =>
      |      val Array(id, vs) = e.split(':')
      |      (id.toLong, vs.split(',').map(_.toFloat))
      |    }
      |
      |  /** The frozen OPQ rotation, row-major. */
      |  lazy val rot: Seq[Seq[Double]] =
      |    RotRows.map(_.split(',').toSeq.map(_.toDouble))
      |
      |  /** The frozen top-K PCA components (rows = components). */
      |  lazy val pcaComponents: Seq[Array[Double]] =
      |    PcaRows.map(_.split(',').map(_.toDouble))
      |
      |  /** (subspace, code, cvec_sub) of the frozen OPQ codebook. */
      |  lazy val codebook: Seq[(Long, Long, Array[Float])] =
      |    CbText.split(';').toSeq.map { e =>
      |      val Array(sub, code, vs) = e.split(':')
      |      (sub.toLong, code.toLong, vs.split(',').map(_.toFloat))
      |    }
      |
      |  /** (subspace, code, cvec_sub) of the frozen IVF-OPQ residual
      |    * codebook — Lloyd's-trained on the frozen-model rotated
      |    * residuals R·(v − c(v)) (Opq.ivfOpqResidualCodebookFrom),
      |    * the codebook the `ann_ivfopq_frozen_*` graded queries serve.
      |    */
      |  lazy val ivfOpqCodebook: Seq[(Long, Long, Array[Float])] =
      |    IvfOpqCbText.split(';').toSeq.map { e =>
      |      val Array(sub, code, vs) = e.split(':')
      |      (sub.toLong, code.toLong, vs.split(',').map(_.toFloat))
      |    }
      |
      |  def ivfCentroidFrame(s: SparkSession): DataFrame = {
      |    import s.implicits._
      |    ivfCentroids.toDF("cent_id", "cvec")
      |  }
      |
      |  def codebookFrame(s: SparkSession): DataFrame = {
      |    import s.implicits._
      |    codebook.toDF("subspace", "code", "cvec_sub")
      |  }
      |
      |  def ivfOpqCodebookFrame(s: SparkSession): DataFrame = {
      |    import s.implicits._
      |    ivfOpqCodebook.toDF("subspace", "code", "cvec_sub")
      |  }
      |
      |  /** DuckDB VALUES literal of the centroids — each float as its
      |    * exact double value, so both engines score the same numbers.
      |    */
      |  def ivfCentroidSql: String = ivfCentroids.map { case (id, v) =>
      |    s"($id, [" + v.map(_.toDouble.toString).mkString(", ") + "])"
      |  }.mkString(", ")
      |
      |  /** DuckDB list-of-lists literal of the rotation. */
      |  def rotSql: String = rot
      |    .map(r => "[" + r.mkString(", ") + "]")
      |    .mkString("[", ", ", "]")
      |
      |  /** DuckDB VALUES literal of the codebook. */
      |  def codebookSql: String = codebook.map { case (sub, code, v) =>
      |    s"($sub, $code, [" + v.map(_.toDouble.toString).mkString(", ") +
      |      "])"
      |  }.mkString(", ")
      |
      |  /** DuckDB VALUES literal of the IVF-OPQ residual codebook. */
      |  def ivfOpqCodebookSql: String = ivfOpqCodebook.map {
      |    case (sub, code, v) =>
      |      s"($sub, $code, [" + v.map(_.toDouble.toString).mkString(", ") +
      |        "])"
      |  }.mkString(", ")
      |
      |  /** DuckDB VALUES literal of the PCA components (c, cvec). */
      |  def pcaSql: String = pcaComponents.zipWithIndex.map {
      |    case (v, c) => s"($c, [" + v.mkString(", ") + "])"
      |  }.mkString(", ")
      |}
      |""".stripMargin

    Files.writeString(Paths.get(out), src.toString)
    println(s"[freeze] wrote $out: ${cents.length} centroids, " +
      s"${rot.length}x${rot.head.length} rotation, ${cb.length} codebook " +
      s"entries, ${iocb.length} ivf-opq residual codebook entries, " +
      s"${pca.length}x${pca.head.length} pca basis")
    spark.stop()
  }
}
