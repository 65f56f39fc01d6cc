package graft

/** Dump `.explain("formatted")` for a list of SparkEntry queries —
  * the r16 optimization round's plan-evidence tool:
  * `runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>` writes
  * `<outDir>/<query>_<suffix>.txt` per query. The session is
  * [[Bench.session]], so the dumped plans are the plans the bench runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session(Bench.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val text = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      Verify.safeClearCache(spark)
    }
    spark.stop()
  }
}
