package graft

/** Plan inspector: `runMain graft.Explain <query> [sfDir]` prints the
  * formatted physical plan of one SparkEntry query and times its
  * execution (twice, to separate plan/JIT warmup from steady state),
  * in the bench's session ([[Bench.session]]).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = Bench.session(Bench.cpus)
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"run $i: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
