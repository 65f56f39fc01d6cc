package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Throwaway measurement harness: per-job wall time + task totals for
  * one SparkEntry query, in the bench's session ([[Bench.session]]).
  * `runMain graft.JobProf <query> [runs]`.
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("dedup_clusters")
    val runs = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session(Bench.cpus)

    case class Job(id: Int, start: Long, var end: Long = 0,
      var nTasks: Int = 0, var taskMs: Long = 0, var desc: String = "")
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stageToJob = mutable.Map[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = Job(e.jobId, e.time)
        j.desc = Option(e.properties.getProperty("spark.job.description"))
          .getOrElse("")
        jobs.synchronized { jobs(e.jobId) = j }
        e.stageIds.foreach(s => stageToJob.synchronized {
          stageToJob(s) = e.jobId })
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(-1L)
        if (ms > 100) println(f"[stage] ${si.stageId}%3d ${ms / 1000.0}%6.2f s tasks=${si.numTasks}%3d  ${si.name.take(90)}")
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val jid = stageToJob.synchronized { stageToJob.get(e.stageId) }
        jid.foreach { id => jobs.synchronized {
          jobs.get(id).foreach { j =>
            j.nTasks += 1
            if (e.taskMetrics != null)
              j.taskMs += e.taskMetrics.executorRunTime
          }
        }}
      }
    })

    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val counts = scala.collection.mutable.Map[String, Int]()
    val sampler = new Thread(() => {
      while (!done.get()) {
        Thread.sleep(20)
        import scala.jdk.CollectionConverters._
        Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
          if (t.getName.startsWith("Executor task launch") &&
              st.nonEmpty && !st.head.toString.contains("SynchronousQueue")) {
            st.take(4).foreach { f =>
              val k = f.getClassName + "." + f.getMethodName
              counts.synchronized {
                counts(k) = counts.getOrElse(k, 0) + 1 }
            }
          }
        }
      }
    })
    sampler.setDaemon(true)
    var samplerOn = false
    (1 to runs).foreach { i =>
      if (i == 2 && !samplerOn) { sampler.start(); samplerOn = true }
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"[scratch] run $i of $name: $wall%.2f s wall")
      jobs.synchronized {
        jobs.values.foreach { j =>
          println(f"[job] ${j.id}%3d  ${(j.end - j.start) / 1000.0}%6.2f s  " +
            f"tasks=${j.nTasks}%3d taskTime=${j.taskMs / 1000.0}%6.2f s  ${j.desc.take(60)}")
        }
        val tot = jobs.values.map(j => j.end - j.start).sum / 1000.0
        println(f"[scratch] sum of job walls: $tot%.2f s over ${jobs.size} jobs")
      }
      Verify.safeClearCache(spark)
    }
    done.set(true)
    counts.synchronized {
      counts.toSeq.sortBy(-_._2).take(25).foreach { case (k, v) =>
        println(f"[prof] $v%6d  $k") } }
    spark.stop()
  }
}
