package graft.perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run recorder of the Spark work under the served requests: a
  * `SparkListener` for jobs and tasks and a `QueryExecutionListener` for
  * Catalyst's phase times (`QueryPlanningTracker`). Everything is kept in
  * memory and handed to the client by [[drain]]; the client attributes
  * each job to its enclosing request by time and by the job's call site.
  * All times are epoch milliseconds (listener event times, not delivery
  * times).
  */
final class SparkRecorder extends SparkListener with QueryExecutionListener {
  private val mapper = Harness.json
  private var jobs = mapper.createArrayNode()
  private var tasks = mapper.createArrayNode()
  private var queries = mapper.createArrayNode()
  private val open = scala.collection.mutable.Map.empty[Int, ObjectNode]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val n = jobs.addObject()
    n.put("job", e.jobId).put("start_ms", e.time)
      // the result stage is named after the job's call site
      .put("callsite", e.stageInfos.sortBy(_.stageId).lastOption
        .map(_.name).getOrElse(""))
      .put("stages", e.stageIds.size)
      .put("tasks", 0).put("cpu_ms", 0.0).put("gc_ms", 0L)
      .put("shuffle_bytes", 0L).put("spill_bytes", 0L).put("output_bytes", 0L)
    n.putArray("task_ms")
    open(e.jobId) = n
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { n =>
      n.put("end_ms", e.time)
      n.put("ok", e.jobResult == JobSucceeded)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val t = tasks.addArray()
    t.add(info.launchTime).add(info.finishTime)
    for {
      job <- stageJob.get(e.stageId)
      n <- open.get(job)
      m <- Option(e.taskMetrics)
    } {
      n.put("tasks", n.get("tasks").asInt + 1)
      n.put("cpu_ms", n.get("cpu_ms").asDouble + m.executorCpuTime / 1e6)
      n.put("gc_ms", n.get("gc_ms").asLong + m.jvmGCTime)
      n.put("shuffle_bytes", n.get("shuffle_bytes").asLong +
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      n.put("spill_bytes", n.get("spill_bytes").asLong +
        m.memoryBytesSpilled + m.diskBytesSpilled)
      n.put("output_bytes", n.get("output_bytes").asLong +
        m.outputMetrics.bytesWritten)
      n.withArray[ArrayNode]("task_ms").add(info.finishTime - info.launchTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(funcName, qe, durationNs, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(funcName, qe, 0L, ok = false)

  private def record(funcName: String, qe: QueryExecution, durationNs: Long,
      ok: Boolean): Unit = synchronized {
    val n = queries.addObject()
    n.put("func", funcName).put("ok", ok).put("duration_ms", durationNs / 1e6)
    val phases = qe.tracker.phases
    val start = if (phases.isEmpty) 0L else phases.values.map(_.startTimeMs).min
    n.put("start_ms", start)
    Seq("analysis", "optimization", "planning").foreach { p =>
      n.put(p + "_ms", phases.get(p).map(_.durationMs).getOrElse(0L))
    }
  }

  /** Everything recorded since the last drain, as one JSON object. */
  def drain(): ObjectNode = synchronized {
    val out = mapper.createObjectNode()
    out.set[ArrayNode]("jobs", jobs)
    out.set[ArrayNode]("tasks", tasks)
    out.set[ArrayNode]("queries", queries)
    jobs = mapper.createArrayNode()
    tasks = mapper.createArrayNode()
    queries = mapper.createArrayNode()
    out
  }
}

object SparkRecorder {
  def register(spark: SparkSession): SparkRecorder = {
    val r = new SparkRecorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }
}
