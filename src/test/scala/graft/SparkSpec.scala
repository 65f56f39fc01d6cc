package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Every node of the EXECUTED plan, piercing AQE wrappers and
    * materialized query stages but NOT descending into
    * `InMemoryRelation` cached plans — so the returned set is exactly
    * the work the query re-executes itself, with cached subtrees
    * opaque. Plan-shape pins assert on these nodes instead of plan
    * STRINGS: under AQE a reused stage prints as a bare reference
    * (no repeated `InMemoryTableScan` line), so string counting
    * undercounts reuse — the r6 pin failure mode.
    */
  def outerPlanNodes(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    plan +: kids.flatMap(outerPlanNodes)
  }

  /** Every Spark job started while `body` ran, in start order. Fence
    * jobs in groups of their own mark the window: the listener bus
    * delivers in order, so once the closing fence is seen, every job
    * `body` started has been seen too.
    */
  def jobsDuring(body: => Unit): Seq[SparkSpec.JobStart] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[
      SparkSpec.JobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        jobs.add(SparkSpec.JobStart(p.getProperty("spark.jobGroup.id"),
          p.getProperty("spark.job.description"), e.stageInfos.map(_.name)))
      }
    }
    def fence(tag: String): Unit = {
      sc.setJobGroup(tag, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!jobs.asScala.exists(_.group == tag) &&
          System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(jobs.asScala.exists(_.group == tag), s"fence $tag seen")
    }
    sc.addSparkListener(listener)
    try {
      fence("fence-before")
      jobs.clear()
      body
      fence("fence-after")
      jobs.asScala.toSeq.takeWhile(_.group != "fence-after")
    } finally sc.removeSparkListener(listener)
  }

  /** Every Dataset action that succeeded while `body` ran, as (action
    * name, its query execution), in order. A fence action whose output
    * column no other plan has marks the end of the window, as in
    * [[jobsDuring]].
    */
  def actionsDuring(body: => Unit)
      : Seq[(String, org.apache.spark.sql.execution.QueryExecution)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, QueryExecution)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add((f, qe))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val marker = "actions_during_fence"
    def fenced = seen.asScala.exists(_._2.analyzed.output
      .exists(_.name == marker))
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!fenced && System.nanoTime() < deadline) Thread.sleep(10)
      assert(fenced, "fence action seen")
      seen.asScala.toSeq.filterNot(_._2.analyzed.output
        .exists(_.name == marker))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Run `body` with a session conf temporarily overridden (restored
    * even on failure — the suite session is shared).
    */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

object SparkSpec {
  /** One job start: its job group and description (null when unset)
    * and the names of its stages, each a call site.
    */
  final case class JobStart(group: String, description: String,
      stages: Seq[String]) {
    def at(callSite: String): Boolean = stages.exists(_.startsWith(callSite))
  }

  lazy val session: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
    Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}
