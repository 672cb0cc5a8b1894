package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Dataset, SparkInternals, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** One shared local session for all suites (Spark re-uses the first
  * session in the JVM anyway; suites must not stop() it). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4)
  // The shared session keeps the profiles' 64 KB plan-string budget:
  // AQE rebuilds the FULL formatted plan string on every stage update
  // (AdaptiveSparkPlanExec.onUpdatePlan → explainString), so lifting
  // the cap session-wide makes every deep-lineage suite (the chained
  // E2E pipelines build multi-megachar plans) pay O(plan chars) of
  // single-threaded driver time per replan — a large slice of the r18
  // 59-minute suite wall. Audits that grep complete plans lift the
  // (runtime-settable) budget around the explainString call only.
  private val planLock = new Object
  private val capKey = "spark.sql.maxPlanStringLength"

  /** Complete FormattedMode plan regardless of the session's plan-
    * string cap — truncation would silently hide Exchange/Scan nodes
    * from grep-based assertions. The lock only orders fullPlan callers
    * against each other; while the cap is lifted, a query running on
    * another thread (its AQE replans included) would also build
    * uncapped plan strings. That is safe only because the suites run
    * one after another: sbt runs forked suites sequentially unless
    * `Test / testForkedParallel` is set, and build.sbt leaves it off.
    * Turning it on would need a session per suite instead. */
  def fullPlan(df: Dataset[_]): String = planLock.synchronized {
    val prev = spark.conf.get(capKey)
    spark.conf.set(capKey, (Int.MaxValue - 15).toString)
    try df.queryExecution.explainString(FormattedMode)
    finally spark.conf.set(capKey, prev)
  }

  /** The start events of the Spark jobs `body` starts on this thread
    * (by job group, so a stray query of another suite cannot count). */
  def jobStarts[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add(j)
    }
    SparkInternals.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      SparkInternals.drain(sc)
      (out, jobs.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** The number of Spark jobs `body` starts on this thread. */
  def jobsOf[T](body: => T): (T, Int) = {
    val (out, jobs) = jobStarts(body)
    (out, jobs.size)
  }
}
