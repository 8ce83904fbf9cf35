package graft.engine

import graft.SparkTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.Suite

/** Spark jobs and executed plans of a block on the calling thread, for
  * specs that pin job counts and plan shapes on the shared session. */
trait SparkJobs extends SparkTestBase { self: Suite =>

  /** Jobs of `f` on the calling thread: it runs under its own job group,
    * and only that group's job starts count, so jobs of other threads on
    * the shared session cannot leak in. */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-spec-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try f finally sc.clearJobGroup()
      drainBus()
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }

  /** Executed plans of the `funcName` actions (`toLocalIterator`,
    * `collect`, ...) that finished while `f` ran. The session is shared,
    * so callers pick an action no background thread runs. */
  def plansOf(funcName: String)(f: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, durationNs: Long): Unit =
        if (fn == funcName) seen.add(qe.executedPlan): Unit
      override def onFailure(fn: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { f; drainBus() }
    finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  /** Returns once every listener event posted so far is delivered: a
    * marker job's start, posted after them, has reached a listener on
    * the same (shared) queue. */
  def drainBus(): Unit = {
    val sc = spark.sparkContext
    val marker = s"drain-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          seen.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(marker, "bus drain")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
    } finally sc.removeSparkListener(listener)
  }
}
