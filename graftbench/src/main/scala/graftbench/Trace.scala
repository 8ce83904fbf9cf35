package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.scheduler._

/** Spans recorded around the benchmark's calls into each layer. Kept in
  * memory and written out when the run ends. A span's self time is its
  * duration minus the part its child spans cover. With tracing off every
  * call runs its body and records nothing. */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, request: Long, name: String,
      startNs: Long, endNs: Long)

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val requestId = ThreadLocal.withInitial[Long](() => 0L)

  /** Spans opened by this thread until the next call share `id`. */
  def request(id: Long): Unit = if (enabled) requestId.set(id)

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), requestId.get(), name, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def all: Vector[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toVector }

  /** Self time in ms per span name: duration minus the union of its
    * children's intervals (children of one span run on its thread, so
    * they do not overlap). */
  def selfMs: Map[String, Seq[Double]] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, xs) =>
      name -> xs.map { s =>
        val covered = kids.getOrElse(s.id, Nil).iterator.map(k => k.endNs - k.startNs).sum
        (s.endNs - s.startNs - covered) / 1e6
      }
    }
  }

  def durationsMs(name: String): Seq[Double] =
    all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6)

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    for (s <- all.sortBy(_.startNs))
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8")): Unit
  }
}

/** Spark execution counts for the traced run, from one listener. */
final class SparkCounts extends SparkListener {
  val jobs, stages, tasks, shuffleRead, shuffleWrite, outputBytes, inputRecords,
    runMs, cpuNs, schedulerDelayMs, gcMs = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      shuffleRead.add(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      outputBytes.add(m.outputMetrics.bytesWritten)
      inputRecords.add(m.inputMetrics.recordsRead)
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      val info = e.taskInfo
      if (info != null && info.finishTime > 0)
        schedulerDelayMs.add(math.max(0L, info.finishTime - info.launchTime -
          m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime))
    }
  }
}
