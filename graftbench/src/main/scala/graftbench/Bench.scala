package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one run reports: the contract's counts and metrics, plus the
  * workload's detailed per-op figures (printed, not part of the contract
  * line). */
final class Result {
  val attempted, failed = new LongAdder
  @volatile var correct = true
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** An output check; a failed one marks the run incorrect and counts as
    * a failed op. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      correct = false; failed.increment()
      System.err.println(s"[graftbench] CHECK FAILED: $what")
    }
}

/** Latency samples per op name, and request outcomes. */
final class Ops(result: Result) {
  private val lat = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  val refused = new LongAdder

  def record(op: String, ms: Double): Unit =
    lat.computeIfAbsent(op, _ => new ConcurrentLinkedQueue[Double]()).add(ms)

  /** Drop warm-up samples; request counts and failures stay. */
  def clearSamples(): Unit = lat.clear()

  def samples(op: String): Seq[Double] =
    Option(lat.get(op)).map(_.asScala.toVector).getOrElse(Vector.empty)

  /** Time one request; a thrown error or a non-2xx status counts as a
    * failed request (refused when the server pushed back with 429/503). */
  def timed[T](op: String)(f: => T)(status: T => Int): Option[T] = {
    result.attempted.increment()
    val t0 = System.nanoTime()
    val r = try Some(f) catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graftbench] $op failed: $e"); None }
    val ms = (System.nanoTime() - t0) / 1e6
    r.map(status) match {
      case Some(s) if s / 100 == 2 => record(op, ms); r
      case other =>
        result.failed.increment()
        if (other.exists(s => s == 429 || s == 503)) refused.increment()
        System.err.println(s"[graftbench] $op -> ${other.getOrElse("error")}")
        None
    }
  }
}

/** Everything a workload needs: the session, a private work directory
  * inside the checkout, the seed, the measuring time, the trace and the
  * cores a workload may keep busy at once. */
final class Run(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Int, val trace: Trace, val sparkCounts: Option[SparkCounts],
    val cores: Int) {
  private val started = System.nanoTime()
  /** Progress on stderr, with seconds since the run started. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench] ${(System.nanoTime() - started) / 1e9}%7.2f s  $msg")

  private var dirs = 0
  def freshDir(name: String): Path = { dirs += 1; Files.createDirectories(work.resolve(s"$name-$dirs")) }

  /** Run `op(client, k)` for each client in a closed loop until the
    * measuring time is up; the op in flight at the deadline completes.
    * Returns the elapsed seconds. */
  def closedLoop(clients: Int)(op: (Int, Int) => Unit): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    log("measuring")
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var k = 0
        while (System.nanoTime() < deadline) { op(c, k); k += 1 }
      }, s"graftbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    log("measured")
    (System.nanoTime() - t0) / 1e9
  }

  /** Set up `times` times and keep the last; the median of the set-up
    * times is `setup_s` (the first repetition also pays JVM warm-up). */
  def setupRepeated[S](times: Int)(make: Int => S)(discard: S => Unit): (S, Double) = {
    val ts = mutable.ArrayBuffer.empty[Double]
    var kept: Option[S] = None
    for (i <- 0 until times) {
      kept.foreach(discard)
      val t0 = System.nanoTime()
      kept = Some(make(i))
      ts += (System.nanoTime() - t0) / 1e9
    }
    log(f"set-up times ${ts.map(t => f"$t%.3f").mkString(" ")} s")
    (kept.get, Stats.median(ts.toSeq))
  }
}

object Bench {
  /** Bytes and files under a directory tree. */
  def treeSize(dir: Path): (Long, Long, Long) = {
    if (!Files.exists(dir)) return (0L, 0L, 0L)
    val s = Files.walk(dir)
    try s.iterator().asScala.foldLeft((0L, 0L, 0L)) { case ((b, f, d), p) =>
      if (Files.isDirectory(p)) (b, f, d + 1) else (b + Files.size(p), f + 1, d)
    } finally s.close()
  }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }

  /** Copy the files under `from` into the empty directory `to`. */
  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  /** Heap still reachable after a forced collection, in MB. */
  def heapRetainedMb(): Double = {
    val rt = Runtime.getRuntime
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }
}
