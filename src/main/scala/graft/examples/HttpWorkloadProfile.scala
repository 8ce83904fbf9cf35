package graft.examples

import graft.{Bench, GraftSession}

/** Bench's w_http_concurrent entry in isolation, with a Spark listener
  * counting jobs and their wall time — localizes where the serving
  * entry's seconds go (args: [reps]). */
object HttpWorkloadProfile {
  def main(args: Array[String]): Unit = {
    val reps = if (args.nonEmpty) args(0).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", "graft-httpprofile")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.put(j.jobId, (Option(j.properties.getProperty("spark.job.description"))
            .orElse(Option(j.properties.getProperty("callSite.short")))
            .getOrElse("?"), j.time))
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          done.put(j.jobId, j.time)
      })
    for (r <- 1 to reps) {
      jobs.clear(); done.clear()
      val t0 = System.nanoTime()
      Bench.httpConcurrentWorkload(spark)
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val rows = jobs.asScala.toSeq.sortBy(_._1).map { case (id, (desc, start)) =>
        val dur = done.asScala.get(id).map(e => (e - start) / 1e3).getOrElse(-1.0)
        (id, desc.take(60), dur)
      }
      println(f"--- rep $r wall $wall%.3f s, ${rows.size} jobs, sum-of-jobs ${rows.map(_._3).filter(_ > 0).sum}%.3f s (overlapping)")
      rows.foreach { case (id, d, dur) => println(f"  job $id%3d $dur%8.3f s  $d") }
    }
    spark.stop()
  }
}
