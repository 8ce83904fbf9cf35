package graft.examples

import graft.GraftSession
import graft.core.Records
import graft.engine.{BucketStore, QueryEngine, QuerySpec}
import org.apache.spark.sql.functions._

/** Bench's w_* workload sequence in isolation, with per-phase wall
  * timings (args: [sfDir] [reps]). The profiling loop for the
  * serving/store family; `graftbench/run.py --trace 1` splits the
  * store's phases per op. */
object WorkloadProfile {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", "graft-wprofile")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val records = Records.fromEvents(
      spark.read.parquet(s"$dir/events.parquet")).cache()
    records.count()
    def timed(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[wprofile] $name%-22s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    for (r <- 1 to reps) {
      println(s"--- rep $r")
      val storeDir = java.nio.file.Files.createTempDirectory("graft-wprof").toString
      val store = new BucketStore(spark, storeDir)
      timed("w_write") { store.write(records) }
      timed("w_read_payload") {
        val n = QueryEngine.query(store.table(), QuerySpec())
          .agg(sum(length(col("payload")))).collect()(0).getLong(0)
        require(n > 0)
      }
      timed("w_update_labels") {
        store.updateLabels(QuerySpec(), set = Map("key" -> "value2")): Unit
      }
      locally {
        val exp = java.nio.file.Files.createTempDirectory("graft-wprof-exp")
        try timed("w_export") {
          val m = store.exportShards(QuerySpec(), exp.toString + "/run", nShards = 32)
          require(m.map(_.rows).sum > 0)
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(exp).sorted(
              java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .iterator().asScala.foreach(p =>
              try { java.nio.file.Files.deleteIfExists(p); () }
              catch { case _: java.io.IOException => () })
        }
      }
      timed("w_remove_each_n") {
        store.removeQuery(QuerySpec(when = Some("""{"$each_n": 2}"""))): Unit
      }
      store.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(storeDir)): Unit
    }
    spark.stop()
  }
}
