package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types.StructType

/** Small writes on the driver, with no Spark job: the store's serving
  * appends and label patches stage the rows their requests hold with
  * it, and a key remove stages the survivors of partitions small enough
  * to read on the driver ([[BucketStore.fitsDriver]]). The reference appends a record to its
  * entry's current block file and rewrites a block descriptor for a
  * label patch (storage/entry/write_record.rs, update_labels.rs:14-36)
  * — no distributed job for a small write; a Spark job costs
  * ~150–450 ms of fixed cost on 4 cores for the same rows.
  *
  * The files are Spark's own: the writer factory of Spark's Parquet
  * source ([[ParquetUtils.prepareWrite]]) and its output writer, called
  * on the driver, with rows encoded by the schema's
  * [[ExpressionEncoder]]. They carry Spark's write support, map
  * encoding, row metadata in the footer, the session codec, `ts`
  * column statistics and page checksums, as the files of a Spark write
  * of the same rows do. The layout is the one a partitioned Spark write
  * produces: `bucket=/entry=/dt=/part-*.parquet`, one file per
  * (bucket, entry, dt) group, a group split every `maxRecordsPerFile`
  * rows.
  *
  * One instance serves one call: the Hadoop configuration and the
  * writer factory are prepared once (a Configuration per file costs
  * ~10 ms, see [[BucketStore.footerFigures]]), and [[write]] may run
  * on several threads at once.
  *
  * @param schema the rows' schema; it holds `bucket`, `entry` and
  *        `ts`, and its other columns are the files' data columns, with
  *        the nullability the Spark write of the same rows would have
  */
private[engine] final class SmallWrite(spark: SparkSession, schema: StructType) {
  import SmallWrite._

  private val dataSchema = StructType(schema.filterNot(f => PartitionColumns(f.name)))
  private val dataIndices = dataSchema.fieldNames.toIndexedSeq.map(schema.fieldIndex)
  private val job = Job.getInstance(spark.sessionState.newHadoopConf())
  private val factory = ParquetUtils.prepareWrite(spark.sessionState.conf, job, dataSchema,
    new ParquetOptions(Map.empty[String, String], spark.sessionState.conf))
  private val encoder = ExpressionEncoder(dataSchema)
  private val jobId = java.util.UUID.randomUUID.toString
  private val context = new TaskAttemptContextImpl(job.getConfiguration,
    new TaskAttemptID(new TaskID(new JobID(jobId, 0), TaskType.MAP, 0), 0))
  private val extension = factory.getFileExtension(context)

  /** Write `rows` as file number `n` of this call into `dir`. */
  def write(dir: Path, n: Int, rows: Seq[Row]): Unit = {
    val serialize = encoder.createSerializer()
    val writer = factory.newInstance(
      new Path(dir, f"part-$n%05d-$jobId.c000$extension").toString, dataSchema, context)
    try rows.foreach(r => writer.write(serialize(Row.fromSeq(dataIndices.map(r.get)))))
    finally writer.close()
  }
}

private[engine] object SmallWrite {
  /** The partition columns of every store tree, in directory order. */
  val PartitionColumns: Set[String] = Set("bucket", "entry", "dt")

  /** `rows` (in `schema`) as the files a partitioned Spark write makes
    * of them: per (bucket, entry, dt) group — `dt` the day of `ts` —
    * its rows in ts order, split every `maxRecordsPerFile` rows (0 or
    * less: never), each with its tree-relative directory. */
  def files(rows: Seq[Row], schema: StructType, dtOf: Long => String,
      maxRecordsPerFile: Long): Seq[(String, Seq[Row])] = {
    val (bi, ei, ti) = (schema.fieldIndex("bucket"), schema.fieldIndex("entry"),
      schema.fieldIndex("ts"))
    val perFile = if (maxRecordsPerFile > 0L) math.min(maxRecordsPerFile, Int.MaxValue).toInt
      else Int.MaxValue
    rows.groupBy(r => (r.getString(bi), r.getString(ei), dtOf(r.getLong(ti)))).toSeq.flatMap {
      case ((b, e, d), group) =>
        val rel = s"bucket=${BucketStore.escapePartition(b)}/entry=" +
          s"${BucketStore.escapePartition(e)}/dt=$d"
        group.sortBy(_.getLong(ti)).grouped(perFile).map(rel -> _)
    }
  }
}
