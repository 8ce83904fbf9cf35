package graft.engine

import graft.cond.Parser
import graft.core.Records
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Small reads on the driver, with no Spark job: the store's bounded
  * cursors and its key lookups ([[BucketStore.readSmall]],
  * [[BucketStore.existingKeys]]). The reference answers a query the
  * same way — each entry's blocks read in ts order, the per-entry
  * filter chain, the entries k-way-merged by (ts, entry)
  * (storage/query/historical.rs:180-235, storage/bucket/query.rs:
  * 156-318). The store picks the files and reads them on its fs pool;
  * this object decodes one file and evaluates a query over the
  * decoded rows.
  *
  * Decoder: parquet-mr's record reader over the requested columns,
  * with read options over the caller's Hadoop configuration, so a read
  * verifies page checksums when the session asks the scan to
  * (`parquet.page.verify-checksum.enabled`, [[graft.GraftSession]]).
  */
private[engine] object SmallRead {

  /** Read options for ONE file reader, over the caller's shared
    * Configuration (a fresh Configuration per file cost 9.8 ms a footer
    * against 0.16 ms shared, local fs). Never share them between
    * readers on several threads: a reader's close releases its options'
    * codec factory, whose decompressor pools are plain maps, and a
    * concurrent release failed key removes with a
    * ConcurrentModificationException. */
  def readOptions(conf: Configuration): ParquetReadOptions =
    org.apache.parquet.HadoopReadOptions.builder(conf).build()

  /** `ts` bounds of a row group from its column statistics. Every base
    * and overlay file is written by the store's parquet writer, so a row
    * group without them breaks the store contract and fails by name. */
  def tsRange(block: BlockMetaData, file: FileStatus): (Long, Long) =
    block.getColumns.asScala.find(_.getPath.toDotString == "ts")
      .map(_.getStatistics).collect {
        case s: org.apache.parquet.column.statistics.LongStatistics
            if s.hasNonNullValue => (s.getMin, s.getMax)
      }.getOrElse(throw new IllegalStateException(
        s"file ${file.getPath} has a row group without ts statistics"))

  /** The values of `columns` for every row of `file` in the row groups
    * whose `ts` bounds pass `meets`, one array per row in `columns`
    * order; other row groups are skipped unread. A column the file lacks
    * reads as null, as it does in the Spark scan. Columns are the
    * stored record's and overlay's: `ts`, `seq` (long), `state` (int),
    * `content_type` (string), `payload` (bytes), `labels`,
    * `computed_labels` (string maps). */
  def decode(file: FileStatus, columns: Seq[String], meets: (Long, Long) => Boolean,
      conf: Configuration): Vector[Array[Any]] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf), readOptions(conf))
    try {
      val fileSchema = reader.getFooter.getFileMetaData.getSchema
      val present = columns.filter(fileSchema.containsField)
      val projection = new MessageType(fileSchema.getName,
        present.map(c => fileSchema.getType(fileSchema.getFieldIndex(c))).asJava)
      reader.setRequestedSchema(projection)
      val io = new ColumnIOFactory().getColumnIO(projection, fileSchema)
      val slots: Array[Int] = columns.map(c =>
        if (projection.containsField(c)) projection.getFieldIndex(c) else -1).toArray
      val decoders = columns.map(decoder).toArray
      val out = Vector.newBuilder[Array[Any]]
      for (block <- reader.getRowGroups.asScala) {
        if (block.getRowCount > 0 && (meets.tupled)(tsRange(block, file))) {
          val pages = reader.readNextRowGroup()
          val records = io.getRecordReader(pages, new GroupRecordConverter(projection))
          var i = 0L
          while (i < pages.getRowCount) {
            val g = records.read()
            val row = new Array[Any](slots.length)
            var c = 0
            while (c < slots.length) {
              val s = slots(c)
              if (s >= 0 && g.getFieldRepetitionCount(s) > 0) row(c) = decoders(c)(g, s)
              c += 1
            }
            out += row
            i += 1
          }
        } else reader.skipNextRowGroup()
      }
      out.result()
    } finally reader.close()
  }

  private def decoder(column: String): (Group, Int) => Any = column match {
    case "ts" | "seq" => (g, s) => g.getLong(s, 0)
    case "state" => (g, s) => g.getInteger(s, 0)
    case "content_type" => (g, s) => g.getString(s, 0)
    case "payload" => (g, s) => g.getBinary(s, 0).getBytes
    case "labels" | "computed_labels" => (g, s) => stringMap(g.getGroup(s, 0))
    case other => throw new IllegalArgumentException(s"no decoder for column '$other'")
  }

  /** A Spark-written `map<string,string>`: one repeated key/value group. */
  private def stringMap(m: Group): Map[String, String] =
    (0 until m.getFieldRepetitionCount(0)).iterator.map { i =>
      val kv = m.getGroup(0, i)
      kv.getString(0, 0) -> (if (kv.getFieldRepetitionCount(1) == 0) null else kv.getString(1, 0))
    }.toMap

  /** The columns of a query answer: the record schema, without
    * `payload` under `only_metadata` — the schema the Spark answer has,
    * so readers that take fields by name see one shape. */
  def answerSchema(onlyMetadata: Boolean): StructType =
    if (onlyMetadata) StructType(Records.schema.filterNot(_.name == "payload"))
    else Records.schema

  /** `spec`'s answer over `rows` — the candidate records (bucket, range,
    * state and entries already applied, effective labels in place) in
    * `schema`: each entry sorted by ts (files of one entry overlap after
    * belated writes), through the per-entry filter loop the Spark kernel
    * runs ([[StatefulKernel.byEntry]]), `#select_labels` applied, and
    * the entries merged by (ts, entry). */
  def answer(rows: Seq[Row], schema: StructType, spec: QuerySpec): Seq[Row] = {
    val (bi, ei, ti, li) = (schema.fieldIndex("bucket"), schema.fieldIndex("entry"),
      schema.fieldIndex("ts"), schema.fieldIndex("labels"))
    val parsed = spec.when.map(Parser.parse)
    val entries = rows.groupBy(r => (r.getString(bi), r.getString(ei))).toSeq
      .sortBy(_._1).map(_._2.sortBy(_.getLong(ti)))
    val matched = parsed.fold(entries.flatten) { p =>
      entries.flatMap(e => StatefulKernel.byEntry(e.iterator, schema, p, spec.strict))
    }
    val selected = parsed.flatMap(_.directives.get("#select_labels")).fold(matched) { names =>
      val keep = names.map(_.show).toSet
      matched.map { r =>
        if (r.isNullAt(li)) r
        else {
          val values = r.toSeq.toArray
          values(li) = r.getMap[String, String](li).filter { case (k, _) => keep(k) }
          new GenericRowWithSchema(values, schema): Row
        }
      }
    }
    selected.sortBy(r => (r.getLong(ti), r.getString(ei)))
  }
}
