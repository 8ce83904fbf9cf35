package graft.engine

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Writer parity: the same rows written on the driver ([[SmallWrite]],
  * through [[BucketStore.writeFolded]]) and by the Spark write a spooled
  * upload stages ([[BucketStore.writeStagedSlices]]) give files of
  * one Parquet schema, footer metadata keys and codec, with `ts`
  * statistics on every row group and page checksums, that read back as
  * identical rows through the Spark table and the driver reader; a
  * driver-staged key remove rewrites files of the Spark rewrite's
  * schema. */
class SmallWriteSpec extends AnyFunSuite with SparkJobs {

  private val T0 = 1704067200000000L

  private def recs(entry: String, n: Int): Seq[BucketStore.FoldRec] =
    (0 until n).map(i => BucketStore.FoldRec(entry, T0 + i * 1000L,
      Map("i" -> i.toString, "odd" -> (i % 2 == 1).toString), "text/plain",
      s"$entry-payload-$i".getBytes("UTF-8")))

  /** A store whose bucket `b` rotates files every 5 records. */
  private def newStore(): BucketStore = {
    val s = new BucketStore(spark, Files.createTempDirectory("graft-small-write").toString)
    s.putBucketSettings("b", BucketStore.BucketSettings(maxBlockRecords = Some(5L)))
    s
  }

  /** The base tree's data files, by walking it. */
  private def dataFiles(store: BucketStore): Seq[FileStatus] = {
    val root = new Path(store.root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next(): FileStatus)
      .filter(st => st.getPath.getName.endsWith(".parquet") &&
        !st.getPath.toString.contains("/_"))
      .toSeq.sortBy(_.getPath.toString)
  }

  private def footer(st: FileStatus) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
      HadoopReadOptions.builder(conf).build())
    try reader.getFooter finally reader.close()
  }

  /** Every page of `st` read with checksum verification on. */
  private def readAllPages(st: FileStatus): Long = {
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    conf.setBoolean("parquet.page.verify-checksum.enabled", true)
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
      HadoopReadOptions.builder(conf).build())
    try {
      var pages = 0L
      var group = reader.readNextRowGroup()
      while (group != null) {
        for (c <- reader.getFileMetaData.getSchema.getColumns.asScala) {
          val pr = group.getPageReader(c)
          while (pr.readPage() != null) pages += 1
        }
        group = reader.readNextRowGroup()
      }
      pages
    } finally reader.close()
  }

  /** A copy of `st` with one byte flipped inside its `payload` data. */
  private def corrupted(st: FileStatus): FileStatus = {
    val chunk = footer(st).getBlocks.get(0).getColumns.asScala
      .find(_.getPath.toDotString == "payload").get
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(st.getPath.toUri))
    val at = (chunk.getStartingPos + chunk.getTotalSize - 2).toInt
    bytes(at) = (bytes(at) ^ 0x5a).toByte
    val copy = Files.createTempFile("graft-corrupt", ".parquet")
    Files.write(copy, bytes)
    val p = new Path(copy.toUri)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
  }

  private def rowsOf(rows: Seq[Row]): Seq[String] =
    rows.map { r =>
      val labels = Option(r.getMap[String, String](r.fieldIndex("labels")))
        .map(_.toMap.toSeq.sorted).getOrElse(Nil)
      val payload = Option(r.getAs[Array[Byte]]("payload")).map(new String(_, "UTF-8"))
      Seq(r.getAs[String]("bucket"), r.getAs[String]("entry"), r.getAs[Long]("ts"), labels,
        r.getAs[String]("content_type"), r.getAs[Int]("state"), payload).mkString("|")
    }.sorted

  test("driver-written and Spark-written files have one schema, footer keys, " +
      "codec, ts statistics and page checksums, and read back identically") {
    val driver = newStore()
    val spark0 = newStore()
    try {
      val batch = recs("e", 16)
      val jobs = jobsOf(assert(driver.writeFolded(Seq(BucketStore.FoldReq("b", batch))) ==
        Seq(Right(Set.empty))))
      assert(jobs == 0, s"the driver-side append ran $jobs Spark jobs")
      // the Spark write a spooled upload stages: the payloads
      // concatenated in one staging file, sliced back out executor-side
      val staged = spark0.stageUploadPath()
      val out = staged.getFileSystem(spark.sparkContext.hadoopConfiguration).create(staged, true)
      try batch.foreach(r => out.write(r.payload)) finally out.close()
      val offsets = batch.scanLeft(0L)(_ + _.payload.length)
      val sparkJobs = jobsOf(assert(spark0.writeStagedSlices("b", staged, batch.zip(offsets).map {
        case (r, at) => BucketStore.StagedSlice(r.entry, r.ts, r.labels, r.contentType, at,
          r.payload.length.toLong)
      }).isEmpty))
      assert(sparkJobs == 1, s"the spooled one-partition write ran $sparkJobs Spark jobs")
      val (dFiles, sFiles) = (dataFiles(driver), dataFiles(spark0))
      assert(dFiles.size == 4 && sFiles.size == 4,
        s"16 records at 5 per file: driver ${dFiles.size} files, Spark ${sFiles.size}")
      assert(dFiles.map(_.getPath.getParent.getName).distinct == Seq("dt=2024-01-01"))
      val (dFooters, sFooters) = (dFiles.map(footer), sFiles.map(footer))
      val schemas = (dFooters ++ sFooters).map(_.getFileMetaData.getSchema).distinct
      assert(schemas.size == 1, s"Parquet schemas differ:\n${schemas.mkString("\n")}")
      val keys = (dFooters ++ sFooters).map(_.getFileMetaData.getKeyValueMetaData.keySet.asScala.toSet)
      assert(keys.distinct.size == 1, s"footer metadata keys differ: ${keys.distinct}")
      assert(keys.head.contains("org.apache.spark.sql.parquet.row.metadata"))
      val rowMeta = (dFooters ++ sFooters).map(_.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")).distinct
      assert(rowMeta.size == 1, s"Spark row metadata differs: $rowMeta")
      val codecs = (dFooters ++ sFooters).flatMap(_.getBlocks.asScala)
        .flatMap(_.getColumns.asScala.map(_.getCodec.name)).distinct
      assert(codecs == Seq("ZSTD"), s"codecs: $codecs")
      for ((st, f) <- (dFiles ++ sFiles).zip(dFooters ++ sFooters);
          b <- f.getBlocks.asScala)
        SmallRead.tsRange(b, st) // fails by name without ts statistics
      assert(dFooters.map(_.getBlocks.asScala.map(_.getRowCount).sum).sorted ==
        sFooters.map(_.getBlocks.asScala.map(_.getRowCount).sum).sorted)
      for (st <- dFiles ++ sFiles) {
        assert(readAllPages(st) > 0)
        val bad = corrupted(st)
        val e = intercept[Exception](readAllPages(bad))
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).toLowerCase.contains("crc")),
          s"a flipped payload byte must fail the page checksum of ${st.getPath}: $e")
      }
      // identical rows through the Spark table and the driver reader
      val viaTable = Seq(driver, spark0).map(s => rowsOf(s.table().collect().toSeq))
      assert(viaTable(0).size == 16 && viaTable(0) == viaTable(1))
      val viaDriver = Seq(driver, spark0).map(s => rowsOf(s.readSmall(QuerySpec(bucket = Some("b")))))
      assert(viaDriver(0) == viaTable(0) && viaDriver(1) == viaTable(0))
    } finally { driver.close(); spark0.close() }
  }

  test("a driver-staged key remove rewrites files of the Spark rewrite's schema") {
    val store = newStore()
    try {
      store.putBucketSettings("c", BucketStore.BucketSettings())
      for (b <- Seq("b", "c"))
        store.writeFolded(Seq(BucketStore.FoldReq(b, recs("e", 8))))
      store.updateLabelsMatched("b", Seq(("e", T0 + 1000L, Map("p" -> "1"), Set.empty[String])))
      val jobs = jobsOf(assert(store.removeRecords("b", Seq(("e", T0), ("e", T0 + 7000L))) ==
        Map(("e", T0) -> true, ("e", T0 + 7000L) -> true)))
      assert(jobs == 0, s"a driver-staged key remove ran $jobs Spark jobs")
      // the same shape of rewrite through Spark: a query remove
      assert(store.removeQuery(QuerySpec(bucket = Some("c"), start = Some(T0),
        stop = Some(T0 + 1000L))) == 1L)
      def schemaOf(bucket: String) =
        dataFiles(store).filter(_.getPath.toString.contains(s"bucket=$bucket/"))
          .map(footer(_).getFileMetaData).map(m => (m.getSchema,
            m.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))).distinct
      assert(schemaOf("b") == schemaOf("c"), s"${schemaOf("b")}\n${schemaOf("c")}")
      val left = store.table().filter("bucket = 'b'").collect().toSeq
      assert(left.map(_.getAs[Long]("ts")).sorted == (1 to 6).map(T0 + _ * 1000L))
      assert(left.find(_.getAs[Long]("ts") == T0 + 1000L).get
        .getAs[scala.collection.Map[String, String]]("labels").get("p").contains("1"), "the patch folds into the rewrite")
      assert(store.overlayRowsKnown, "the remove read the overlay rows it purged")
      assert(store.overlayRowCount() == 0L)
    } finally store.close()
  }

  test("driver reads decode many payload files in parallel: key removes " +
      "and bounded reads over 48 files of one partition") {
    val store = newStore()
    try {
      // one append per file: 48 files in one (entry, day) partition
      for (i <- 0 until 48)
        store.writeFolded(Seq(BucketStore.FoldReq("c", Seq(BucketStore.FoldRec("e", T0 + i,
          Map("i" -> i.toString), "x", Array.fill[Byte](4096)(i.toByte))))))
      for (round <- 0 until 4) {
        val all = store.readSmall(QuerySpec(bucket = Some("c")))
        assert(all.size == 48 - round && all.forall(r =>
          r.getAs[Array[Byte]]("payload").forall(_ == r.getAs[Long]("ts").-(T0).toByte)))
        assert(store.removeRecords("c", Seq(("e", T0 + round))) == Map(("e", T0 + round) -> true))
      }
    } finally store.close()
  }
}
