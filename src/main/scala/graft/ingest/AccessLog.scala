package graft.ingest

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.AccessEvent
import graft.plans.OnePartition

/** Access-log ingestion (SURVEY.md §2.1 S1/S2/S3): gzip TSV day files
  * `YYYY/YYYY-MM-DD.log.gz`, strict line format, malformed lines
  * silently dropped (ref `Processor/Access.pm:12-88,90-147`).
  *
  * Scale posture:
  *  - the glob scan parallelizes per file; gzip is non-splittable, so
  *    one task per day file — matching the reference's one-file-per-day
  *    layout, and the natural parallelism unit for backfills. That
  *    holds above the size rule of [[graft.plans.OnePartition]]: when
  *    the listed files hold at most `spark.sql.files.openCostInBytes`
  *    bytes of TEXT (a gzip file's uncompressed length; a nightly day
  *    file of a few hundred hits is about 100 KB), the scan is read as
  *    one partition, and every step after it that only needs
  *    co-located rows runs in that one task. Text, not gzip bytes:
  *    an `Etl.run` of the six access processors on 4 cores (medians
  *    of alternated runs) took 14 day files of 4 MB text (0.46 MB
  *    gzip) in 4.6 s as one task against 5.6 s parallel, but 11 files
  *    of 4 MB gzip (39 MB text) in 13.2 s against 9.2 s;
  *  - date pruning happens at file-listing time: the driver expands the
  *    glob and keeps only the files whose path date is on or after
  *    `fromDate`, so older files are never opened. (A filter on the
  *    `file_date` column could not do this: it is derived from
  *    `input_file_name()`, which exists only once a file is read — a
  *    nightly run would decompress the whole history to keep one day);
  *  - parsing is schema-on-read CSV with `mode=DROPMALFORMED`
  *    (the reference's silent-drop semantics) — no post-hoc regex UDF.
  */
object AccessLog {

  /** The day's date in a day file's path: the first `YYYY-MM-DD` of
    * the full path, so both `YYYY/YYYY-MM-DD.log.gz` files and
    * `day=YYYY-MM-DD/` directories date their files. */
  private val PathDate = "(\\d{4}-\\d{2}-\\d{2})"

  /** Read day-file TSVs matched by the glob `root` (layout `root/YYYY/`
    * day files, gz or plain), expanded on the driver. `fromDate` drops
    * whole files dated before it while listing, before any I/O; a file
    * without a date in its path is dropped too. No file left after that
    * gives an empty frame of the same columns. Listed text bytes within
    * the size rule of [[graft.plans.OnePartition]] are read as one
    * partition. */
  def read(spark: SparkSession, root: String,
      fromDate: Option[java.time.LocalDate] = None): DataFrame = {
    val glob = new Path(root)
    val fs = glob.getFileSystem(spark.sessionState.newHadoopConf())
    val matched = Option(fs.globStatus(glob)).toSeq.flatten
    val listed = matched.filter(f => fromDate.forall { d =>
      PathDate.r.findFirstIn(f.getPath.toString).flatMap(s =>
        scala.util.Try(java.time.LocalDate.parse(s)).toOption)
        .exists(!_.isBefore(d))
    })
    val files = listed.map(_.getPath.toString)
    // text is never much smaller than its gzip: trailers are read only
    // while the bytes on disk still fit
    val onDisk = listed.map(f =>
      if (f.isDirectory) fs.getContentSummary(f.getPath).getLength else f.getLen).sum
    val single = OnePartition.fits(spark, onDisk) &&
      OnePartition.fits(spark, listed.map(textBytes(fs, _)).sum)
    val reader = spark.read
      .option("sep", "\t")
      .option("mode", "DROPMALFORMED")
      .schema(AccessEvent.schema)
    val lines =
      // a glob that matches nothing stays Spark's PATH_NOT_FOUND error
      if (matched.isEmpty) reader.csv(root)
      else if (files.isEmpty)
        spark.createDataFrame(java.util.List.of[Row](), AccessEvent.schema)
      else reader.csv(files: _*)
    val events = lines
      .withColumn("file_date",
        to_date(regexp_extract(input_file_name(), PathDate, 1)))
      .withColumn("ts", try_to_timestamp(col("datestamp"), lit("yyyy-MM-dd'T'HH:mm:ssX")))
      .filter(col("ts").isNotNull) // F4 null-year guard (ref Access.pm:63-67)
    if (single) events.coalesce(1) else events
  }

  /** The bytes of text a scan of `f` parses, without reading it: a
    * plain file's length; a gzip file's uncompressed length, which its
    * last four bytes hold (ISIZE, mod 2^32; of the last member only, so
    * a file of concatenated members is undercounted); a matched `day=`
    * directory's files summed. */
  private def textBytes(fs: FileSystem, f: FileStatus): Long =
    if (f.isDirectory) fs.listStatus(f.getPath).map(textBytes(fs, _)).sum
    else if (!f.getPath.getName.endsWith(".gz") || f.getLen < 18) f.getLen
    else {
      val in = fs.open(f.getPath)
      val isize = new Array[Byte](4)
      try in.readFully(f.getLen - 4, isize) finally in.close()
      java.nio.ByteBuffer.wrap(isize).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt & 0xffffffffL
    }

  /** S2 exactly-once-ish dedup: drop full-line duplicates within the
    * batch (the reference dedups the current day against its archive
    * by exact line match, `Access.pm:182-228`). */
  def dedupLines(df: DataFrame): DataFrame =
    df.dropDuplicates(AccessEvent.schema.fieldNames.toIndexedSeq)

  /** F5: classify a parsed event as download or view
    * (ref `Access.pm:85`: is_download = is_set(referent_docid)). */
  def withDownloadFlag(df: DataFrame): DataFrame =
    df.withColumn("value",
      when(col("referent_docid").isNotNull, "downloads").otherwise("views"))
}
