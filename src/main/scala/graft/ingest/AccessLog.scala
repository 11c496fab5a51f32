package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.AccessEvent

/** Access-log ingestion (SURVEY.md §2.1 S1/S2/S3): gzip TSV day files
  * `YYYY/YYYY-MM-DD.log.gz`, strict line format, malformed lines
  * silently dropped (ref `Processor/Access.pm:12-88,90-147`).
  *
  * Scale posture:
  *  - the glob scan parallelizes per file; gzip is non-splittable, so
  *    one task per day file — matching the reference's one-file-per-day
  *    layout, and the natural parallelism unit for backfills;
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
    * gives an empty frame of the same columns. */
  def read(spark: SparkSession, root: String,
      fromDate: Option[java.time.LocalDate] = None): DataFrame = {
    val glob = new Path(root)
    val matched = Option(glob.getFileSystem(spark.sessionState.newHadoopConf())
      .globStatus(glob)).toSeq.flatten.map(_.getPath.toString)
    val files = matched.filter(p => fromDate.forall { d =>
      PathDate.r.findFirstIn(p).flatMap(s =>
        scala.util.Try(java.time.LocalDate.parse(s)).toOption)
        .exists(!_.isBefore(d))
    })
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
    lines
      .withColumn("file_date",
        to_date(regexp_extract(input_file_name(), PathDate, 1)))
      .withColumn("ts", try_to_timestamp(col("datestamp"), lit("yyyy-MM-dd'T'HH:mm:ssX")))
      .filter(col("ts").isNotNull) // F4 null-year guard (ref Access.pm:63-67)
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
