package graft.store

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one file protocol for artifacts a later call serves without
  * recomputing — the reference's `.ir2` payloads
  * (`process_stats:144-159`) applied to curated tables: the near-dup
  * clusters table, the IVF-PQ index, a stream's state directory, the
  * curation report cache's corpus key and the board's fixtures. The
  * build steps stay in their modules; this object owns how an
  * artifact is keyed, built once per JVM, claimed, committed and
  * checked.
  *
  * On a caller-owned path (any Hadoop filesystem) an artifact is
  * COMMITTED when its marker and its params sidecar ([[ParamsFile]])
  * are both present. The sidecar lands after the data, so a marker
  * with no sidecar is a torn commit. A committed artifact is served
  * as-is after the sidecar check: a mismatch means the caller
  * mis-keyed the path, and fails fast rather than overwriting what
  * another generation committed. Anything else is rebuilt in place
  * under a claim marker (`.<name>._graft_building`), released on
  * success and on throw. The claim sits BESIDE the directory: an
  * overwrite clears the directory itself, which would erase an inner
  * marker in the window it must survive. A committed parquet dataset
  * at the path that no claim covers is someone else's data: it is
  * refused, never overwritten. One driver owns a path at a time
  * (single-writer, as for any curated output directory); the caller
  * owns eviction (drop the directory to force a rebuild).
  */
private[graft] object Durable {

  /** Spark's per-table commit marker: the commit of a one-table artifact. */
  val TableMarker = "_SUCCESS"

  /** The commit of a multi-table artifact: the per-table markers can't
    * arbitrate a writer that died between tables. */
  val IndexMarker = "_GRAFT_INDEX_SUCCESS"

  /** The params sidecar of a committed artifact or a resumable directory. */
  val ParamsFile = "_graft_params.json"

  private val ClaimSuffix = "._graft_building"

  private final class Once(build: => String) { lazy val dir: String = build }
  private val memos = new ConcurrentHashMap[String, Once]()

  /** Build once per JVM: the first call per (`prefix`, `key`) runs
    * `build` into a fresh temp dir ([[TempSweep]] removes it at JVM
    * exit); every later call returns that dir. Files, not a cached
    * plan: readers keep column pruning and AQE, every consumer reads
    * the same bytes, and cache hygiene (`clearCache`, RDD unpersists)
    * cannot invalidate them. A board fixture built per call would
    * instead rewrite itself on every timed run. A build that throws is
    * retried by the next call. */
  def memo(key: String, prefix: String)(build: String => Unit): String =
    memos.computeIfAbsent(s"$prefix|$key", _ => new Once({
      val dir = TempSweep.tempDir(prefix).toString
      build(dir)
      dir
    })).dir

  /** A corpus's identity: the canonicalized plan's semantic hash and
    * schema, plus a fingerprint of the files behind it. For a file scan
    * the plan keys only root paths and schema, so rewriting the data in
    * place at the same path must change the fingerprint, or every
    * artifact built from the old data would be served forever. */
  def corpusKey(df: DataFrame): String =
    df.queryExecution.analyzed.canonicalized.semanticHash().toString +
      ":" + df.schema.catalogString.hashCode +
      ":" + dataFingerprint(df)

  /** One `listStatus` per distinct parent directory of `df.inputFiles`,
    * folding every file's (name, length, mtime) into an md5. A frame
    * with no input files (an in-memory fixture) gives `"mem"`: the
    * semantic hash already keys its content. */
  private def dataFingerprint(df: DataFrame): String = {
    val files = df.inputFiles
    if (files.isEmpty) "mem"
    else {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      val md = java.security.MessageDigest.getInstance("MD5")
      files.map(f => new Path(f).getParent)
        .distinct.sortBy(_.toString)
        .foreach { dir =>
          dir.getFileSystem(conf).listStatus(dir).sortBy(_.getPath.toString)
            .foreach { st =>
              md.update(
                s"${st.getPath.getName}|${st.getLen}|${st.getModificationTime};"
                  .getBytes("UTF-8"))
            }
        }
      md.digest().map("%02x".format(_)).mkString
    }
  }

  /** A params sidecar body: `fields` as one JSON object, in order. */
  def params(fields: (String, Any)*): String =
    fields.map {
      case (k, v: String) => s""""$k":"$v""""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")

  /** `path` and the Hadoop filesystem it lives on. */
  def locate(spark: SparkSession, path: String): (FileSystem, Path) = {
    val root = new Path(path)
    (root.getFileSystem(spark.sessionState.newHadoopConf()), root)
  }

  /** The artifact built from `corpus` with `params`: with no `path`,
    * built once per JVM ([[memo]], keyed by [[corpusKey]] and params);
    * with one, served or built there ([[at]]). Returns the directory. */
  def apply(corpus: DataFrame, path: Option[String], params: String,
      who: String, pathArg: String, marker: String = TableMarker)(
      build: String => Unit): String =
    path.fold(memo(s"${corpusKey(corpus)}|$params", s"graft_$who")(build))(
      at(corpus.sparkSession, _, params, who, pathArg, marker)(build))

  /** Serve the artifact committed at `path` after the sidecar check, or
    * claim the path, build, commit and release the claim. `who` and
    * `pathArg` (the caller and its path argument) name the failure. */
  def at(spark: SparkSession, path: String, params: String, who: String,
      pathArg: String, marker: String = TableMarker)(
      build: String => Unit): String = {
    val (fs, root) = locate(spark, path)
    committed(spark, path, marker) match {
      case Some(existing) => check(existing, params, path, who, pathArg)
      case None =>
        val claim = new Path(root.getParent, s".${root.getName}$ClaimSuffix")
        // a committed parquet dataset with no claim is what an UNRELATED
        // table looks like; our own torn commit keeps its claim
        if (!fs.exists(claim) && fs.exists(new Path(root, TableMarker)) &&
            fs.listStatus(root).exists(_.getPath.getName.endsWith(".parquet")))
          throw new IllegalStateException(
            s"$who at $path contains a committed parquet dataset with no " +
              s"$ParamsFile sidecar and no $ClaimSuffix marker — refusing to " +
              "overwrite a directory this writer never built; point " +
              s"$pathArg elsewhere or drop the directory explicitly")
        fs.create(claim, true).close()
        try {
          build(path)
          write(fs, new Path(root, ParamsFile), params)
          // a one-table artifact's marker is the data write's own
          if (!fs.exists(new Path(root, marker))) fs.create(new Path(root, marker)).close()
        } finally fs.delete(claim, false)
    }
    path
  }

  /** The sidecar of the artifact committed at `path`, if one is. */
  def committed(spark: SparkSession, path: String,
      marker: String = TableMarker): Option[String] = {
    val (fs, root) = locate(spark, path)
    val sidecar = new Path(root, ParamsFile)
    if (fs.exists(new Path(root, marker)) && fs.exists(sidecar)) Some(read(fs, sidecar))
    else None
  }

  /** A resumable directory (a stream's state) keys ONE parameter set:
    * the first use writes the sidecar, every later use must match it. */
  def resume(spark: SparkSession, path: String, params: String, who: String,
      pathArg: String): Unit = {
    val (fs, root) = locate(spark, path)
    val sidecar = new Path(root, ParamsFile)
    if (fs.exists(sidecar)) check(read(fs, sidecar), params, path, who, pathArg)
    else write(fs, sidecar, params)
  }

  private def check(existing: String, params: String, path: String,
      who: String, pathArg: String): Unit =
    require(existing == params,
      s"$who at $path was committed with params $existing but was " +
        s"requested with $params — one $pathArg keys ONE parameter set; " +
        "use a different path or drop the directory to rebuild")

  private def read(fs: FileSystem, file: Path): String = {
    val in = fs.open(file)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  private def write(fs: FileSystem, file: Path, body: String): Unit = {
    val out = fs.create(file, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }
}
