package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileStatus, GlobFilter, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * Header-TSV ingestion as a distributed Spark scan.
 *
 * Spark-native re-expression of the reference's TSV reader
 * (reference: v2f/src/main/scala/.../V2FUtils.scala:33-76): every cell is
 * read as a string, trimmed, and empty-after-trim cells become NULL (the
 * columnar equivalent of the reference dropping the key from the record).
 * The originating file path travels along as a metadata column, the
 * distributed analogue of Beam's `ReadableFile` path.
 *
 * The reference parses EVERY file against its OWN header line
 * (V2FUtilsSpec: "convert multiple TSVs correctly even if the columns are
 * different"), while `spark.read.csv` applies the first file's header
 * positionally to all files — silently scrambling values when file
 * headers differ in order or shape. [[read]] therefore groups files by
 * their probed header line, reads each group as one csv scan, and unions
 * the groups by NAME (missing columns → NULL ≈ absent key). With one
 * distinct header (the overwhelmingly common case) the plan is the same
 * single distributed scan as before.
 *
 * The probe also supplies each group's scan schema: the header line is
 * parsed with the scan's own `CSVOptions` and named by Spark's
 * `CSVUtils.makeSafeHeader` (empty and duplicate cells get exactly the
 * names inference would give them), so building the frame runs no
 * schema-inference job. Every file's header line is still dropped by the
 * scan (`header=true`); applying the schema positionally is exact
 * because a group is precisely the files sharing that header line.
 *
 * Scale note: data reading stays a distributed `spark.read.csv` scan —
 * files split across executors, column pruning and pushdown as usual.
 * The header probe is one ~1 KB read per matched file, done like Spark's
 * own InMemoryFileIndex listing: driver-side over a thread pool —
 * metadata-scale work proportional to file count, not data size.
 */
object TsvSource {

  /** Default name of the appended file-path column. */
  val PathCol = "source_file"

  private def hasGlob(pattern: String): Boolean =
    pattern.exists("*?[{".contains(_))

  /** Resolve a path/glob to concrete, non-empty data files. */
  private def resolveFiles(
    spark: SparkSession,
    pattern: String,
    recursive: Boolean,
    globFilter: Option[String]
  ): Seq[FileStatus] = {
    val p = new Path(pattern)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leafFilter = globFilter.map(new GlobFilter(_))
    def hidden(path: Path): Boolean =
      path.getName.startsWith("_") || path.getName.startsWith(".")
    // prune hidden DIRECTORIES during recursion too (Spark's own file
    // index skips e.g. _temporary trees left by crashed jobs — a
    // leaf-only filter would happily ingest their part files)
    def expand(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) {
        val children = fs.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath))
        if (recursive) children.flatMap(expand)
        else children.filter(_.isFile)
      } else Seq(st)
    Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
      .flatMap(expand)
      .filter(st =>
        st.isFile && st.getLen > 0 &&
          leafFilter.forall(_.accept(st.getPath)) &&
          !hidden(st.getPath))
  }

  /** Java-serializable Hadoop Configuration carrier for executor-side
    * filesystem access (Configuration itself is Writable, not
    * Serializable). */
  private final class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration
  ) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** First NON-BLANK line plus whether the file had ANY content — the
    * csv parser skips leading blank lines when locating the header, so
    * the probe must too. An empty header with content=true means a file
    * of only blank lines (suspect); content=false is a zero-byte file
    * (normal: the csv parser itself yields no rows for those). */
  private def firstLine(
    p: Path, conf: org.apache.hadoop.conf.Configuration): (String, Boolean) = {
    val in = p.getFileSystem(conf).open(p)
    try {
      val r = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
      val lines = Iterator.continually(r.readLine()).takeWhile(_ != null)
      var hadContent = false
      val header = lines
        .map { l => hadContent = true; l }
        .find(_.trim.nonEmpty)
        .getOrElse("")
      (header, hadContent)
    } finally in.close()
  }

  /** Above this file count the header probe runs as a Spark job instead
    * of driver threads. */
  private val DistributedProbeThreshold = 512

  /**
   * First line of each file, grouped by header. Small file sets probe on
   * a driver thread pool (like Spark's own file-index listing); large
   * ones distribute the probe across executors, so header discovery
   * scales with the cluster, not the driver.
   */
  private def probeHeaders(
    spark: SparkSession,
    files: Seq[String]
  ): Seq[(String, Seq[String])] = {
    val pairs: Seq[((String, Boolean), String)] =
      if (files.size > DistributedProbeThreshold) {
        val sc = spark.sparkContext
        val confB = sc.broadcast(new SerializableHadoopConf(sc.hadoopConfiguration))
        sc.parallelize(files, math.min(files.size, sc.defaultParallelism * 4))
          .map(p => (firstLine(new Path(p), confB.value.value), p))
          .collect().toSeq
      } else {
        val conf = spark.sparkContext.hadoopConfiguration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(32, math.max(1, files.size)))
        try {
          files.map { p =>
            pool.submit(new java.util.concurrent.Callable[((String, Boolean), String)] {
              override def call(): ((String, Boolean), String) =
                (firstLine(new Path(p), conf), p)
            })
          }.map(_.get())
        } finally pool.shutdown()
      }
    // Files excluded from every header group: zero-byte files are normal
    // (the csv parser yields no rows for them too), but a file with
    // CONTENT and no non-blank header line is suspect — excluding it
    // silently would be silent data omission, so it is called out.
    val blankWithContent = pairs.collect { case ((h, true), p) if h.isEmpty => p }
    if (blankWithContent.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"TsvSource: ${blankWithContent.size} matched file(s) contain only " +
          s"blank lines and are excluded from the read: " +
          blankWithContent.take(10).mkString(", "))
    pairs.groupBy(_._1._1).view
      .mapValues(_.map(_._2)).toSeq
      .filter(_._1.nonEmpty)
      .sortBy(_._1)
  }

  /** Options of every header-TSV scan. */
  private def csvOptions(sep: String): Map[String, String] =
    Map("header" -> "true", "sep" -> sep, "inferSchema" -> "false")

  /** The all-string schema Spark's csv inference derives from `header`,
    * computed on the driver from the probed line instead of by a
    * `take(1)` job. */
  private def headerSchema(
    spark: SparkSession,
    header: String,
    options: Map[String, String]
  ): StructType = {
    val opts = new CSVOptions(
      options,
      spark.conf.get(SQLConf.CSV_PARSER_COLUMN_PRUNING.key).toBoolean,
      spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))
    val tokens = Option(new CsvParser(opts.asParserSettings).parseLine(header))
      .getOrElse(Array.empty[String])
    val names = CSVUtils.makeSafeHeader(
      tokens, spark.conf.get(SQLConf.CASE_SENSITIVE.key).toBoolean, opts)
    StructType(names.map(StructField(_, StringType)))
  }

  /** One csv scan over files sharing a header line. */
  private def readGroup(
    spark: SparkSession,
    header: String,
    files: Seq[String],
    sep: String,
    withPath: Boolean
  ): DataFrame = {
    val options = csvOptions(sep)
    val raw = spark.read
      .options(options)
      .schema(headerSchema(spark, header, options))
      .csv(files: _*)
    if (withPath) raw.withColumn(PathCol, col("_metadata.file_path"))
    else raw
  }

  /**
   * Read header TSVs matching a path/glob pattern.
   *
   * @param withPath append the source-file path as column [[PathCol]]
   *                 (reference keeps the file path alongside each record,
   *                 V2FUtils.scala:71-72)
   */
  def read(
    spark: SparkSession,
    pattern: String,
    withPath: Boolean = true,
    sep: String = "\t",
    recursive: Boolean = false,
    globFilter: Option[String] = None
  ): DataFrame =
    readResolved(spark, pattern, resolveFiles(spark, pattern, recursive, globFilter),
      withPath, sep, recursive, globFilter)

  /** [[read]] over the data files `resolveFiles` returned for `pattern`. */
  private def readResolved(
    spark: SparkSession,
    pattern: String,
    resolved: Seq[FileStatus],
    withPath: Boolean,
    sep: String,
    recursive: Boolean,
    globFilter: Option[String]
  ): DataFrame = {
    val files = resolved.map(_.getPath.toString)
    val groups =
      if (files.isEmpty) Seq.empty
      else probeHeaders(spark, files)
    val raw = groups match {
      case Seq() =>
        // No readable files: delegate to spark.read.csv on the original
        // pattern so the error classes (PATH_NOT_FOUND /
        // UNABLE_TO_INFER_SCHEMA) match what callers like readGlob expect.
        val reader = spark.read
          .options(csvOptions(sep))
          .option("recursiveFileLookup", recursive.toString)
        val fallback =
          globFilter.fold(reader)(g => reader.option("pathGlobFilter", g)).csv(pattern)
        if (withPath && fallback.columns.nonEmpty)
          fallback.withColumn(PathCol, col("_metadata.file_path"))
        else fallback
      case gs =>
        gs.map { case (header, fs) => readGroup(spark, header, fs, sep, withPath) }
          .reduce(_.unionByName(_, allowMissingColumns = true))
    }
    // Trim every cell; empty-after-trim -> NULL (missing), matching
    // V2FUtils.scala:66-69. One projection, same column order; names are
    // backquoted because header cells such as `p.value` are not paths.
    raw.select(raw.columns.toSeq.map { c =>
      val cell = col(s"`${c.replace("`", "``")}`")
      if (c == PathCol) cell
      else when(trim(cell) === "", lit(null)).otherwise(trim(cell)).as(c)
    }: _*)
  }

  /**
   * Read header TSVs with the reference's `ALLOW_IF_WILDCARD` empty-match
   * behavior (V2FUtils.scala:42): a glob pattern matching nothing yields an
   * empty (zero-column) DataFrame instead of erroring; a non-glob path that
   * does not exist still errors.
   *
   * A glob (or `globFilter`) under which no non-empty file exists at any
   * depth returns the empty frame without calling `spark.read.csv`: that
   * call could only fail (`PATH_NOT_FOUND`, or `UNABLE_TO_INFER_SCHEMA`
   * when only hidden files match) or read zero rows of zero columns, and a
   * failed read logs a listener `ERROR` with the full trace even when it
   * is caught here.
   */
  def readGlob(
    spark: SparkSession,
    pattern: String,
    withPath: Boolean = true,
    sep: String = "\t",
    recursive: Boolean = false,
    globFilter: Option[String] = None
  ): DataFrame = {
    val wildcard = hasGlob(pattern) || globFilter.nonEmpty
    val files = resolveFiles(spark, pattern, recursive, globFilter)
    if (wildcard && files.isEmpty &&
        (recursive || resolveFiles(spark, pattern, recursive = true, globFilter).isEmpty))
      spark.emptyDataFrame
    else
      try readResolved(spark, pattern, files, withPath, sep, recursive, globFilter)
      catch {
        case e: AnalysisException
            if wildcard &&
              (e.getErrorClass == "PATH_NOT_FOUND" ||
                e.getErrorClass == "UNABLE_TO_INFER_SCHEMA") =>
          spark.emptyDataFrame
      }
  }
}
