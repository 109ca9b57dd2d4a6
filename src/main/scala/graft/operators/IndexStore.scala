package graft.operators

import org.apache.hadoop.fs.{FileContext, Options, Path, UnsupportedFileSystemException}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The on-disk contract of persisted-artifact metadata: the small text
 * file under an artifact directory (`_bm25_sidecar`, `_hamming_bands`,
 * `_dtw_band`, `_CURRENT`) that names the parameters or the live
 * version a reader must use. Every index kind reads and commits it here;
 * the owning module keeps only the parse and format of its text.
 */
private[graft] object IndexStore {

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The whole metadata file `dir/name`, trimmed; None when absent. */
  def read(spark: SparkSession, dir: String, name: String): Option[String] = {
    val p = new Path(dir, name)
    val in =
      try Some(fsOf(spark, p).open(p))
      catch { case _: java.io.FileNotFoundException => None }
    in.map { s =>
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(s), "UTF-8").trim
      finally s.close()
    }
  }

  /** Commit point of every metadata mutation: temp-write +
    * OVERWRITE-rename (one FS operation where the filesystem supports
    * it), so a racing reader sees the old metadata or the new metadata
    * — never a missing file, which a delete-then-rename spelling
    * exposes for the instant between its two operations. */
  def publish(spark: SparkSession, dir: String, name: String, text: String): Unit = {
    val p = new Path(dir, name)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val tmp = new Path(dir, s".$name.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    try {
      FileContext.getFileContext(p.toUri, conf).rename(tmp, p, Options.Rename.OVERWRITE)
      // ChecksumFileSystem hygiene: the FileContext rename goes through
      // the RAW fs, which moves the data file but never checksum
      // sidecars — a stale `.crc` for the destination (written by a
      // pre-overwrite-rename writer whose checksummed rename carried it
      // along) would fail every later read against the NEW bytes, and
      // the tmp's own `.crc` would leak one orphan per mutation.
      // Best-effort drop of both.
      fs.delete(new Path(dir, s".$name.crc"), false)
      fs.delete(new Path(dir, s".${tmp.getName}.crc"), false)
    } catch {
      case _: UnsupportedFileSystemException =>
        // no FileContext binding for this FS: fall back to the
        // two-operation replace (documented not-found window)
        fs.delete(p, false)
        require(fs.rename(tmp, p), s"could not publish $name under $dir")
    }
  }

  /** Refuse an `out` that resolves to `src` (trailing slash, relative
    * spelling, symlink): write fresh and flip a pointer — an in-place
    * rewrite would delete the source while the rewrite still reads it. */
  def requireFreshOut(spark: SparkSession, src: String, out: String, what: String): Unit = {
    def resolved(s: String): Path = {
      val raw = new Path(s)
      val fs = fsOf(spark, raw)
      try fs.resolvePath(raw)
      catch { case _: java.io.FileNotFoundException => fs.makeQualified(raw) }
    }
    require(resolved(out) != resolved(src),
      s"$what: outPath resolves to the source path ($src) - " +
        "write fresh and flip a pointer")
  }

  /**
   * Write `df` as parquet at `path` with its parameters in the metadata
   * file `name` (the stamp). `mode = "append"` grows the artifact: an
   * existing stamp must equal `stamp` (mixed parameters corrupt the
   * key space or bound) and is not rewritten, so a racing probe never
   * reads it mid-write; a directory with parquet data files but no
   * stamp is a foreign dataset or an older layout and is refused —
   * stamping it would legitimize a mixed-schema artifact whose probes
   * silently lose the old rows. An empty subdirectory or a non-parquet
   * file does not block a first append.
   */
  def writeStamped(
    df: DataFrame,
    path: String,
    name: String,
    stamp: String,
    mode: String,
    what: String
  ): Unit = {
    require(mode == "overwrite" || mode == "append",
      s"mode must be overwrite|append: '$mode'")
    val spark = df.sparkSession
    val prior = if (mode == "append") read(spark, path, name) else None
    prior match {
      case Some(s) =>
        require(s == stamp,
          s"$what: $path was built with $name '$s', append requested " +
            s"'$stamp' - these parameters are the artifact's contract; " +
            "rebuild to change them")
      case None if mode == "append" =>
        val dir = new Path(path)
        val fs = fsOf(spark, dir)
        val hasData = fs.exists(dir) && fs.listStatus(dir).exists { s =>
          val n = s.getPath.getName
          s.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
        }
        require(!hasData,
          s"$what: $path has data files but no $name sidecar - it was not " +
            s"written by $what (an older layout or a foreign dataset); " +
            "appending would mix schemas and silently lose the prior rows. " +
            "Rebuild the artifact with mode=overwrite instead")
      case None =>
    }
    df.write.mode(mode).parquet(path)
    if (!prior.contains(stamp)) publish(spark, path, name, stamp)
  }
}
