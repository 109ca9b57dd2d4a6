package graft.plans

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.{Failure, Try}

import graft.operators.Transformations
import graft.sources.{JsonLines, PathKeys, TsvSource}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * V2F pipeline stages, Spark-native.
 *
 * Re-expression of the reference's extraction/transform composition
 * (reference: v2f/src/main/scala/.../V2FExtractionsAndTransforms.scala).
 * Every stage is a declarative DataFrame transform; the whole chain is one
 * Catalyst plan per table (scan → project/cast chain → sink), so pushdown,
 * pruning and whole-stage codegen apply end-to-end.
 */
object V2F {

  /**
   * Read a table's TSVs (glob-tolerant) and snake-case the headers
   * (reference: V2FExtractionsAndTransforms.scala:21-40). The source-file
   * path column is kept for downstream path-derived keys.
   */
  def extractAndConvert(
    spark: SparkSession,
    config: V2FTableConfig,
    inputDir: String,
    fileGlob: String = "*.csv"
  ): DataFrame =
    Transformations.keysToSnakeCase(
      TsvSource.readGlob(
        spark,
        s"$inputDir/${config.filePath}",
        recursive = true,
        globFilter = Some(fileGlob)
      )
    )

  /**
   * Full per-table typed-conversion chain
   * (reference: V2FExtractionsAndTransforms.scala:77-122): rename → remove →
   * doubles → longs → booleans → string arrays → double arrays (nan ".").
   * Drops the carried file-path column — the reference's transform operates
   * on the message alone.
   */
  def transform(config: V2FTableConfig)(df: DataFrame): DataFrame = {
    val base = df.drop(TsvSource.PathCol)
    val chain =
      Transformations.renameFields(config.fieldsToRename) _ andThen
        Transformations.removeFields(config.fieldsToRemove) andThen
        Transformations.parseDoubles(config.fieldsToConvertToDouble) andThen
        Transformations.parseLongs(config.fieldsToConvertToLong) andThen
        Transformations.parseBooleans(config.fieldsToConvertToBoolean)
    val withArrays = config.fieldsToConvertToStringArray.foldLeft(chain(base)) {
      case (cur, (delim, fields)) =>
        Transformations.parseStringArrays(fields, delim)(cur)
    }
    config.fieldsToConvertToDoubleArray.foldLeft(withArrays) {
      case (cur, (delim, fields)) =>
        // "." is whitelisted to NULL in V2F double arrays
        // (reference: V2FExtractionsAndTransforms.scala:116)
        Transformations.parseDoubleArrays(fields, delim, Set("."))(cur)
    }
  }

  /**
   * Extract the variant identity fields and long-parse the configured ones
   * (reference: V2FExtractionsAndTransforms.scala:48-70).
   */
  def extractVariants(config: V2FTableConfig)(df: DataFrame): DataFrame = {
    val chain =
      Transformations.renameFields(config.variantFieldsToRename) _ andThen
        Transformations.extractFields(config.variantFieldsToExtract) andThen
        Transformations.parseLongs(config.fieldsToConvertToLong)
    chain(df.drop(TsvSource.PathCol))
  }

  /**
   * Union variant sets and keep one row per id
   * (reference: V2FExtractionsAndTransforms.scala:129-135, `distinctBy(id)`).
   * Spark-native: unionByName + dropDuplicates("id") — partial aggregation
   * then a single hash shuffle on the id; never a driver-side distinct.
   */
  def mergeVariants(variants: Seq[DataFrame]): DataFrame =
    variants.reduce(_.unionByName(_)).dropDuplicates("id")

  /**
   * Ancestry-specific inputs: attach the path-derived ancestry ID
   * (reference: ExtractionPipeline.scala:75-77).
   */
  def withAncestry(df: DataFrame): DataFrame =
    PathKeys.withAncestryId()(df)
}

/**
 * End-to-end extraction driver
 * (reference: v2f/src/main/scala/.../ExtractionPipeline.scala:53-192):
 * five TSV table chains + the merged variants set, each written as compact
 * drop-null JSON lines.
 *
 * The six sinks run concurrently, as the branches of the reference's one
 * Beam DAG do, so the driver's per-action work (planning, commit)
 * overlaps other sinks' tasks instead of leaving the cores idle. The
 * shared persists are released only after every sink has settled; a
 * failed sink's own exception is rethrown, with any other sink failures
 * attached as suppressed.
 */
object ExtractionPipeline {

  /** Create an empty output directory — the reference's behavior for a
    * wildcard pattern matching nothing is an empty output, not a crash
    * (V2FUtils.scala:42, ALLOW_IF_WILDCARD). */
  private def emptyOutput(spark: SparkSession, out: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(out)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
    ()
  }

  /** Write the transformed table, or an empty dir when its glob matched no
    * files (zero-column input). */
  private def writeOrSkip(
    spark: SparkSession,
    config: V2FTableConfig,
    df: DataFrame,
    outputDir: String
  ): Unit =
    if (df.columns.isEmpty) emptyOutput(spark, s"$outputDir/${config.filePath}")
    else JsonLines.write(V2F.transform(config)(df), s"$outputDir/${config.filePath}")

  def run(spark: SparkSession, inputDir: String, outputDir: String): Unit = {
    import V2FTables._
    import org.apache.spark.storage.StorageLevel

    // The three variant-bearing tables feed TWO consumers (transform sink +
    // variant extraction). Beam materialized the converted collection once
    // and shared it (ExtractionPipeline.scala:67-88); the Spark analog is a
    // persist spanning both actions — without it each TSV table would be
    // scanned and header-parsed twice (2× read amplification at 100 TB).
    def shared(df: DataFrame): DataFrame =
      if (df.columns.isEmpty) df else df.persist(StorageLevel.MEMORY_AND_DISK)

    val fa = shared(V2F.extractAndConvert(spark, FrequencyAnalysis, inputDir))
    val maasRaw = V2F.extractAndConvert(spark, MetaAnalysisAncestrySpecific, inputDir)
    val maas = if (maasRaw.columns.isEmpty) maasRaw else shared(V2F.withAncestry(maasRaw))
    val mate = shared(V2F.extractAndConvert(spark, MetaAnalysisTransEthnic, inputDir))
    val verfc =
      V2F.extractAndConvert(spark, VariantEffectRegulatoryFeatureConsequences, inputDir)
    val vetc =
      V2F.extractAndConvert(spark, VariantEffectTranscriptConsequences, inputDir)

    try {
      val variantSources = Seq(
        FrequencyAnalysis -> fa,
        MetaAnalysisAncestrySpecific -> maas.drop("ancestry"),
        MetaAnalysisTransEthnic -> mate
      ).collect {
        case (cfg, df) if df.columns.nonEmpty => V2F.extractVariants(cfg)(df)
      }
      val sinks: Seq[() => Unit] = Seq(
        () => writeOrSkip(spark, FrequencyAnalysis, fa, outputDir),
        () => writeOrSkip(spark, MetaAnalysisAncestrySpecific, maas, outputDir),
        () => writeOrSkip(spark, MetaAnalysisTransEthnic, mate, outputDir),
        () => writeOrSkip(spark, VariantEffectRegulatoryFeatureConsequences, verfc, outputDir),
        () => writeOrSkip(spark, VariantEffectTranscriptConsequences, vetc, outputDir),
        () =>
          if (variantSources.isEmpty) emptyOutput(spark, s"$outputDir/variants")
          else JsonLines.write(V2F.mergeVariants(variantSources), s"$outputDir/variants")
      )
      // Created here, so its threads inherit the caller's Spark local
      // properties (job group, description, scheduler pool).
      val pool = Executors.newFixedThreadPool(sinks.size)
      val settled =
        try sinks
          .map(sink => pool.submit(new Callable[Unit] { def call(): Unit = sink() }))
          .map(f => Try(f.get()))
        finally pool.shutdown()
      val failures = settled.collect {
        case Failure(e: ExecutionException) if e.getCause != null => e.getCause
        case Failure(e) => e
      }
      failures.headOption.foreach { first =>
        failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      }
    } finally Seq(fa, maas, mate).foreach(_.unpersist())
  }
}

/**
 * Dataset-specific driver
 * (reference: v2f/src/main/scala/.../DatasetSpecificPipeline.scala:55-97):
 * JSON-lines in → snake-case → rename → remove → JSON-lines out.
 */
object DatasetSpecificPipeline {

  def transform(config: V2FTableConfig)(df: DataFrame): DataFrame = {
    val chain =
      Transformations.keysToSnakeCase _ andThen
        Transformations.renameFields(config.fieldsToRename) andThen
        Transformations.removeFields(config.fieldsToRemove)
    chain(df)
  }

  def run(spark: SparkSession, inputDir: String, outputDir: String): Unit = {
    val config = V2FTables.DatasetSpecificAnalysis
    // Beam reads `$inputDir/dataset-specific/**` — recurse into nested dirs
    // (reference: DatasetSpecificPipeline.scala:64).
    val in = JsonLines.read(spark, s"$inputDir/${config.filePath}", recursive = true)
    // JSON passthrough: NULL columns are EXPLICIT nulls from the input,
    // which the reference's unmodeled writer preserves — keep them.
    JsonLines.write(transform(config)(in), s"$outputDir/${config.filePath}",
      ignoreNullFields = false)
  }
}
