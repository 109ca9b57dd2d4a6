package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Generic column-transformation kernel.
 *
 * Spark-native re-expression of the reference's schemaless-record
 * transformation kernel (reference: common/src/main/scala/org/broadinstitute/
 * monster/etl/MsgTransformations.scala:21-437). Where the reference maps a
 * closure over every record, every operation here is a pure Catalyst column
 * expression over a DataFrame, so the whole chain stays inside whole-stage
 * codegen and survives predicate pushdown / column pruning at 100 TB scale.
 *
 * Mapping of record-world semantics to column-world semantics:
 *  - "field missing from a record"  ≈ column value NULL (schema'd world);
 *  - "field missing from every record" ≈ column absent from the schema;
 *  - the reference's `Str("nan")` sentinel for whitelisted unparseable
 *    values becomes NULL (a typed column cannot hold a mixed string).
 *
 * All operations return new DataFrames; nothing mutates inputs.
 */
object Transformations {

  /**
   * Rewrite column names so every "old" name in the mapping becomes the
   * corresponding "new" name. Names absent from the schema are skipped
   * (reference: MsgTransformations.scala:36-47 — renameFields continues on
   * missing keys).
   */
  def renameFields(mapping: Map[String, String])(df: DataFrame): DataFrame =
    df.withColumnsRenamed(mapping)

  /**
   * Drop a set of columns; names absent from the schema are skipped
   * (reference: MsgTransformations.scala:60-67).
   */
  def removeFields(fields: Set[String])(df: DataFrame): DataFrame =
    df.drop(fields.toSeq: _*)

  /**
   * Project down to the given columns (those present in the schema).
   * Errors at plan time if NONE of the requested columns exist
   * (reference: MsgTransformations.scala:80-95 — extractFields throws when
   * no field to extract is present).
   */
  def extractFields(fields: Set[String])(df: DataFrame): DataFrame = {
    val present = df.columns.filter(fields.contains)
    if (present.isEmpty) {
      throw new IllegalArgumentException(
        s"Failed to extract fields, none of the fields to extract are present: " +
          s"wanted=${fields.mkString(",")} schema=${df.columns.mkString(",")}"
      )
    }
    df.select(present.map(col).toSeq: _*)
  }

  /**
   * Collect the values of the given columns (in the given order) into a
   * single array column, dropping the originals. Missing columns are
   * skipped (reference: MsgTransformations.scala:112-124).
   */
  def collectFields(fields: List[String], collectedName: String)(
    df: DataFrame
  ): DataFrame = {
    val present = fields.filter(df.columns.contains)
    val collected =
      if (present.isEmpty) array().cast(ArrayType(StringType))
      else array(present.map(col): _*)
    df.withColumn(collectedName, collected).drop(present: _*)
  }

  /**
   * Concatenate the values of the given string columns (in order) into one
   * delimited string column, dropping the originals. Errors at plan time if
   * ANY column is missing (reference: MsgTransformations.scala:142-160 —
   * concatFields throws on a missing field).
   *
   * Intentional divergence: a NULL cell (field absent from one record) is
   * skipped by `concat_ws` rather than raising — the reference throws on a
   * per-record missing field, but a row-level throw would poison a whole
   * 100-TB job for one bad record; schema-level absence still errors.
   */
  def concatFields(fields: List[String], concatName: String, sep: String)(
    df: DataFrame
  ): DataFrame = {
    val missing = fields.filterNot(df.columns.contains)
    if (missing.nonEmpty) {
      throw new IllegalArgumentException(
        s"Expected field(s) ${missing.mkString(",")} not found in schema " +
          df.columns.mkString(",")
      )
    }
    df.withColumn(concatName, concat_ws(sep, fields.map(col): _*))
      .drop(fields: _*)
  }

  /**
   * Snake-case a single name: kebab→snake, underscores inserted at
   * lower/upper, UPPER-run/Word, letter/digit and digit/letter boundaries,
   * then lowercased (reference: MsgTransformations.scala:167-173; the same
   * five rewrites, in order).
   */
  def keyToSnakeCase(k: String): String =
    k.replace("-", "_")
      .replaceAll("([A-Z]+)([A-Z][a-z])", "$1_$2")
      .replaceAll("([a-z\\d])([A-Z])", "$1_$2")
      .replaceAll("([a-z])([\\d])", "$1_$2")
      .replaceAll("([\\d])([a-z])", "$1_$2")
      .toLowerCase

  /**
   * Rename every column to its snake-case form
   * (reference: MsgTransformations.scala:184-192). If two input names
   * snake-case to the same target, the LAST one wins and the earlier
   * columns are dropped — the columnar equivalent of the reference's
   * last-writer-wins map insertion (a DataFrame cannot carry duplicate
   * column names).
   */
  def keysToSnakeCase(df: DataFrame): DataFrame = {
    val targets = df.columns.map(keyToSnakeCase)
    if (targets.distinct.length == targets.length) df.toDF(targets.toSeq: _*)
    else {
      val lastIdx = targets.zipWithIndex.groupBy(_._1).map { case (n, xs) =>
        n -> xs.map(_._2).max
      }
      // rename positionally to unique temp names first: resolving by the
      // ORIGINAL name would be ambiguous if the input itself carries
      // duplicate column names (e.g. post-join frames)
      val tmp = df.toDF(df.columns.indices.map(i => s"__graft_c$i"): _*)
      val kept = targets.zipWithIndex.collect {
        case (n, i) if lastIdx(n) == i => col(s"__graft_c$i").as(n)
      }
      tmp.select(kept.toSeq: _*)
    }
  }

  /** NULL out whitelisted "nan" strings before a parse. */
  private def nullifyNan(c: Column, nanValues: Set[String]): Column =
    if (nanValues.isEmpty) c
    else when(c.isin(nanValues.toSeq.map(lit): _*), lit(null)).otherwise(c)

  /**
   * String→Long parse of one value: whitelisted nan-strings → NULL, a
   * trailing literal ".0" is trimmed first ("3.0" → 3L), anything else
   * unparseable raises (ANSI cast), matching the reference's throw
   * (reference: MsgTransformations.scala:236-248). The trim is
   * endsWith+substring rather than a `\.0$` regex — same semantics
   * (KernelPropertySpec pins both the trim and the "7.0.0"-throws case),
   * ~30% cheaper per value on the hot parse path.
   */
  private def longParseExpr(c: Column, nanValues: Set[String]): Column = {
    val trimmed =
      when(c.endsWith(".0"), c.substr(lit(1), length(c) - 2)).otherwise(c)
    nullifyNan(trimmed, nanValues).cast(LongType)
  }

  /**
   * String→Double parse of one value: whitelisted nan-strings become
   * Double.NaN — the typed equivalent of the reference's `Str("nan")`
   * sentinel (MsgTransformations.scala:259-265), and what its JSON output
   * carries for e.g. "." inside V2F double arrays. NULL input stays NULL
   * (missing field). Long parses have no NaN representation, so the
   * whitelists there map to NULL instead — a documented divergence the
   * V2F configs never exercise (their long parses use empty nan-sets).
   */
  private def doubleParseExpr(c: Column, nanValues: Set[String]): Column =
    if (nanValues.isEmpty) c.cast(DoubleType)
    else
      when(c.isin(nanValues.toSeq.map(lit): _*), lit(Double.NaN))
        .otherwise(c.cast(DoubleType))

  /** Apply a per-column expression to each listed column present in the schema. */
  private def mapFieldValues(fields: Set[String], df: DataFrame)(
    f: Column => Column
  ): DataFrame = {
    val present = df.columns.filter(fields.contains)
    if (present.isEmpty) df
    else df.withColumns(present.map(n => n -> f(col(n))).toMap)
  }

  /**
   * Convert the listed string columns to LongType. Whitelisted nan-strings
   * become NULL; missing columns are skipped
   * (reference: MsgTransformations.scala:309-312).
   */
  def parseLongs(fields: Set[String], nanValues: Set[String] = Set.empty)(
    df: DataFrame
  ): DataFrame = mapFieldValues(fields, df)(longParseExpr(_, nanValues))

  /**
   * Convert the listed string columns to DoubleType
   * (reference: MsgTransformations.scala:325-328).
   */
  def parseDoubles(fields: Set[String], nanValues: Set[String] = Set.empty)(
    df: DataFrame
  ): DataFrame = mapFieldValues(fields, df)(doubleParseExpr(_, nanValues))

  /**
   * Convert the listed string columns to BooleanType: value ∈ trueValues →
   * true, any other non-NULL value → false, NULL stays NULL
   * (reference: MsgTransformations.scala:340-343, default true-set {"true"}).
   */
  def parseBooleans(fields: Set[String], trueValues: Set[String] = Set("true"))(
    df: DataFrame
  ): DataFrame =
    mapFieldValues(fields, df) { c =>
      when(c.isNull, lit(null).cast(BooleanType))
        .otherwise(c.isin(trueValues.toSeq.map(lit): _*))
    }

  /**
   * Split expression with Java `String.split(regex)` semantics, which the
   * reference relies on (MsgTransformations.scala:294): trailing empty
   * strings are dropped, and a string consisting only of delimiters yields
   * an empty array, but splitting "" yields [""]. The native
   * [[graft.functions.JavaSplitExpr]] IS `Pattern.split` — reference
   * semantics by construction, one string pass instead of the three-pass
   * regexp_replace/when/split emulation (KernelPropertySpec pins the
   * behavior against real String.split).
   */
  private def splitJavaSemantics(c: Column, delimiter: String): Column =
    graft.functions.JavaSplitExpr(c, delimiter)

  /**
   * Convert the listed string columns to array<string> by splitting on a
   * delimiter (regex, as in the reference)
   * (reference: MsgTransformations.scala:354-355).
   */
  def parseStringArrays(fields: Set[String], delimiter: String)(
    df: DataFrame
  ): DataFrame =
    mapFieldValues(fields, df)(splitJavaSemantics(_, delimiter))

  /**
   * Convert the listed string columns to array<long>: split, then
   * element-wise long parse with ".0"-trim and nan whitelist
   * (reference: MsgTransformations.scala:369-374).
   */
  def parseLongArrays(
    fields: Set[String],
    delimiter: String,
    nanValues: Set[String] = Set.empty
  )(df: DataFrame): DataFrame =
    mapFieldValues(fields, df)(
      graft.functions.ParseLongArrayExpr(_, delimiter, nanValues))

  /**
   * Convert the listed string columns to array<double>: split, then
   * element-wise double parse with nan whitelist (the V2F pipelines pass
   * nan-set {"."} — reference: V2FExtractionsAndTransforms.scala:116)
   * (reference: MsgTransformations.scala:388-393).
   */
  def parseDoubleArrays(
    fields: Set[String],
    delimiter: String,
    nanValues: Set[String] = Set.empty
  )(df: DataFrame): DataFrame =
    mapFieldValues(fields, df)(
      graft.functions.ParseDoubleArrayExpr(_, delimiter, nanValues))

  /**
   * Ensure every listed column is an array: array columns pass through,
   * scalar values become singleton arrays, NULLs (≈ missing field) become
   * empty arrays, and columns absent from the schema are added as empty
   * array<string> (reference: MsgTransformations.scala:401-436 —
   * popAsArray returns an empty buffer for a missing field and ensureArrays
   * always writes the field back as an Arr).
   */
  def ensureArrays(fields: Set[String])(df: DataFrame): DataFrame = {
    val schema = df.schema.fields.map(f => f.name -> f.dataType).toMap
    // one projection; ListMap keeps `fields` order for the added columns
    df.withColumns(ListMap.from(fields.toSeq.flatMap { field =>
      schema.get(field) match {
        case Some(_: ArrayType) => None
        case Some(dt) =>
          Some(field -> when(col(field).isNull, array().cast(ArrayType(dt)))
            .otherwise(array(col(field))))
        case None =>
          Some(field -> array().cast(ArrayType(StringType)))
      }
    }))
  }
}
