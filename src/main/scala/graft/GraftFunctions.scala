package graft

import org.apache.spark.sql.{GraftSqlBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import graft.functions.{CharEntropyExpr, CmsUnionAgg, DtwDistExpr, DtwEnvelopeExpr, LbKeoghEnvExpr, LbKeoghExpr, KllBuildAgg, KllUnionAgg, ThetaBuildAgg, ThetaUnionAgg, CosineSimExpr, HyperplaneBucketExpr, L2DistSqExpr, Md5Long60ArrayExpr, Md5Long60Expr, MinHashSignatureExpr, ShingleHashExpr, SimHashPackExpr, UnicodeNormExpr, VectorMeanAgg, WordTfExpr}

/**
 * SQL surface for graft's native expressions, so `spark.sql` users get
 * the same operators as the DataFrame API:
 *
 *   SELECT md5_long60(text), simhash_pack(hashes), cosine_sim(a, b),
 *          minhash_signature(hashes, 16) FROM ...
 *
 * Two registration paths: [[GraftFunctions.register]] for an existing
 * session (GraftSession.create does this), and [[GraftExtensions]] for
 * launcher-configured sessions
 * (`--conf spark.sql.extensions=graft.GraftExtensions`).
 */
object GraftFunctions {

  private def oneArg(name: String)(f: Expression => Expression)
    : Seq[Expression] => Expression = {
    case Seq(e) => f(e)
    case args => throw new IllegalArgumentException(
      s"$name expects 1 argument, got ${args.length}")
  }

  private def minhashBuilder: Seq[Expression] => Expression = {
    case Seq(e, Literal(n: Int, _)) => MinHashSignatureExpr(e, n)
    case Seq(e) => MinHashSignatureExpr(e, 16)
    case Seq(_, bad) => throw new IllegalArgumentException(
      "minhash_signature's second argument must be an INT literal " +
        s"(e.g. 16, not 16L or a column); got: $bad")
    case args => throw new IllegalArgumentException(
      s"minhash_signature expects (array<bigint>[, numHashes INT literal]), got ${args.length} args")
  }

  private def cosineBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => CosineSimExpr(a, b)
    case args => throw new IllegalArgumentException(
      s"cosine_sim expects 2 arguments, got ${args.length}")
  }

  private def l2DistSqBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => L2DistSqExpr(a, b)
    case args => throw new IllegalArgumentException(
      s"l2_dist_sq expects 2 arguments, got ${args.length}")
  }

  private def lbKeoghBuilder: Seq[Expression] => Expression = {
    case Seq(a, b, Literal(band: Int, _)) => LbKeoghExpr(a, b, band)
    case Seq(a, b) => LbKeoghExpr(a, b, 8)
    case Seq(_, _, bad) => throw new IllegalArgumentException(
      "lb_keogh's third argument must be an INT literal band " +
        s"(e.g. 8, not 8L or a column); got: $bad")
    case args => throw new IllegalArgumentException(
      s"lb_keogh expects (array, array[, band INT literal]), got ${args.length} args")
  }

  private def dtwEnvelopeBuilder(upper: Boolean): Seq[Expression] => Expression = {
    val name = if (upper) "dtw_env_upper" else "dtw_env_lower"
    val b: Seq[Expression] => Expression = {
      case Seq(a, Literal(band: Int, _)) => DtwEnvelopeExpr(a, band, upper)
      case Seq(a) => DtwEnvelopeExpr(a, 8, upper)
      case Seq(_, bad) => throw new IllegalArgumentException(
        s"$name's second argument must be an INT literal band " +
          s"(e.g. 8, not 8L or a column); got: $bad")
      case args => throw new IllegalArgumentException(
        s"$name expects (array[, band INT literal]), got ${args.length} args")
    }
    b
  }

  private def lbKeoghEnvBuilder: Seq[Expression] => Expression = {
    case Seq(s, up, lo, Literal(band: Int, _)) => LbKeoghEnvExpr(s, up, lo, band)
    case Seq(s, up, lo) => LbKeoghEnvExpr(s, up, lo, 8)
    case Seq(_, _, _, bad) => throw new IllegalArgumentException(
      "lb_keogh_env's fourth argument must be an INT literal band " +
        s"(e.g. 8, not 8L or a column); got: $bad")
    case args => throw new IllegalArgumentException(
      s"lb_keogh_env expects (series, up, lo[, band INT literal]), got ${args.length} args")
  }

  private def dtwDistBuilder: Seq[Expression] => Expression = {
    case Seq(a, b, Literal(band: Int, _)) => DtwDistExpr(a, b, band)
    case Seq(a, b) => DtwDistExpr(a, b, 8)
    case Seq(_, _, bad) => throw new IllegalArgumentException(
      "dtw_dist's third argument must be an INT literal band " +
        s"(e.g. 8, not 8L or a column); got: $bad")
    case args => throw new IllegalArgumentException(
      s"dtw_dist expects (array, array[, band INT literal]), got ${args.length} args")
  }

  private def hyperplaneBuilder: Seq[Expression] => Expression = {
    case Seq(e, Literal(n: Int, _)) => HyperplaneBucketExpr(e, n)
    case Seq(e) => HyperplaneBucketExpr(e, 16)
    case Seq(_, bad) => throw new IllegalArgumentException(
      "hyperplane_bucket's second argument must be an INT literal " +
        s"(e.g. 16, not 16L or a column); got: $bad")
    case args => throw new IllegalArgumentException(
      s"hyperplane_bucket expects (array<numeric>[, planes INT literal]), got ${args.length} args")
  }

  private def shingleBuilder: Seq[Expression] => Expression = {
    case Seq(w, n) => ShingleHashExpr(w, n, 3)
    case Seq(w, n, Literal(k: Int, _)) => ShingleHashExpr(w, n, k)
    case Seq(_, _, bad) => throw new IllegalArgumentException(
      "shingle_hashes' third argument must be an INT literal " +
        s"(e.g. 3, not 3L or a column); got: $bad")
    case args => throw new IllegalArgumentException(
      s"shingle_hashes expects (words array<string>, norm string[, k INT literal]), got ${args.length} args")
  }

  /** SQL integer literals arrive as INT; BloomFilterAggregate wants LONG
    * size expressions. */
  private def asLongLit(e: Expression, what: String): Expression = e match {
    case Literal(n: Int, _) => Literal(n.toLong)
    case Literal(n: Long, _) => Literal(n)
    case bad => throw new IllegalArgumentException(
      s"$what must be an integer literal; got: $bad")
  }

  private def bloomAggBuilder: Seq[Expression] => Expression = {
    case Seq(e) => new BloomFilterAggregate(e)
    case Seq(e, n) =>
      new BloomFilterAggregate(e, asLongLit(n, "bloom_filter_agg's expectedItems"))
    case Seq(e, n, b) =>
      new BloomFilterAggregate(e,
        asLongLit(n, "bloom_filter_agg's expectedItems"),
        asLongLit(b, "bloom_filter_agg's numBits"))
    case args => throw new IllegalArgumentException(
      s"bloom_filter_agg expects (value[, expectedItems[, numBits]]), got ${args.length} args")
  }

  private def bloomMightContainBuilder: Seq[Expression] => Expression = {
    case Seq(f, v) => BloomFilterMightContain(f, v)
    case args => throw new IllegalArgumentException(
      s"bloom_might_contain expects (filter BINARY, value), got ${args.length} args")
  }

  private def unicodeNormBuilder: Seq[Expression] => Expression = {
    case Seq(e) => UnicodeNormExpr(e, "NFC")
    case Seq(e, Literal(f: org.apache.spark.unsafe.types.UTF8String, _)) =>
      UnicodeNormExpr(e, f.toString)
    case args => throw new IllegalArgumentException(
      "unicode_norm expects (text[, form STRING literal: NFC|NFD|NFKC|NFKD]), " +
        s"got ${args.length} args")
  }

  /** (name, builder, implementing class) for each SQL function. */
  val all: Seq[(String, Seq[Expression] => Expression, Class[_])] = Seq(
    ("md5_long60", oneArg("md5_long60")(Md5Long60Expr.apply(_: Expression)),
      classOf[Md5Long60Expr]),
    ("md5_long60_array", oneArg("md5_long60_array")(Md5Long60ArrayExpr.apply(_: Expression)),
      classOf[Md5Long60ArrayExpr]),
    ("simhash_pack", oneArg("simhash_pack")(SimHashPackExpr.apply(_: Expression)),
      classOf[SimHashPackExpr]),
    ("minhash_signature", minhashBuilder, classOf[MinHashSignatureExpr]),
    ("cosine_sim", cosineBuilder, classOf[CosineSimExpr]),
    ("hyperplane_bucket", hyperplaneBuilder, classOf[HyperplaneBucketExpr]),
    ("shingle_hashes", shingleBuilder, classOf[ShingleHashExpr]),
    // an AggregateFunction builder: the analyzer wraps it into an
    // AggregateExpression when resolving the call site
    ("vector_mean", oneArg("vector_mean")(VectorMeanAgg(_: Expression)),
      classOf[VectorMeanAgg]),
    // Spark's native runtime-filter pair (not SQL-registered upstream):
    // build a serialized bloom filter, then probe it
    ("bloom_filter_agg", bloomAggBuilder, classOf[BloomFilterAggregate]),
    ("bloom_might_contain", bloomMightContainBuilder, classOf[BloomFilterMightContain]),
    ("unicode_norm", unicodeNormBuilder, classOf[UnicodeNormExpr]),
    ("char_entropy", oneArg("char_entropy")(CharEntropyExpr.apply(_: Expression)),
      classOf[CharEntropyExpr]),
    // row-local per-doc term frequencies — the shuffle-free posting
    // builder behind the bm25 sidecar build/grow arms
    ("word_tf", oneArg("word_tf")(WordTfExpr.apply(_: Expression)),
      classOf[WordTfExpr]),
    ("l2_dist_sq", l2DistSqBuilder, classOf[L2DistSqExpr]),
    // banded dynamic-time-warping distance over numeric series
    ("dtw_dist", dtwDistBuilder, classOf[DtwDistExpr]),
    // its LB_Keogh lower bound — the cheap screen of the two-stage
    // exact DTW search (NULL exactly where dtw_dist is)
    ("lb_keogh", lbKeoghBuilder, classOf[LbKeoghExpr]),
    // the persisted-artifact halves of that screen: query-independent
    // banded envelopes, and the one-sided bound against stored ones
    ("dtw_env_upper", dtwEnvelopeBuilder(upper = true), classOf[DtwEnvelopeExpr]),
    ("dtw_env_lower", dtwEnvelopeBuilder(upper = false), classOf[DtwEnvelopeExpr]),
    ("lb_keogh_env", lbKeoghEnvBuilder, classOf[LbKeoghEnvExpr]),
    // union of serialized count-min sketches — pairs with Spark's own
    // count_min_sketch builder aggregate (which has no SQL union)
    ("cms_union", oneArg("cms_union")(CmsUnionAgg(_: Expression)),
      classOf[CmsUnionAgg]),
    // mergeable KLL quantile sketches (build + union) — Spark has
    // approx_percentile but no persistable/mergeable quantile artifact
    ("kll_sketch", kllSketchBuilder, classOf[KllBuildAgg]),
    ("kll_union", oneArg("kll_union")(KllUnionAgg(_: Expression)),
      classOf[KllUnionAgg]),
    // theta set-algebra sketches (build + union) — set operations
    // across sketched drops, which HLL cannot answer. Not `theta_union`:
    // Spark 4.1 ships a scalar built-in of that name (and
    // `theta_union_agg`, over its own sketch format)
    ("theta_sketch", thetaSketchBuilder, classOf[ThetaBuildAgg]),
    ("theta_sketch_union", oneArg("theta_sketch_union")(ThetaUnionAgg(_: Expression)),
      classOf[ThetaUnionAgg])
  )

  private def thetaSketchBuilder: Seq[Expression] => Expression = {
    case Seq(e) => ThetaBuildAgg(e)
    case Seq(e, Literal(lgK: Int, _)) => ThetaBuildAgg(e, lgK)
    case args => throw new IllegalArgumentException(
      s"theta_sketch expects (value STRING[, lgK INT literal]), got ${args.length} args")
  }

  private def kllSketchBuilder: Seq[Expression] => Expression = {
    case Seq(e) => KllBuildAgg(e)
    case Seq(e, Literal(k: Int, _)) => KllBuildAgg(e, k)
    case args => throw new IllegalArgumentException(
      s"kll_sketch expects (value DOUBLE[, k INT literal]), got ${args.length} args")
  }

  /** Register every graft SQL function on an existing session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder, _) =>
      GraftSqlBridge.registerFunction(spark, name, builder)
    }
}

/** Session-extensions entry point: injects the graft SQL functions at
  * session build (`spark.sql.extensions=graft.GraftExtensions`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, builder, cls) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls.getCanonicalName, name),
        builder
      ))
    }
}
