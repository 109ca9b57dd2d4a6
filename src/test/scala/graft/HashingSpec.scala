package graft

import org.apache.spark.sql.functions._
import graft.functions.{Hashing, Md5Long60Expr}

/**
 * The native Md5Long60Expr must be bit-for-bit identical to the portable
 * SQL formula conv(substring(md5(x),1,15),16,10) — that identity is what
 * lets the DuckDB oracle re-derive every hash-based operator.
 */
class HashingSpec extends SparkSpec {
  import spark.implicits._

  private val samples =
    Seq("", "a", "hello world", "käse — naïve", "0", "the quick brown fox",
      "\u0000binary\u0001ish", "a" * 10000)

  test("md5Long60 equals the conv/substring/md5 SQL formula (codegen path)") {
    val df = samples.toDF("s").select(
      Hashing.md5Long60(col("s")).as("native"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("sqlform"))
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("md5Long60 inside a higher-order lambda (interpreted path) matches") {
    val df = Seq(samples).toDF("arr").select(
      transform(col("arr"), x => Hashing.md5Long60(x)).as("native"),
      transform(col("arr"),
        x => conv(substring(md5(x), 1, 15), 16, 10).cast("long")).as("sqlform"))
    val r = df.head
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
  }

  test("md5Long60 is non-negative 60-bit and null-propagating") {
    val r = Seq(("x", Option.empty[String])).toDF("a", "b")
      .select(Hashing.md5Long60(col("a")), Hashing.md5Long60(col("b"))).head
    assert(r.getLong(0) >= 0L && r.getLong(0) < (1L << 60))
    assert(r.isNullAt(1))
  }

  test("native Md5Long60ArrayExpr equals transform(arr, md5Long60)") {
    val df = Seq(
      (1L, Some(samples.map(Option(_)))),
      (2L, Some(Seq(Option("x"), None))),
      (3L, Option.empty[Seq[Option[String]]])
    ).toDF("id", "arr")
    val rows = df.select(
        col("id"),
        graft.functions.Md5Long60ArrayExpr(col("arr")).as("native"),
        transform(col("arr"), x => Hashing.md5Long60(x)).as("lambda"))
      .orderBy("id").collect()
    rows.take(2).foreach(r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2), r))
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2))
  }

  test("native ShingleHashExpr equals hashing the shingleTable column") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fused = graft.operators.Dedup.hashedShingleTable(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaStrings = graft.operators.Dedup.shingleTable(docs, "text", "doc_id")
      .select(col("doc_id"), graft.functions.Md5Long60ArrayExpr(col("sh")).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fused.nonEmpty && fused == viaStrings)
  }

  test("ShingleHashExpr edges: under-k fallback, empty words, NULL word skipped") {
    val rows = Seq(
      (1L, Some(Seq(Option("a"), Option("b"))), Some("a b")),     // < k words
      (2L, Some(Seq.empty[Option[String]]), Some("")),            // empty text
      (3L, Some(Seq(Option("a"), None, Option("c"))), Some("x")), // NULL word
      (4L, Option.empty[Seq[Option[String]]], Option.empty[String])
    ).toDF("id", "w", "norm")
    val out = rows.select(
        col("id"),
        graft.functions.ShingleHashExpr(col("w"), col("norm"), 3).as("fused"),
        graft.functions.Md5Long60ArrayExpr(
          graft.operators.Dedup.shinglesOf(col("norm"), col("w"), 3)).as("viaStrings"))
      .orderBy("id").collect()
    out.take(3).foreach(r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), r))
    // NULL word inside a window hashes like concat_ws: "a c" with ONE space
    assert(out(2).getSeq[Long](1) ==
      Seq(graft.functions.Md5Long60Expr.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString("a c"))))
    assert(out(3).isNullAt(1) && out(3).isNullAt(2))
  }

  test("native MinHashSignatureExpr equals the Column-expression form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = graft.operators.Dedup.shingleTable(docs, "text", "doc_id")
      .select(col("doc_id"), transform(col("sh"), s => Hashing.md5Long60(s)).as("hs"))
    val native = base
      .select(col("doc_id"), graft.functions.MinHashSignatureExpr(col("hs"), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val columnForm = base
      .select(col("doc_id"),
        graft.operators.Dedup.minHashSignatureOfHashes(col("hs"), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native.nonEmpty && native == columnForm)
  }

  test("native SimHashPackExpr equals the simHash Column chain") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val native = graft.operators.Dedup.simHashes(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val columnForm = docs
      .select(col("doc_id"), graft.operators.Dedup.simHash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native.nonEmpty && native == columnForm)
  }

  test("native CosineSimExpr equals the zip_with/aggregate Column form") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = embs.select(col("vec_id").as("ia"), col("embedding").as("va"))
      .crossJoin(embs.filter(col("vec_id") < 5)
        .select(col("vec_id").as("ib"), col("embedding").as("vb")))
    val rows = pairs.select(
      graft.operators.Similarity.cosine(col("va"), col("vb")).as("native"),
      graft.operators.Similarity.cosineColumns(col("va"), col("vb")).as("columns"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }

  test("MinHashSignatureExpr is NULL for an empty array from a non-nullable column") {
    // the expression must declare nullable=true even over a non-nullable
    // child: an empty input yields NULL, and codegen with a FalseLiteral
    // isNull would not compile
    val df = Seq(Seq.empty[Long], Seq(1L, 2L)).toDF("hs")
      .select(graft.functions.MinHashSignatureExpr(col("hs"), 4).as("sig"))
    assert(df.schema("sig").nullable)
    val rows = df.collect()
    assert(rows(0).isNullAt(0) && rows(1).getSeq[Long](0).length == 4)
  }

  test("native HyperplaneBucketExpr equals the unrolled lambda-chain form") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = embs.select(
      col("vec_id"),
      col("embedding").as("v"),
      graft.operators.Dedup.dimHashes(col("embedding")).as("dimh"))
    val rows = base.select(
        col("vec_id"),
        graft.functions.HyperplaneBucketExpr(col("v"), 16).as("native"),
        graft.operators.Dedup.hyperplaneBucketOf(col("v"), col("dimh"), 16).as("portable"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getString(1) == r.getString(2), s"vec ${r.getLong(0)}"))
  }

  test("HyperplaneBucketExpr edge cases match the portable form") {
    // empty vector, NULL element, all-zero vector: every dot is 0 or NULL
    // and the portable when(dot > 0) falls through to '0'
    val df = Seq(
      (1L, Some(Seq[Option[Double]]())),
      (2L, Some(Seq(Option(1.0), None, Option(2.0)))),
      (3L, Some(Seq(Option(0.0), Option(0.0)))),
      (4L, Option.empty[Seq[Option[Double]]])
    ).toDF("id", "v")
    val out = df.select(
        col("id"),
        graft.functions.HyperplaneBucketExpr(col("v"), 8).as("native"),
        graft.operators.Dedup.hyperplaneBucketOf(
          col("v"), graft.operators.Dedup.dimHashes(col("v")), 8).as("portable"))
      .orderBy("id").collect()
    out.take(3).foreach { r =>
      assert(r.getString(1) == "00000000" && r.getString(2) == "00000000", r)
    }
    // documented divergence on a NULL input VECTOR: the native expression
    // is null-propagating, the portable chain's otherwise('0') swallows
    // the null into the all-'0' key — downstream both end up discarded by
    // the cosine verify
    assert(out(3).isNullAt(1) && out(3).getString(2) == "00000000")
  }

  test("SQL surface: registered functions equal the DataFrame API") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT md5_long60('abc') AS h,
        |       minhash_signature(array(1L, 2L, 3L), 4) AS sig,
        |       simhash_pack(array(1L, 3L)) AS sh,
        |       cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cs""".stripMargin).head
    val api = Seq((Seq(1L, 2L, 3L), Seq(1L, 3L), "abc")).toDF("hs", "wh", "s")
      .select(
        Hashing.md5Long60(col("s")).as("h"),
        graft.functions.MinHashSignatureExpr(col("hs"), 4).as("sig"),
        graft.functions.SimHashPackExpr(col("wh")).as("sh"))
      .head
    assert(r.getLong(0) == api.getLong(0))
    assert(r.getSeq[Long](1) == api.getSeq[Long](1))
    assert(r.getLong(2) == api.getLong(2))
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-12)
  }

  test("SQL surface: no graft function name shadows a Spark built-in") {
    val builtin = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
    val shadowing = GraftFunctions.all.map(_._1).filter(n =>
      builtin.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(shadowing.isEmpty, shadowing)
  }

  test("SQL surface: vector_mean aggregate resolves and averages element-wise") {
    GraftFunctions.register(spark)
    Seq((1L, Seq(1.0, 4.0)), (1L, Seq(3.0, 0.0)), (2L, Seq(5.0, 5.0)))
      .toDF("g", "v").createOrReplaceTempView("vm_probe")
    val out = spark.sql("SELECT g, vector_mean(v) AS m FROM vm_probe GROUP BY g")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(1L) == Seq(2.0, 2.0) && out(2L) == Seq(5.0, 5.0))
  }

  test("SQL surface: bloom_filter_agg + bloom_might_contain round-trip") {
    GraftFunctions.register(spark)
    (1L to 100L).toDF("v").createOrReplaceTempView("bloom_probe")
    spark.sql(
      "SELECT bloom_filter_agg(v, 1000, 65536) AS bf FROM bloom_probe")
      .createOrReplaceTempView("bloom_built")
    // the filter side must be constant-foldable: a scalar subquery is
    // the documented SQL shape (same as Spark's own runtime filters)
    // every inserted value must hit (no false negatives)
    val hits = spark.sql(
      """SELECT count(*) AS n FROM bloom_probe p
        |WHERE bloom_might_contain((SELECT bf FROM bloom_built), p.v)""".stripMargin)
      .head().getLong(0)
    assert(hits == 100L)
    // absent values mostly miss (fpp is small at this sizing)
    val fp = spark.sql(
      """SELECT count(*) AS n FROM range(1000000, 1001000) r
        |WHERE bloom_might_contain((SELECT bf FROM bloom_built), r.id)""".stripMargin)
      .head().getLong(0)
    assert(fp < 50L, s"false positives: $fp/1000")
    // SQL path equals the Column-API path bit for bit
    val sqlBytes = spark.sql("SELECT bf FROM bloom_built").head().getAs[Array[Byte]](0)
    val apiBytes = (1L to 100L).toDF("v")
      .agg(graft.functions.BloomExprs.bloomAgg(col("v"), 1000L, 65536L).as("bf"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(sqlBytes, apiBytes))
  }

  test("unicode_norm: NFC converges composed/decomposed; forms match java.text.Normalizer") {
    import spark.implicits._
    // Fixtures assembled from \u escapes, NOT raw non-ASCII bytes — an
    // editor/formatter/transport step that NFC-normalizes the source file
    // would silently collapse a raw decomposed fixture into the composed
    // one (the q_unicode_norm oracle takes the same chr() precaution).
    val fixtures = Seq(
      "Cafe\u0301 du Monde",            // decomposed acute
      "Caf\u00e9 du Monde",             // composed
      "A\u030angstro\u0308m",          // decomposed ring + diaeresis
      "\ufb01nancial \ufb02ow",        // ligatures (NFKC folds, NFC keeps)
      "plain ascii",
      "")
    val df = fixtures.toDF("text")
    for (form <- Seq("NFC", "NFD", "NFKC", "NFKD")) {
      val got = df.select(
        graft.functions.UnicodeNormExpr(col("text"), form).as("n"))
        .collect().map(_.getString(0)).toSeq
      val want = fixtures.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.valueOf(form)))
      assert(got == want, form)
    }
    // the dedup consequence: different bytes pre-norm, identical post-NFC
    val pair = df.limit(2).select(
      md5(col("text")).as("raw"),
      md5(graft.functions.UnicodeNormExpr(col("text"), "NFC")).as("nfc"))
      .collect()
    assert(pair(0).getString(0) != pair(1).getString(0))
    assert(pair(0).getString(1) == pair(1).getString(1))
    // SQL surface ≡ DataFrame API; bad form fails at analysis
    df.limit(1).createOrReplaceTempView("un_probe")
    assert(spark.sql("SELECT unicode_norm(text) = unicode_norm(text, 'NFC') AS eq FROM un_probe")
      .head().getBoolean(0))
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT unicode_norm(text, 'NFX') FROM un_probe").collect()
    }
    // NULL propagates
    assert(Seq(Option.empty[String]).toDF("text")
      .select(graft.functions.UnicodeNormExpr(col("text"), "NFC")).head().isNullAt(0))
  }

  test("char_entropy: SQL surface ≡ expression API; known values; NULL/empty -> NULL") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val rows = spark.sql(
      """SELECT char_entropy('abab') AS a, char_entropy('aaaa') AS b,
        |       char_entropy('') AS c, char_entropy(CAST(NULL AS STRING)) AS d,
        |       char_entropy('abcd') AS e""".stripMargin).head()
    assert(rows.getDouble(0) == 1.0 && rows.getDouble(1) == 0.0)
    assert(rows.isNullAt(2) && rows.isNullAt(3))
    assert(rows.getDouble(4) == 2.0)
    val api = Seq("abab").toDF("t")
      .select(graft.functions.CharEntropyExpr(org.apache.spark.sql.functions.col("t")))
      .head().getDouble(0)
    assert(api == 1.0)
  }

  test("SQL surface: l2_dist_sq and cms_union resolve and agree with the API") {
    GraftFunctions.register(spark)
    val d = spark.sql(
      "SELECT l2_dist_sq(array(1.0D, 2.0D), array(4.0D, 6.0D)) AS d").head().getDouble(0)
    assert(d === 25.0)
    // cms_union: two half-sketches union to the whole one's counts
    Seq(("a", 1), ("a", 2), ("b", 3)).toDF("v", "half")
      .createOrReplaceTempView("cms_probe")
    spark.sql(
      """SELECT half, count_min_sketch(v, 0.001d, 0.99d, 7) AS sk
        |FROM cms_probe GROUP BY half""".stripMargin)
      .createOrReplaceTempView("cms_halves")
    val merged = spark.sql("SELECT cms_union(sk) AS sk FROM cms_halves")
      .head().getAs[Array[Byte]](0)
    val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(merged))
    assert(sk.estimateCount("a") === 2L && sk.estimateCount("b") === 1L)
  }

  test("SQL surface: kll_sketch and kll_union resolve and answer quantiles") {
    GraftFunctions.register(spark)
    spark.range(1, 101)
      .select((col("id") % 2).as("half"), col("id").cast("double").as("v"))
      .createOrReplaceTempView("kll_probe")
    spark.sql(
      "SELECT half, kll_sketch(v, 200) AS sk FROM kll_probe GROUP BY half")
      .createOrReplaceTempView("kll_halves")
    val merged = spark.sql("SELECT kll_union(sk) AS sk FROM kll_halves")
      .head().getAs[Array[Byte]](0)
    val sk = org.apache.datasketches.kll.KllDoublesSketch.heapify(
      org.apache.datasketches.memory.Memory.wrap(merged))
    // 100 values at k=200: uncompacted, the median is exact
    assert(sk.getN === 100L)
    assert(sk.getQuantile(0.5) >= 49.0 && sk.getQuantile(0.5) <= 51.0)
  }

  test("constant folding collapses seed hashes to literals") {
    val plan = spark.range(1)
      .select(Hashing.md5Long60(lit("0")).as("seed"))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("md5_long60"), plan)
  }
}
