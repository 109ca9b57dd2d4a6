package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Similarity, TextAnalysis, Transformations}
import graft.streaming.Events

/**
 * Every operator must tolerate an empty input — the reference's pipelines
 * run over glob matches that may be empty, and a 100 TB DAG must not
 * crash because one partition-day has no data.
 */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))))

  private lazy val emptyEmbs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))

  test("kernel chain over an empty frame yields an empty frame") {
    val out = (Transformations.renameFields(Map("text" -> "t")) _ andThen
      Transformations.parseLongs(Set("doc_id_str")) andThen
      Transformations.keysToSnakeCase)(
      emptyDocs.withColumn("doc_id_str", col("doc_id").cast("string")))
    assert(out.count() == 0)
  }

  test("dedup operators over an empty corpus yield empty results") {
    assert(Dedup.exact(emptyDocs, "text", "doc_id").count() == 0)
    assert(Dedup.dropExactDuplicates(emptyDocs, "text", "doc_id").count() == 0)
    assert(Dedup.minHashSignatures(emptyDocs, "text", "doc_id").count() == 0)
    assert(Dedup.nearDuplicates(emptyDocs, "text", "doc_id").count() == 0)
    assert(Dedup.dropNearDuplicates(emptyDocs, "text", "doc_id").count() == 0)
    assert(Dedup.simHashes(emptyDocs, "text", "doc_id").count() == 0)
    assert(Dedup.clusterNearDuplicates(emptyDocs, "text", "doc_id").count() == 0)
    assert(Dedup.connectedComponents(
      emptyDocs.selectExpr("doc_id AS id_a", "doc_id AS id_b")).count() == 0)
    assert(Dedup.embeddingNearDup(emptyEmbs, "embedding", "vec_id").count() == 0)
    assert(Dedup.dropDuplicateLines(emptyDocs, "text", "doc_id").count() == 0)
  }

  test("sampling, contamination, stats, and the curation pipeline tolerate empty input") {
    assert(graft.operators.Sampling.hashSample(emptyDocs, "doc_id", 0.5).count() == 0)
    assert(graft.operators.Sampling.splitAssign(
      emptyDocs, "doc_id", Seq(("train", 1.0))).count() == 0)
    assert(graft.operators.Sampling.binByTokenBudget(
      emptyDocs.withColumn("tok", lit(1L)), "tok", "doc_id", 100L).count() == 0)
    // empty corpus AND empty eval set, in both roles
    assert(graft.operators.Contamination.contaminationScores(
      emptyDocs, emptyDocs, "text", "doc_id").count() == 0)
    assert(graft.operators.Contamination.decontaminate(
      emptyDocs, emptyDocs, "text", "doc_id").count() == 0)
    assert(TextAnalysis.withRepetition(emptyDocs, "text", "doc_id").count() == 0)
    assert(TextAnalysis.tokenStats(emptyDocs, "text", "doc_id").count() == 0)
    assert(graft.plans.CurationPipeline.run(emptyDocs, "text", "doc_id")(_.count()) == 0)
    // round-7 stretch additions
    val emptyShaped = emptyDocs
      .withColumn("lang", lit("en")).withColumn("n_chars", lit(0L))
    assert(graft.operators.Sampling.sampleByStrata(
      emptyShaped, "doc_id", "lang", Seq(("en", 0.5))).count() == 0)
    assert(graft.operators.Sampling.topKBy(
      emptyShaped, "lang", "n_chars", 3, "doc_id").count() == 0)
    assert(graft.operators.Sampling.keepTopFraction(
      emptyShaped, "lang", "n_chars", 0.5, "doc_id").count() == 0)
    assert(TextAnalysis.gopherRules(emptyDocs, "text", "doc_id").count() == 0)
    assert(graft.operators.Dedup.dropRepeatedLinesWithinDoc(
      emptyDocs, "text").count() == 0)
    assert(graft.operators.Contamination.contaminationScores(
      emptyDocs, emptyDocs, "text", "doc_id", bloomPrefilter = true).count() == 0)
    // rebalance cannot satisfy a mix with zero supply: fails loudly
    intercept[IllegalArgumentException] {
      graft.operators.Sampling.rebalance(emptyShaped, "doc_id", "lang", Seq(("en", 1L)))
    }
  }

  test("round-8 operators tolerate empty input") {
    assert(graft.operators.Chunking.chunkByTokens(emptyDocs, "text", "doc_id").count() == 0)
    assert(graft.operators.Embeddings.quantizeInt8(emptyEmbs, "embedding", "vec_id").count() == 0)
    assert(emptyEmbs.select(
      graft.operators.Embeddings.l2Normalize(col("embedding"))).count() == 0)
    assert(Dedup.semanticNearDups(emptyEmbs, "embedding", "vec_id").count() == 0)
    assert(Dedup.dropSemanticDuplicates(emptyEmbs, "embedding", "vec_id").count() == 0)
    assert(graft.operators.Sampling.packSequences(
      emptyDocs.withColumn("tok", lit(1L)), "text", "doc_id", "tok", 100L).count() == 0)
    // an EMPTY model is a valid degenerate fit: every word is OOV and
    // scores the smoothed floor; an empty corpus scores nothing
    val emptyModel = TextAnalysis.unigramModel(emptyDocs, "text")
    assert(TextAnalysis.unigramNll(emptyDocs, emptyModel, "text", "doc_id").count() == 0)
    import spark.implicits._
    val one = Seq((1L, "hello world")).toDF("doc_id", "text")
    val scored = TextAnalysis.unigramNll(one, emptyModel, "text", "doc_id").head()
    assert(scored.getAs[Long]("n_tokens") == 2L &&
      !scored.isNullAt(scored.fieldIndex("nll")))
    assert(one.select(TextAnalysis.normalizeUnicode(col("text"))).count() == 1)
  }

  test("similarity operators over an empty corpus yield empty results") {
    assert(Similarity.bruteForceTopK(emptyEmbs, emptyEmbs, "embedding", "vec_id").count() == 0)
    assert(Similarity.kmeansCentroids(emptyEmbs, "embedding", "vec_id", 4, 1).count() == 0)
    assert(Similarity.ivfTopK(emptyEmbs, emptyEmbs, "embedding", "vec_id").count() == 0)
    // the recall gate fails CLOSED on an empty truth set: 0, never NULL
    val r = Similarity.ivfRecallSummary(emptyEmbs, emptyEmbs, "embedding", "vec_id")
      .collect()(0)
    assert(r.getAs[Long]("n_truth") == 0L && r.getAs[Long]("n_hits") == 0L)
    assert(!r.isNullAt(r.fieldIndex("recall_ok")) && r.getAs[Int]("recall_ok") == 0)
  }

  test("text analysis over an empty corpus yields empty results") {
    assert(TextAnalysis.withLangId(emptyDocs, "text", "doc_id").count() == 0)
    assert(TextAnalysis.withQuality(emptyDocs, "text", "doc_id").count() == 0)
    assert(TextAnalysis.fingerprints(emptyDocs, "text", "doc_id").count() == 0)
  }

  test("late-round-8 operators tolerate empty input") {
    import spark.implicits._
    val emptyQueries = Seq.empty[(Long, String)].toDF("query_id", "qtext")
    // empty corpus, empty queries, and both
    val someQueries = Seq((1L, "anything")).toDF("query_id", "qtext")
    assert(graft.operators.Retrieval.bm25Scores(
      emptyDocs, "text", "doc_id", someQueries, "query_id", "qtext").count() == 0)
    assert(graft.operators.Retrieval.bm25TopK(
      Seq((1L, "a b")).toDF("doc_id", "text"), "text", "doc_id",
      emptyQueries, "query_id", "qtext").count() == 0)
    assert(graft.operators.Retrieval.bm25Scores(
      emptyDocs, "text", "doc_id", emptyQueries, "query_id", "qtext").count() == 0)
    // KL of two empty corpora: just the <oov> row with p == q == 1 -> kl 0
    val kl = TextAnalysis.unigramDivergence(emptyDocs, emptyDocs, "text", vocabSize = 5)
      .collect()
    assert(kl.length == 1 && kl(0).getString(0) == "<oov>")
    assert(math.abs(kl(0).getAs[Double]("kl_term")) < 1e-15)
    assert(TextAnalysis.withCharEntropy(emptyDocs, "text").count() == 0)
    // DSIR: empty target and empty scoring corpus
    val model = graft.operators.Dsir.logRatioModel(
      emptyDocs, emptyDocs, "text", nBuckets = 8)
    assert(model.count() == 8)
    assert(graft.operators.Dsir.importanceWeights(
      emptyDocs, model, "text", "doc_id").count() == 0)
    assert(graft.operators.Dsir.resample(
      emptyDocs, model, "text", "doc_id", n = 3).count() == 0)
    assert(emptyDocs.select(graft.operators.Web.stripHtml(col("text"))).count() == 0)
    assert(graft.operators.Sampling.withQuantileBucket(
      emptyDocs.withColumn("v", lit(1)), "v").count() == 0)
  }

  test("event operators over an empty frame yield empty results") {
    val emptyEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("user_id", LongType), StructField("ts", TimestampType),
        StructField("event_type", StringType), StructField("value", DoubleType))))
    assert(Events.windowedAgg(emptyEvents).count() == 0)
    assert(Events.sessionizeBatch(emptyEvents).count() == 0)
    assert(Events.funnel(emptyEvents, Seq("a", "b")).count() == 0)
    assert(Events.retention(emptyEvents).count() == 0)
  }

  test("r11 operators over empty frames yield empty (or fail-closed) results") {
    val emptyEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("id", LongType), StructField("k", StringType),
        StructField("ts", TimestampType))))
    val emptyRight = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("rid", LongType), StructField("k", StringType),
        StructField("rts", TimestampType))))
    import graft.operators.{Graph, Joins, Sketches, TrainingOrder}
    assert(Joins.asofJoin(emptyEvents, emptyRight, Seq("k"), "ts", "rts").count() == 0)
    assert(Joins.asofJoinBroadcast(emptyEvents, emptyRight, Seq("k"), "ts", "rts").count() == 0)
    val emptyIv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("iid", LongType), StructField("s", LongType),
        StructField("e", LongType))))
    val emptyPts = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("pid", LongType), StructField("x", LongType))))
    assert(Joins.rangeJoin(emptyPts, "x", emptyIv, "s", "e", 10).count() == 0)
    assert(Joins.scd2(emptyEvents, Seq("k"), "ts").count() == 0)
    assert(Graph.pageRank(
      emptyEvents.selectExpr("k AS src", "k AS dst"), "src", "dst").count() == 0)
    assert(TrainingOrder.assignShards(emptyEvents, "id", 4, epoch = 0).count() == 0)
    assert(Dedup.corpusDiff(emptyDocs, emptyDocs, "text", "doc_id").count() == 0)
    assert(Sketches.distinctSketches(emptyDocs, Seq("text"), "doc_id").count() == 0)
    // Checks fail CLOSED on an empty corpus (undefined metrics are not passes)
    val rep = graft.operators.Checks.report(emptyDocs,
      Seq(graft.operators.Checks.NonNullRate("text", 0.0)))
    assert(rep.collect().forall(_.getInt(4) == 0))
  }

  test("r12 operators over empty frames yield empty results") {
    import graft.operators.{Blocking, Cdc, CoOccur, EditSim, FeatureHash,
      Graph, Layout, Privacy, Sampling, SetSim}
    assert(SetSim.setSimilarityPairs(emptyDocs, "text", "doc_id", 0.5).count() == 0)
    assert(EditSim.editDistancePairs(emptyDocs, "text", "doc_id", 2).count() == 0)
    assert(CoOccur.coOccurrence(emptyDocs, "text").count() == 0)
    assert(CoOccur.pmi(emptyDocs, "text").count() == 0)
    assert(FeatureHash.hashedTf(emptyDocs, "text", "doc_id", 16).count() == 0)
    assert(Blocking.sortedNeighborhoodPairs(emptyDocs, "text", "doc_id", 3).count() == 0)
    assert(Privacy.kAnonymity(emptyDocs, Seq("text"), 2).count() == 0)
    assert(Privacy.lDiversity(emptyDocs, Seq("text"), "doc_id", 2).count() == 0)
    assert(Privacy.suppressSmallClasses(emptyDocs, Seq("text"), 2).count() == 0)
    assert(Sampling.weightedSample(
      emptyDocs.withColumn("w", lit(1.0)), "w", "doc_id", 5).count() == 0)
    assert(Graph.labelPropagation(
      emptyDocs.selectExpr("text AS src", "text AS dst"), "src", "dst").count() == 0)
    assert(Layout.withZorderValue(
      emptyDocs.select("doc_id"), Seq("doc_id"), 8).count() == 0)
    val emptyChg = emptyDocs
      .withColumn("seq", lit(1L)).withColumn("op", lit("U"))
    assert(Cdc.applyChangelog(emptyDocs, emptyChg, Seq("doc_id")).count() == 0)
    val emptyEv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("ts", TimestampType), StructField("value", DoubleType))))
    assert(Events.resample(emptyEv, 1000000L).count() == 0)
    assert(Events.rolling(emptyEv, 1000000L).count() == 0)
  }

  test("r15 operators over empty inputs yield empty results") {
    import spark.implicits._
    // C4 cleaning and budgets
    assert(TextAnalysis.c4Clean(emptyDocs, "text").count() == 0)
    val weighted = emptyDocs.withColumn("w", lit(1L))
    assert(graft.operators.Sampling.selectByBudget(
      weighted, "w", 100L, Seq(col("doc_id").asc)).count() == 0)
    assert(graft.operators.Sampling.selectByBudgetPerGroup(
      weighted.withColumn("g", lit("x")), "w", 100L, "g",
      Seq(col("doc_id").asc)).count() == 0)
    assert(graft.operators.Sampling.selectByBudgetPerGroup(
      weighted.withColumn("g", lit("x")), "w", 100L, "g",
      Seq(col("doc_id").asc), ranged = true).count() == 0)
    assert(graft.operators.TrainingOrder.withRunningTotal(
      weighted, Seq(col("doc_id").asc), "w").count() == 0)
    // curriculum: quantile bounds over zero rows must not crash
    assert(graft.operators.TrainingOrder.curriculumOrder(
      weighted.withColumn("d", lit(1)), "d", "doc_id").count() == 0)
    // leakage-safe splits: empty pairs AND empty corpus
    val emptyPairs = emptyDocs.select(
      col("doc_id").as("id_a"), col("doc_id").as("id_b"))
    assert(graft.operators.Sampling.leakageSafeSplits(
      emptyDocs, emptyPairs, "doc_id", Seq(("train", 1.0))).count() == 0)
    // cross-corpus Hamming: empty batch, empty index, both
    val h = Seq((1L, 5L)).toDF("doc_id", "dhash")
    val eh = h.limit(0)
    assert(Dedup.hammingNearDupsAgainstIndex(eh, h, "doc_id", "dhash", 64).count() == 0)
    assert(Dedup.hammingNearDupsAgainstIndex(h, eh, "doc_id", "dhash", 64).count() == 0)
    assert(Dedup.hammingNearDupsAgainstIndex(eh, eh, "doc_id", "dhash", 64).count() == 0)
    // bm25 over an empty corpus: empty index; forget of nothing from it
    // (the flat index is gone — the sidecar layout carries the same case)
    val dir = java.nio.file.Files.createTempDirectory("empty-bm25").toString
    graft.operators.Retrieval.bm25SidecarWrite(emptyDocs, "text", "doc_id", dir)
    assert(graft.operators.Retrieval.bm25SidecarRows(spark, dir).count() == 0)
    graft.operators.Retrieval.bm25SidecarForget(spark, dir, Seq(1L).toDF("rid"), "rid")
    assert(graft.operators.Retrieval.bm25SidecarRows(spark, dir).count() == 0)
  }

  test("r16 operators over empty inputs yield empty results") {
    import spark.implicits._
    // bm25 grow: empty index + empty drop = empty grown index (the flat
    // index is gone — the sidecar layout carries the same case)
    val dir = java.nio.file.Files.createTempDirectory("empty-bm25-grow").toString
    graft.operators.Retrieval.bm25SidecarWrite(emptyDocs, "text", "doc_id", dir)
    graft.operators.Retrieval.bm25SidecarAppend(spark, dir, emptyDocs, "text", "doc_id")
    assert(graft.operators.Retrieval.bm25SidecarRows(spark, dir).count() == 0)
    // banded hamming artifact: empty build, empty probe both ways
    val h = Seq((1L, 5L)).toDF("doc_id", "dhash")
    val eh = h.limit(0)
    assert(Dedup.hammingBandedIndex(eh, "doc_id", "dhash", 64).count() == 0)
    val banded = Dedup.hammingBandedIndex(h, "doc_id", "dhash", 64)
    assert(Dedup.hammingMatchesAgainstBanded(
      eh, banded, "doc_id", "dhash", 64).count() == 0)
    assert(Dedup.hammingMatchesAgainstBanded(
      h, banded.limit(0), "doc_id", "dhash", 64).count() == 0)
    // counted-fingerprint grow: empty index + empty drop
    val emptyCounted = Dedup.exactFingerprintIndexCounted(emptyDocs, "text")
    assert(graft.operators.Forget.appendFingerprints(
      emptyCounted, emptyDocs, "text").count() == 0)
    // C4 with the CJK terminator arm
    assert(TextAnalysis.c4Clean(emptyDocs, "text",
      terminators = graft.functions.C4LinesExpr.CjkTerminators).count() == 0)
    // IVF probe over an empty (fully forgotten) assignment table
    val emptyVec = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)),
        StructField("centroid_id", LongType))))
    val oneCent = Seq((0L, Seq(1.0, 0.0))).toDF("centroid_id", "cv")
    val q = Seq((9L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    assert(graft.operators.Similarity.ivfTopKAssigned(
      emptyVec, q, "embedding", "vec_id", oneCent, k = 3, nProbe = 1).count() == 0)
  }

  test("r17 operators over empty inputs yield empty (or degenerate-sane) results") {
    import spark.implicits._
    import graft.operators.{EditSim, Retrieval, SetSim, Similarity}
    // stats-sidecar layout: empty corpus builds a valid empty layout;
    // probes and grows over it behave
    val dir = java.nio.file.Files.createTempDirectory("empty-sc").toString
    Retrieval.bm25SidecarWrite(emptyDocs, "text", "doc_id", dir)
    val queries = Seq((1L, "anything")).toDF("query_id", "qtext")
    assert(Retrieval.bm25ScoresFromSidecar(
      spark, dir, queries, "query_id", "qtext").count() == 0)
    // growing the empty layout by a real drop = a fresh build
    Retrieval.bm25SidecarAppend(spark, dir,
      Seq((1L, "hello world")).toDF("doc_id", "text"), "text", "doc_id")
    assert(Retrieval.bm25ScoresFromSidecar(spark,
      dir, Seq((1L, "hello")).toDF("query_id", "qtext"),
      "query_id", "qtext").count() == 1)
    // empty-drop grow and empty-removal forget are no-ops on scores
    Retrieval.bm25SidecarAppend(spark, dir, emptyDocs, "text", "doc_id")
    Retrieval.bm25SidecarForget(spark, dir,
      emptyDocs.select("doc_id"), "doc_id")
    assert(Retrieval.bm25ScoresFromSidecar(spark,
      dir, Seq((1L, "hello")).toDF("query_id", "qtext"),
      "query_id", "qtext").count() == 1)
    // per-doc-row index grows with empty drops are row-preserving
    val toks = Seq((1L, Seq("a", "b"))).toDF("id", "toks")
    val eToks = toks.limit(0)
    assert(SetSim.setSimIndexAppend(
      SetSim.setSimPrefixIndex(toks, "toks", "id", 0.5),
      eToks, "toks", "id", 0.5).count() ==
      SetSim.setSimPrefixIndex(toks, "toks", "id", 0.5).count())
    assert(SetSim.setContainmentIndexAppend(
      SetSim.setContainmentIndex(eToks, "toks", "id"),
      eToks, "toks", "id").count() == 0)
    val keys = Seq((1L, "abc")).toDF("id", "s")
    assert(EditSim.editVariantIndexAppend(
      EditSim.editVariantIndex(keys.limit(0), "s", "id"),
      keys.limit(0), "s", "id").count() == 0)
    assert(Dedup.winnowIndexAppend(
      Dedup.winnowIndex(emptyDocs, "text", "doc_id"),
      emptyDocs, "text", "doc_id").count() == 0)
    // recap of an empty banded artifact
    val eBanded = Dedup.hammingBandedIndex(
      Seq((1L, 5L)).toDF("doc_id", "dhash").limit(0), "doc_id", "dhash", 64)
    assert(Dedup.recapBandedIndex(eBanded, Some(2)).count() == 0)
    // drift report: empty NOW corpus keeps reference rows, NULL live
    // metrics (the fail-closed food for enforceIvfFreshness)
    val cents = Seq((0L, Seq(1.0, 0.0))).toDF("centroid_id", "cv")
    val build = Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "v")
    val ref = Similarity.ivfAssignmentStats(
      Similarity.ivfAssignWith(build, "v", cents), "v", cents)
    val rep = Similarity.ivfDriftReport(
      Similarity.ivfAssignWith(build.limit(0), "v", cents), "v", cents, ref)
    assert(rep.count() == 1 && rep.filter(col("n_now") === 0).count() == 1)
  }

  test("r18 operators over empty inputs yield empty (or degenerate-sane) results") {
    import spark.implicits._
    import graft.operators.{Pq, Retrieval}
    // generation merge of an empty layout: a no-op that leaves a
    // probe-able empty layout
    val dir = java.nio.file.Files.createTempDirectory("empty-mg").toString
    Retrieval.bm25SidecarWrite(emptyDocs, "text", "doc_id", dir)
    Retrieval.bm25SidecarMergeGenerations(spark, dir, maxGenerations = 1)
    assert(Retrieval.bm25ScoresFromSidecar(spark, dir,
      Seq((1L, "anything")).toDF("query_id", "qtext"),
      "query_id", "qtext").count() == 0)
    // sidecar top-k over the empty layout
    assert(Retrieval.bm25TopKFromSidecar(spark, dir,
      Seq((1L, "anything")).toDF("query_id", "qtext"),
      "query_id", "qtext").count() == 0)
    // PQ drift: empty NOW corpus keeps reference rows with NULL live
    // metrics (enforcePqFreshness's fail-closed food)
    val cb = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(0, 0L, Seq(-1.0, -1.0)),
      org.apache.spark.sql.Row(0, 1L, Seq(1.0, 1.0))),
      StructType(Seq(
        StructField("subspace", IntegerType, nullable = false),
        StructField("code", LongType, nullable = false),
        StructField("cv", ArrayType(DoubleType, containsNull = false),
          nullable = false))))
    val vecs = Seq((1L, Seq(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val pqRef = Pq.pqCodeStats(Pq.encode(vecs, "embedding", cb), "embedding", cb)
    val pqRep = Pq.pqDriftReport(
      Pq.encode(vecs.limit(0), "embedding", cb), "embedding", cb, pqRef)
    assert(pqRep.count() == 1 && pqRep.filter(col("n_now") === 0).count() == 1)
    assert(Pq.pqCodeStats(
      Pq.encode(vecs.limit(0), "embedding", cb), "embedding", cb).count() == 0)
    // RRF over empty ranked lists
    val eList = Seq((1L, 2L, 1)).toDF("query_id", "doc_id", "rank").limit(0)
    assert(Retrieval.rrfFuse(Seq(eList, eList)).count() == 0)
    // soft dedup over an empty corpus
    assert(Dedup.softDedupWeights(emptyDocs, "text", "doc_id").count() == 0)
  }

  test("r19 operators over empty inputs yield empty (or degenerate-sane) results") {
    import spark.implicits._
    import graft.operators.Retrieval
    val emptySeries = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("series_id", LongType),
        StructField("series", ArrayType(DoubleType)))))
    val qs = Seq((1L, Seq(1.0, 2.0, 3.0))).toDF("series_id", "series")
    // pruned DTW: empty corpus and empty queries both yield empty
    assert(Similarity.dtwTopKPruned(
      emptySeries, qs, "series", "series_id", k = 3, band = 2, pruneN = 5)
      .count() == 0)
    assert(Similarity.dtwTopKPruned(
      qs, emptySeries, "series", "series_id", k = 3, band = 2, pruneN = 5)
      .count() == 0)
    // normalized series vectors over an empty events frame
    val emptyEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("user_id", LongType),
        StructField("ts", TimestampType),
        StructField("value", DoubleType))))
    assert(Events.seriesVectors(emptyEvents, 0L, 86400000000L, 3,
      norm = Some(Events.ZScoreNorm)).count() == 0)
    // weighted RRF over empty ranked lists
    val eList = Seq((1L, 2L, 1)).toDF("query_id", "doc_id", "rank").limit(0)
    assert(Retrieval.rrfFuse(Seq(eList, eList),
      weights = Some(Seq(2.0, 1.0))).count() == 0)
    // soft curation over an empty corpus carries the soft_weight column
    val soft = graft.plans.CurationPipeline.curate(
      emptyDocs, "text", "doc_id",
      graft.plans.CurationPipeline.Config(minQuality = 0.0, softDedup = true))
    assert(soft.columns.contains("soft_weight") && soft.count() == 0)
  }

  test("r20 operators over empty inputs yield empty (or degenerate-sane) results") {
    import spark.implicits._
    val emptySeries = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("series_id", LongType),
        StructField("series", ArrayType(DoubleType)))))
    val qs = Seq((1L, Seq(1.0, 2.0, 3.0))).toDF("series_id", "series")
    // DTW envelope artifact over an empty corpus: builds, persists,
    // probes empty; the band sidecar still round-trips
    val dir = java.nio.file.Files.createTempDirectory("empty-dtwidx").toString
    Similarity.dtwEnvelopeIndexWrite(
      Similarity.dtwEnvelopeIndex(emptySeries, "series", "series_id", 2),
      dir, band = 2)
    assert(Similarity.readDtwBandMeta(spark, dir) == 2)
    assert(Similarity.dtwTopKPrunedAgainst(
      spark, dir, qs, "series", "series_id", k = 3, pruneN = 5).count() == 0)
    // ...and empty QUERIES against a populated artifact
    val dir2 = java.nio.file.Files.createTempDirectory("empty-dtwq").toString
    Similarity.dtwEnvelopeIndexWrite(
      Similarity.dtwEnvelopeIndex(qs, "series", "series_id", 2), dir2, band = 2)
    assert(Similarity.dtwTopKPrunedAgainst(
      spark, dir2, emptySeries, "series", "series_id", k = 3, pruneN = 5)
      .count() == 0)
    // LangModel over an empty corpus (and the against-soft-weights arm
    // over an empty batch)
    val vec = java.nio.file.Files.createTempFile("empty-langvec", ".vec")
    java.nio.file.Files.write(vec,
      "__label__en 1.0 0.0\nthe 1.0 0.0".getBytes("UTF-8"))
    val model = graft.operators.LangModel.load(spark, vec.toString)
    assert(graft.operators.LangModel.predict(
      emptyDocs, model, "text", "doc_id").count() == 0)
    val sigs = Dedup.minHashSignatures(
      Seq((1L, "some indexed text here")).toDF("doc_id", "text"),
      "text", "doc_id")
    val (w, comp) = Dedup.softDedupWeightsWithClustersAgainst(
      emptyDocs, sigs, "text", "doc_id")
    assert(w.count() == 0 && comp.count() == 0)
    // updateClusterLabelsDelta with nothing prior and nothing new
    val emptyLabels = spark.range(0)
      .select(col("id").as("doc_id"), col("id").as("cluster_id"))
    val emptyPairs = Seq((1L, 2L)).toDF("id_a", "id_b").limit(0)
    assert(Dedup.updateClusterLabelsDelta(
      emptyLabels, spark.range(0).select(col("id").as("doc_id")), emptyPairs)
      .count() == 0)
  }
}
