package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.L2DistSqExpr

/**
 * Product quantization (Jégou et al. 2011, "Product Quantization for
 * Nearest Neighbor Search") — the ANN scale path past IVF: vectors
 * compress to `m` small codes (one per subspace), and query scoring
 * becomes `m` table lookups per corpus vector instead of a `dim`-wide
 * float pass. A 64-dim float corpus at m=4 stores 4 bytes/vector of
 * codes — RAM-resident at corpus sizes where raw vectors are not.
 *
 * Spark shapes, per stage:
 *  - [[trainCodebooks]]: per-subspace L2 k-means, all subspaces fused
 *    into ONE corpus scan per Lloyd round (posexplode to (subspace,
 *    subvector), broadcast codebook join, one VectorMeanAgg). Codebooks
 *    are m·k rows — localized, exact stats, broadcast everywhere.
 *  - [[encode]]: pure zero-shuffle projection — the codebook rides as
 *    one broadcast row, each subspace's code is an `aggregate` fold
 *    with the native [[L2DistSqExpr]].
 *  - [[adcTopK]]: asymmetric distance computation — each query
 *    precomputes its m×k distance TABLE once (broadcast), corpus rows
 *    pay m `element_at` lookups + adds. [[adcRerankTopK]] is the
 *    standard two-stage deployment: ADC candidates, exact re-rank.
 *
 * Codes are dense 0..k−1 per subspace ([[trainCodebooks]] guarantees
 * it; [[encode]]/[[adcTopK]] rely on code = array position).
 */
object Pq {

  /** (m, sd): subspace count and subvector width, read from the
    * localized codebook table (metadata-sized collect). */
  private def codebookMeta(codebooks: DataFrame): (Int, Int) = {
    val rows = codebooks
      .select(col("subspace"), col("code"), size(col("cv")).as("sd"))
      .collect()
    require(rows.nonEmpty, "empty codebook table")
    val sds = rows.map(_.getInt(2)).distinct
    require(sds.length == 1,
      s"codebook subvector widths differ across subspaces: ${sds.mkString(",")}")
    // encode/adcTopK index codewords BY POSITION (code = array slot), so
    // a hand-built/corrupt artifact with gaps or duplicate codes would
    // silently mis-encode — validate density 0..k−1 per subspace here,
    // where every load path funnels through.
    val bySub = rows.groupBy(_.getInt(0))
    val subs = bySub.keySet
    require(subs == (0 until subs.size).toSet,
      s"codebook subspaces are not dense 0..${subs.size - 1}: ${subs.toSeq.sorted.mkString(",")}")
    val k = bySub.values.head.length
    bySub.foreach { case (j, rs) =>
      val codes = rs.map(_.getLong(1)).sorted.toSeq
      require(codes == (0L until k).toSeq,
        s"codebook subspace $j codes are not dense 0..${k - 1}: ${codes.mkString(",")}")
    }
    (subs.size, sds.head)
  }

  /** One broadcast row carrying every subspace's codewords as
    * `__cents_<j>`: array of (code, cv) structs sorted by code, so a
    * dense code c is the struct at position c+1. */
  private def codebookRow(codebooks: DataFrame, m: Int): DataFrame = {
    val aggs = (0 until m).map(j =>
      array_sort(collect_list(
        when(col("subspace") === j, struct(col("code"), col("cv")))))
        .as(s"__cents_$j"))
    broadcast(codebooks.agg(aggs.head, aggs.tail: _*))
  }

  /** Double-cast subvector j of `vecCol` (slice is 1-based). */
  private def subVec(vecCol: String, j: Int, sd: Int): Column =
    transform(slice(col(vecCol), j * sd + 1, sd), x => x.cast("double"))

  /** Argmin fold over one subspace's codewords: the code whose codeword
    * is L2-nearest to `sv` (ties → lowest code, strict `<`). */
  private def nearestCode(cents: Column, sv: Column): Column =
    aggregate(
      cents,
      struct(lit(Double.MaxValue).as("d"), lit(-1L).as("c")),
      (acc, cent) => {
        val d = L2DistSqExpr(sv, cent("cv"))
        when(d < acc("d"), struct(d.as("d"), cent("code").as("c"))).otherwise(acc)
      })("c")

  /**
   * Train per-subspace codebooks: `m` independent L2 k-means runs of
   * `codebookSize` centroids each, FUSED so every Lloyd round is one
   * corpus scan (subspace-exploded) + one broadcast assignment fold +
   * one mean aggregation. Seeds are the `codebookSize` lowest-id
   * vectors' subvectors (deterministic, the [[Similarity.kmeansCentroids]]
   * convention); empty clusters keep their previous codeword.
   *
   * Returns (`subspace`, `code`, `cv`) — m·k rows, localized (exact
   * stats; downstream encode/score joins broadcast statically). Persist
   * it like any index artifact and reuse across encode/search calls.
   */
  def trainCodebooks(
    corpus: DataFrame,
    vecCol: String,
    idCol: String,
    subspaces: Int = 4,
    codebookSize: Int = 16,
    iters: Int = 2
  ): DataFrame = {
    require(subspaces > 0, s"subspaces must be positive: $subspaces")
    require(codebookSize > 0, s"codebookSize must be positive: $codebookSize")
    val spark = corpus.sparkSession
    val dimRow = corpus.select(size(col(vecCol)).as("d")).head(1)
    require(dimRow.nonEmpty, "cannot train codebooks on an empty corpus")
    val dim = dimRow.head.getInt(0)
    require(dim % subspaces == 0,
      s"vector dim $dim is not divisible into $subspaces subspaces")
    val sd = dim / subspaces

    // deterministic seeds: subvectors of the codebookSize lowest-id rows,
    // dense codes in id order (metadata-sized collect, like IVF seeding)
    val seedRows = corpus.orderBy(col(idCol)).limit(codebookSize)
      .select(transform(col(vecCol), x => x.cast("double")).as("v"))
      .collect()
    require(seedRows.length == codebookSize,
      s"corpus has fewer rows (${seedRows.length}) than codebookSize $codebookSize")
    val init = for {
      j <- 0 until subspaces
      (row, c) <- seedRows.zipWithIndex
    } yield Row(j, c.toLong, row.getSeq[Double](0).slice(j * sd, (j + 1) * sd))
    val cbSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("subspace",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("code",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false),
        nullable = false)))
    var cb = spark.createDataFrame(java.util.Arrays.asList(init: _*), cbSchema)

    // subspace-exploded corpus view: ONE scan feeds every subspace's
    // assignment and mean in each round
    val sub = corpus.select(
      posexplode(array((0 until subspaces).map(j => subVec(vecCol, j, sd)): _*))
        .as(Seq("subspace", "sv")))

    var i = 0
    while (i < iters) {
      val cbArr = broadcast(cb.groupBy("subspace")
        .agg(array_sort(collect_list(struct(col("code"), col("cv")))).as("cents")))
      val means = sub
        .join(cbArr, "subspace")
        .withColumn("code", nearestCode(col("cents"), col("sv")))
        .groupBy("subspace", "code")
        .agg(graft.functions.VectorMeanAgg(col("sv")).as("next"))
      cb = Similarity.localize(
        cb.join(means, Seq("subspace", "code"), "left")
          .select(col("subspace"), col("code"),
            coalesce(col("next"), col("cv")).as("cv")))
      i += 1
    }
    cb
  }

  /**
   * Encode every vector to its `m` nearest-codeword codes — a pure
   * zero-shuffle projection (codebook rides as one broadcast row), so
   * it runs unchanged over `readStream` inputs. Adds `codeCol`:
   * array<long> of length m, element j in [0, k).
   */
  def encode(
    df: DataFrame,
    vecCol: String,
    codebooks: DataFrame,
    codeCol: String = "pq_code"
  ): DataFrame = {
    val (m, sd) = codebookMeta(codebooks)
    Cols.requireAbsent(df, codeCol)
    // a wrong-length vector would slice short and silently encode -1
    // (then fail downstream as an obscure element_at error) — fail here,
    // loudly, naming the row's actual length
    // NULL vectors pass through as NULL codes (the pre-guard behavior);
    // only a present-but-wrong-length vector is an error — and its
    // message must not concat a NULL size into nothing
    val guarded = df.withColumn(vecCol,
      when(col(vecCol).isNull, col(vecCol))
        .when(size(col(vecCol)) === m * sd, col(vecCol))
        .otherwise(raise_error(concat(
          lit(s"Pq.encode: vector length "),
          coalesce(size(col(vecCol)).cast("string"), lit("?")),
          lit(s" != codebook dim ${m * sd} (m=$m × sd=$sd)")))))
    val withSv = (0 until m).foldLeft(guarded.crossJoin(codebookRow(codebooks, m))) {
      (acc, j) => acc.withColumn(s"__sv_$j", subVec(vecCol, j, sd))
    }
    withSv
      .withColumn(codeCol, array((0 until m).map(j =>
        nearestCode(col(s"__cents_$j"), col(s"__sv_$j"))): _*))
      .drop((0 until m).flatMap(j => Seq(s"__cents_$j", s"__sv_$j")): _*)
  }

  /** Persist a codebook table for reuse across encode/search calls —
    * m·k rows of doubles, metadata-sized, one file (the
    * [[Similarity.saveCentroids]] convention: the index artifact ships
    * alongside the encoded corpus). */
  def saveCodebooks(codebooks: DataFrame, path: String): Unit =
    saveCodebooks(codebooks, path, None)

  /** [[saveCodebooks]] carrying a BUILD-TIME codeword reference
    * ([[pqCodeStats]] over the build corpus) alongside the codebooks in
    * a `_pq_reference` sub-artifact (the `_` prefix keeps
    * [[loadCodebooks]]' plain parquet read blind to it) — the yardstick
    * [[pqDriftReport]] measures a long-lived code table against after
    * months of appends and forgets (the
    * [[Similarity.saveCentroids]]/[[Similarity.ivfDriftReport]]
    * convention, PQ arm). */
  def saveCodebooks(
    codebooks: DataFrame,
    path: String,
    reference: Option[DataFrame]
  ): Unit = {
    codebooks.coalesce(1).write.mode("overwrite").parquet(path)
    reference.foreach(
      _.coalesce(1).write.mode("overwrite").parquet(s"$path/_pq_reference"))
  }

  /** Load the build-time reference persisted by [[saveCodebooks]] —
    * fails loud when absent (codebooks saved without one have no drift
    * yardstick; re-save with the reference to enable the report). */
  def loadPqReference(
    spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_pq_reference")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"$path has no _pq_reference sub-artifact - save the codebooks with " +
        "saveCodebooks(codebooks, path, Some(pqCodeStats(...))) to give " +
        "pqDriftReport its build-time yardstick")
    spark.read.parquet(s"$path/_pq_reference")
  }

  /**
   * Per-(subspace, code) codeword statistics of an ENCODED corpus (the
   * frame must carry both the raw vector and its [[encode]]d codes):
   * `(subspace, code, n, mean_err)` — codeword occupancy and the mean
   * squared-L2 quantization error between each assigned subvector and
   * its codeword, i.e. the per-codeword component of the ADC
   * approximation error. ONE aggregation pass over an m-way posexplode
   * of the code arrays (the codebook join is a broadcast of m·k rows);
   * output is codebook-sized. NULL-coded rows (NULL vectors pass
   * [[encode]] through) drop out via the inner codebook join. This is
   * both the build-time reference ([[saveCodebooks]]) and the live side
   * of [[pqDriftReport]].
   */
  def pqCodeStats(
    df: DataFrame,
    vecCol: String,
    codebooks: DataFrame,
    codeCol: String = "pq_code"
  ): DataFrame = {
    val (m, sd) = codebookMeta(codebooks)
    df
      .select(col(vecCol), posexplode(col(codeCol)).as(Seq("subspace", "code")))
      .join(broadcast(codebooks), Seq("subspace", "code"))
      .select(col("subspace"), col("code"),
        L2DistSqExpr(
          transform(slice(col(vecCol), col("subspace") * sd + 1, lit(sd)),
            x => x.cast("double")),
          col("cv")).as("__e"))
      .groupBy("subspace", "code")
      .agg(count(lit(1)).as("n"), avg(col("__e")).as("mean_err"))
  }

  /**
   * The PQ "retrain now?" signal — [[Similarity.ivfDriftReport]]'s twin
   * for codebooks, which drift under appends and forgets exactly like
   * centroids (they are per-subspace centroids): compares the LIVE
   * encoded corpus against the build-time [[pqCodeStats]] reference,
   * per (subspace, code):
   *
   *  - `occupancy_ratio` = (n_now/total_now) / (n_ref/total_ref) with
   *    totals PER SUBSPACE (each subspace partitions the corpus
   *    independently) — exact integer cross-products through one double
   *    division, so an oracle re-derives it bit-for-bit. A codeword
   *    swallowing its subspace (ADC distance tables stop
   *    discriminating) or starving (wasted codes) drifts it from 1.
   *  - `mean_err_rise` = mean_err_now − mean_err_ref — positive when
   *    vectors sit farther from their codewords than the build did:
   *    the ADC approximation degrades, recall at fixed kCandidates
   *    decays.
   *
   * One aggregation pass over the live encoded corpus; everything else
   * is codebook-sized. Codewords empty NOW keep their reference row
   * (n_now 0, NULL mean_err_now — [[enforcePqFreshness]] fails closed
   * on them).
   */
  def pqDriftReport(
    df: DataFrame,
    vecCol: String,
    codebooks: DataFrame,
    reference: DataFrame,
    codeCol: String = "pq_code"
  ): DataFrame = {
    val now = pqCodeStats(df, vecCol, codebooks, codeCol)
      .select(col("subspace"), col("code"),
        col("n").as("n_now"), col("mean_err").as("mean_err_now"))
    val ref = reference.select(col("subspace"), col("code"),
      col("n").as("n_ref"), col("mean_err").as("mean_err_ref"))
    // per-subspace totals, both codebook-sized (broadcast joins)
    val tRef = ref.groupBy("subspace").agg(sum(col("n_ref")).as("__t_ref"))
    val tNow = now.groupBy("subspace")
      .agg(coalesce(sum(col("n_now")), lit(0L)).as("__t_now"))
    ref.join(now, Seq("subspace", "code"), "full_outer")
      .join(broadcast(tRef), Seq("subspace"), "left")
      .join(broadcast(tNow), Seq("subspace"), "left")
      .select(
        col("subspace"), col("code"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_now"), lit(0L)).as("n_now"),
        when(coalesce(col("n_ref"), lit(0L)) === 0 ||
            coalesce(col("__t_now"), lit(0L)) === 0,
          lit(null).cast("double"))
          .otherwise(
            (coalesce(col("n_now"), lit(0L)) * col("__t_ref")).cast("double") /
              (col("n_ref") * col("__t_now")).cast("double"))
          .as("occupancy_ratio"),
        col("mean_err_ref"),
        col("mean_err_now"),
        (col("mean_err_now") - col("mean_err_ref")).as("mean_err_rise"))
  }

  /**
   * The codebook retrain-now gate ([[Similarity.enforceIvfFreshness]]'s
   * PQ twin): every codeword must still be populated (NULL-metric rows
   * fail closed), occupancy skew must stay within `maxOccupancyRatio`
   * of the build-time share in both directions, and the mean
   * quantization error must not have risen more than `maxMeanErrRise`
   * (squared-L2, in the data's own units — tune to the embedding
   * scale). Throws `IllegalStateException` naming the failed rule;
   * returns the report unchanged for green runs.
   */
  def enforcePqFreshness(
    report: DataFrame,
    maxOccupancyRatio: Double = 4.0,
    maxMeanErrRise: Double = 0.1
  ): DataFrame = {
    require(maxOccupancyRatio >= 1.0,
      s"maxOccupancyRatio is a two-sided band around 1: $maxOccupancyRatio")
    Checks.enforce(report, Seq(
      Checks.NonNullRate("occupancy_ratio", 1.0),
      Checks.NonNullRate("mean_err_now", 1.0),
      Checks.ValueRange("occupancy_ratio",
        min = Some(1.0 / maxOccupancyRatio), max = Some(maxOccupancyRatio)),
      Checks.ValueRange("mean_err_rise", max = Some(maxMeanErrRise))))
  }

  /** Load a persisted codebook table, re-typed to the (subspace INT,
    * code BIGINT, cv ARRAY<DOUBLE>) contract and LOCALIZED so downstream
    * plans embed a flat local relation. */
  def loadCodebooks(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    Similarity.localize(spark.read.parquet(path).select(
      col("subspace").cast("int").as("subspace"),
      col("code").cast("long").as("code"),
      transform(col("cv"), x => x.cast("double")).as("cv")))

  /** Exact squared-L2 top-k (ascending distance, ties by neighbor id) —
    * the ground truth ADC approximates; queries broadcast. */
  def exactL2TopK(
    corpus: DataFrame,
    queries: DataFrame,
    vecCol: String,
    idCol: String,
    k: Int = 10
  ): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .crossJoin(q)
      .select(col("query_id"), col("neighbor_id"),
        L2DistSqExpr(
          transform(col("qv"), x => x.cast("double")),
          transform(col("nv"), x => x.cast("double"))).as("dist"))
      .filter(col("dist").isNotNull)
    keepTopK(scored, "dist", k)
  }

  /**
   * ADC top-k over a PQ-encoded corpus: each query precomputes its m×k
   * distance table ONCE (distances from each query subvector to every
   * codeword — broadcast, m·k doubles per query), and scoring a corpus
   * row is m positional lookups + adds on its codes — no float vector
   * is read from the corpus at all. Approximate; ties by neighbor id.
   */
  /** Broadcast per-query ADC distance tables: `query_id` plus, per
    * subspace j, `__qtab_j` = distances from the query's subvector j to
    * every codeword (positional by code). m·k doubles per query. */
  private def queryDistTables(
    queries: DataFrame,
    vecCol: String,
    idCol: String,
    codebooks: DataFrame,
    m: Int,
    sd: Int
  ): DataFrame = broadcast(
    (0 until m).foldLeft(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        .crossJoin(codebookRow(codebooks, m))) { (acc, j) =>
      acc.withColumn(s"__qtab_$j",
        transform(col(s"__cents_$j"),
          cent => L2DistSqExpr(subVec("qv", j, sd), cent("cv"))))
    }.select(col("query_id") +: (0 until m).map(j => col(s"__qtab_$j")): _*))

  /** m positional lookups + adds: the ADC distance of a row's codes
    * against the joined query tables. */
  private def adcDist(m: Int, codeCol: String): Column =
    (0 until m).map(j =>
        element_at(col(s"__qtab_$j"),
          element_at(col(codeCol), j + 1).cast("int") + 1))
      .reduce(_ + _)

  /** Per-query ascending top-k with id tie-break. */
  private def keepTopK(df: DataFrame, distCol: String, k: Int): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col(distCol).asc, col("neighbor_id"))))
      .filter(col("rn") <= k)
      .drop("rn")

  def adcTopK(
    encoded: DataFrame,
    queries: DataFrame,
    vecCol: String,
    idCol: String,
    codebooks: DataFrame,
    k: Int = 10,
    codeCol: String = "pq_code"
  ): DataFrame = {
    val (m, sd) = codebookMeta(codebooks)
    val qt = queryDistTables(queries, vecCol, idCol, codebooks, m, sd)
    keepTopK(
      encoded
        .select(col(idCol).as("neighbor_id"), col(codeCol))
        .crossJoin(qt)
        .select(col("query_id"), col("neighbor_id"), adcDist(m, codeCol).as("adc_dist")),
      "adc_dist", k)
  }

  /**
   * The standard two-stage PQ deployment: ADC generates `kCandidates`
   * per query from codes alone, then ONLY those rows are re-ranked with
   * exact L2 on the raw vectors. The exact pass touches |queries| ×
   * kCandidates vectors — broadcast-sized — via a semi-join on the
   * candidate ids, never the whole corpus.
   */
  def adcRerankTopK(
    corpus: DataFrame,
    encoded: DataFrame,
    queries: DataFrame,
    vecCol: String,
    idCol: String,
    codebooks: DataFrame,
    k: Int = 10,
    kCandidates: Int = 50,
    codeCol: String = "pq_code"
  ): DataFrame = {
    require(kCandidates >= k, s"kCandidates $kCandidates must be >= k $k")
    val cands = adcTopK(encoded, queries, vecCol, idCol, codebooks,
      kCandidates, codeCol)
    val candVecs = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .join(broadcast(cands.select("query_id", "neighbor_id")), Seq("neighbor_id"))
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    keepTopK(
      candVecs
        .join(q, Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          L2DistSqExpr(
            transform(col("qv"), x => x.cast("double")),
            transform(col("nv"), x => x.cast("double"))).as("dist"))
        .filter(col("dist").isNotNull),
      "dist", k)
  }

  /**
   * IVF + PQ — the composition a 100 TB ANN deployment actually runs
   * (FAISS's IVFPQ): the corpus is bucketed once at index-build time
   * ([[Similarity.ivfAssignWith]] over persisted centroids, then
   * [[encode]] — `encoded` must carry that build-time `centroid_id`
   * column), queries probe their `nProbe` nearest buckets, ADC scores
   * ONLY the probed buckets' codes, and exact re-rank touches just the
   * surviving candidates' raw vectors. Scan cost per query batch:
   * (nProbe/nCentroids) of the code table — the raw-vector table is
   * never scanned at all.
   */
  def ivfAdcRerankTopK(
    corpus: DataFrame,
    encoded: DataFrame,
    queries: DataFrame,
    vecCol: String,
    idCol: String,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: Int = 10,
    nProbe: Int = 4,
    kCandidates: Int = 50,
    codeCol: String = "pq_code"
  ): DataFrame = {
    require(kCandidates >= k, s"kCandidates $kCandidates must be >= k $k")
    require(encoded.columns.contains("centroid_id"),
      "encoded corpus must carry its build-time centroid_id bucket column " +
        "(ivfAssignWith + encode at index-build time)")
    val (m, sd) = codebookMeta(codebooks)
    // probe the nProbe cosine-nearest buckets (the IVF convention —
    // ivfTopKWith's probe stage, over the same centroid artifact)
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(centroids))
      .select(col("query_id"), col("centroid_id"),
        Similarity.cosine(col("qv"), col("cv")).as("c_score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("c_score").desc, col("centroid_id"))))
      .filter(col("rn") <= nProbe)
      .select("query_id", "centroid_id")
    val qt = queryDistTables(queries, vecCol, idCol, codebooks, m, sd)
    val cands = keepTopK(
      encoded
        .select(col(idCol).as("neighbor_id"), col(codeCol), col("centroid_id"))
        .join(broadcast(probes), "centroid_id")
        .join(qt, "query_id")
        .select(col("query_id"), col("neighbor_id"), adcDist(m, codeCol).as("adc_dist")),
      "adc_dist", kCandidates)
    val candVecs = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .join(broadcast(cands.select("query_id", "neighbor_id")), Seq("neighbor_id"))
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    keepTopK(
      candVecs
        .join(q, Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          L2DistSqExpr(
            transform(col("qv"), x => x.cast("double")),
            transform(col("nv"), x => x.cast("double"))).as("dist"))
        .filter(col("dist").isNotNull),
      "dist", k)
  }

  /**
   * Recall\@k of the two-stage (ADC → exact re-rank) search against
   * exact L2 top-k, as one summary row — the
   * [[Similarity.ivfRecallSummary]] contract: `(n_queries, n_truth,
   * n_hits, recall_ok)`, fail-closed on an empty truth set. Train +
   * encode + search are all deterministic, so a constant-row oracle can
   * gate the threshold. Same broadcast assumption as
   * [[Similarity.ivfRecallSummary]]: the approximate result
   * (≤ |queries|·k rows) is broadcast into the recall join, so
   * `queries × k` must fit the broadcast limit and driver memory.
   */
  def adcRecallSummary(
    corpus: DataFrame,
    queries: DataFrame,
    vecCol: String,
    idCol: String,
    k: Int = 10,
    kCandidates: Int = 50,
    subspaces: Int = 4,
    codebookSize: Int = 16,
    iters: Int = 2,
    minRecall: Double = 0.9
  ): DataFrame = {
    val cb = trainCodebooks(corpus, vecCol, idCol, subspaces, codebookSize, iters)
    val encoded = encode(corpus, vecCol, cb)
    val truth = exactL2TopK(corpus, queries, vecCol, idCol, k)
      .select("query_id", "neighbor_id")
    val approx = adcRerankTopK(corpus, encoded, queries, vecCol, idCol, cb,
        k, kCandidates)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    // both sides are <= |queries|·k rows by construction, but their size
    // ESTIMATES derive from the corpus-sized search subtrees, so the
    // planner picks a sort-merge join (two exchanges + two sorts of
    // rows that were never big). Broadcast the approx side explicitly
    // (guide §3.1: hint when you know a side is small).
    truth
      .join(broadcast(approx), Seq("query_id", "neighbor_id"), "left")
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_truth"),
        coalesce(sum(coalesce(col("hit"), lit(0L))), lit(0L)).as("n_hits"))
      .select(
        col("n_queries"), col("n_truth"), col("n_hits"),
        when(col("n_truth") === 0, lit(0))
          .otherwise(
            (col("n_hits").cast("double") / col("n_truth").cast("double") >= lit(minRecall))
              .cast("int"))
          .as("recall_ok"))
  }
}
