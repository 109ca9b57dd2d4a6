package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor search over an embedding column.
 *
 * Brute-force cosine top-k is the exact baseline: the (small) query set is
 * broadcast, the corpus is scanned in place and never shuffled, and the
 * per-query top-k uses a rank window that Spark's WindowGroupLimit
 * optimization turns into partial per-partition top-k before the shuffle.
 *
 * IVF is the scale path: the corpus is assigned once to centroid buckets
 * (one shuffle), and each query probes only its nProbe nearest buckets —
 * at 1000 executors the probe join touches ~nProbe/nCentroids of the data.
 */
object Similarity {

  /** Dot product of two double arrays (cast-safe for float inputs). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x
    )

  /** Pure-Catalyst cosine (3 × dim interpreted lambda frames per pair);
    * kept as the portable reference form that HashingSpec pins the native
    * expression against. */
  def cosineColumns(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Cosine similarity of two numeric arrays — the native fused-loop
    * expression ([[graft.functions.CosineSimExpr]]). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimExpr(a, b)

  /**
   * Exact cosine top-k: for every query vector, the k nearest corpus
   * vectors by cosine, ties broken by neighbor id.
   *
   * @param corpus  (idCol, vecCol) table — scanned, never shuffled whole
   * @param queries (idCol, vecCol) table — must be small; broadcast
   */
  def bruteForceTopK(
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
      .select(
        col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("nv")).as("score"))
      .filter(col("score").isNotNull) // zero-norm vectors are not neighbors
    val rank = row_number().over(
      Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id")))
    scored
      .withColumn("rn", rank)
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /**
   * Brute-force DTW top-k: per query series, the `k` nearest corpus
   * series by banded dynamic-time-warping distance (ascending;
   * neighbor-id tiebreak) — the phase-tolerant twin of
   * [[bruteForceTopK]] for behavior profiles
   * ([[graft.streaming.Events.seriesVectors]] output): a usage pattern
   * shifted by a bucket is CLOSE under DTW and far under any aligned
   * metric. Queries broadcast, the corpus is never shuffled, each pair
   * pays the O(len·band) [[graft.functions.DtwDistExpr]] kernel
   * in-scan, and row_number ≤ k plans as WindowGroupLimit. NULL
   * distances (empty series, band-infeasible length gaps) are not
   * neighbors — the [[bruteForceTopK]] zero-norm convention. Exact by
   * construction; at corpus scale, pre-prune with a cheap aligned
   * metric (cosine/L2 top-N, then DTW re-rank) — the
   * [[graft.operators.Pq.adcRerankTopK]] two-stage shape.
   */
  def dtwTopK(
    corpus: DataFrame,
    queries: DataFrame,
    vecCol: String,
    idCol: String,
    k: Int = 10,
    band: Int = 8
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .crossJoin(q)
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.DtwDistExpr(col("qv"), col("nv"), band).as("dtw_dist"))
      .filter(col("dtw_dist").isNotNull)
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("dtw_dist").asc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  /**
   * Exact DTW top-k at corpus scale — the two-stage LB_Keogh search
   * ([[graft.functions.LbKeoghExpr]]; the classical UCR-suite shape):
   * the full corpus pays only the O(len) lower-bound kernel, and the
   * O(len·band) DTW recurrence runs on two provably-sufficient
   * candidate sets. EXACT by construction, not a recall trade-off:
   *
   *   1. `lb = lb_keogh(qv, nv, band)` for every (query, corpus) pair —
   *      the cheap pass; per query, the `pruneN` smallest-`lb`
   *      candidates (WindowGroupLimit: each partition surrenders its
   *      local top-`pruneN`) get exact DTW, and the k-th smallest of
   *      those distances is the cutoff τ.
   *   2. Any pair with `lb > τ` has `dtw ≥ lb > τ` — strictly worse
   *      than k answers already in hand, so it can never enter the
   *      top-k (not even on ties: the comparison is strict). The
   *      corpus is re-screened with `lb ≤ τ` (τ broadcast,
   *      query-count-sized) and only the survivors — top-k members
   *      all satisfy `lb ≤ dtw ≤ τ`, so none is lost — pay DTW again;
   *      the final rank is over that set.
   *
   * Wall-clock scales with |corpus| × O(len) + |survivors| × O(len·band);
   * on separated data survivors ≈ pruneN per query. Same output
   * contract as [[dtwTopK]] (ascending dtw_dist, neighbor-id tiebreak,
   * NULL-infeasible pairs excluded — [[graft.functions.LbKeoghExpr]]
   * is NULL exactly where the DTW kernel is, so no pair is silently
   * dropped). Raise `pruneN` if profiling shows stage 2 re-scoring
   * much more than pruneN per query (a tighter τ is stage 1's only
   * job); the answer is identical at any pruneN ≥ k.
   */
  def dtwTopKPruned(
    corpus: DataFrame,
    queries: DataFrame,
    vecCol: String,
    idCol: String,
    k: Int = 10,
    band: Int = 8,
    pruneN: Int = 50
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(pruneN >= k, s"pruneN must be >= k: $pruneN < $k")
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    def lbPairs = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .crossJoin(q)
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("nv"),
        graft.functions.LbKeoghExpr(col("qv"), col("nv"), band).as("lb"))
      .filter(col("lb").isNotNull)
    val cands = lbPairs
      .withColumn("__lbr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("lb").asc, col("neighbor_id"))))
      .filter(col("__lbr") <= pruneN)
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.DtwDistExpr(col("qv"), col("nv"), band).as("dtw_dist"))
    // τ per query: the k-th smallest exact distance among the LB-top
    // candidates (the max when fewer than k exist — then stage 2's
    // screen keeps every pair that could still matter)
    val tau = cands
      .withColumn("__dr", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("dtw_dist").asc, col("neighbor_id"))))
      .filter(col("__dr") <= k)
      .groupBy("query_id").agg(max(col("dtw_dist")).as("__tau"))
    lbPairs
      .join(broadcast(tau), Seq("query_id"))
      .filter(col("lb") <= col("__tau"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.DtwDistExpr(col("qv"), col("nv"), band).as("dtw_dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("dtw_dist").asc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  /**
   * Build-once DTW search artifact: `(series_id, series, up, lo)` —
   * every corpus series with its Sakoe–Chiba band envelopes
   * ([[graft.functions.DtwEnvelopeExpr]]) precomputed at `band`.
   * Envelopes are query-INDEPENDENT per band, so a deployment running
   * repeated [[dtwTopKPrunedOver]] probes pays the deque work once here
   * instead of once per (query, series) pair — the bm25SidecarWrite /
   * setSimPrefixIndex / hammingBandedIndex build-once economics applied
   * to the DTW family. Per-doc rows: [[graft.operators.Forget
   * .removeIds]] on `series_id` IS the rebuild (the q_forget_ivf
   * contract). Persist with [[dtwEnvelopeIndexWrite]], which pins
   * `band` in a self-describing sidecar.
   */
  def dtwEnvelopeIndex(
    corpus: DataFrame,
    vecCol: String,
    idCol: String,
    band: Int
  ): DataFrame = {
    require(band >= 0, s"band must be >= 0: $band")
    corpus.select(
      col(idCol).as("series_id"),
      transform(col(vecCol), x => x.cast("double")).as("series"),
      graft.functions.DtwEnvelopeExpr(col(vecCol), band, upper = true).as("up"),
      graft.functions.DtwEnvelopeExpr(col(vecCol), band, upper = false).as("lo"))
  }

  /** Band-parameter sidecar name (`_`-prefixed: invisible to plain
    * parquet reads), read and published through [[IndexStore]]: a
    * probe MUST use the writer's band (envelopes at a different band
    * are a different bound), so it is never a caller-supplied guess on
    * the read side. */
  private val DtwBandMetaFile = "_dtw_band"

  /** Persist a [[dtwEnvelopeIndex]] with its band in a self-describing
    * `_dtw_band` sidecar. `mode = "append"` grows the artifact by a
    * drop's rows and VERIFIES the sidecar instead of rewriting it —
    * mixed-band envelopes would silently loosen or break the bound —
    * and refuses a data directory without one
    * ([[IndexStore.writeStamped]]). */
  def dtwEnvelopeIndexWrite(
    index: DataFrame,
    path: String,
    band: Int,
    mode: String = "overwrite"
  ): Unit = {
    require(band >= 0, s"band must be >= 0: $band")
    IndexStore.writeStamped(index, path, DtwBandMetaFile, band.toString,
      mode, "dtwEnvelopeIndexWrite")
  }

  /** Read a [[dtwEnvelopeIndexWrite]] sidecar back. Fails LOUD when
    * absent — guessing the band would silently change the bound. */
  def readDtwBandMeta(
    spark: org.apache.spark.sql.SparkSession,
    path: String
  ): Int = {
    val text = IndexStore.read(spark, path, DtwBandMetaFile).getOrElse(
      throw new IllegalArgumentException(
        s"$path has no $DtwBandMetaFile sidecar - it was not written by " +
          "dtwEnvelopeIndexWrite; rebuild the artifact with dtwEnvelopeIndex " +
          "+ dtwEnvelopeIndexWrite"))
    require(text.nonEmpty && text.length <= 9 &&
        text.forall(c => c >= '0' && c <= '9'),
      s"$path/$DtwBandMetaFile is not a band int ('$text') - was it " +
        "written by dtwEnvelopeIndexWrite?")
    text.toInt
  }

  /**
   * [[dtwTopKPruned]] over a prebuilt [[dtwEnvelopeIndex]] frame — the
   * amortized two-stage exact search: stage 1's corpus pass pays only
   * the O(m) [[graft.functions.LbKeoghEnvExpr]] comparison against the
   * STORED envelopes (the O(n) deque build is in the artifact; the
   * query side's own envelopes are computed once on the broadcast query
   * frame), and the τ re-screen + exact DTW stages are unchanged. Same
   * output contract and the same exactness argument as
   * [[dtwTopKPruned]]; a spec pins the composed two-sided bound equal
   * to the fused [[graft.functions.LbKeoghExpr]] bit for bit, so the
   * τ screen is the SAME screen.
   *
   * `band` MUST equal the band the index's envelopes were BUILT with:
   * the stored envelopes are band-specific, and
   * [[graft.functions.LbKeoghEnvExpr]] derives the series length from
   * `envLen - band` — a mismatched band makes the "bound" exceed true
   * DTW and silently prunes true top-k neighbors (wrong results, not
   * an error). Callers reading a persisted artifact should go through
   * [[dtwTopKPrunedAgainst]], which pins `band` from the `_dtw_band`
   * sidecar; pass a caller-supplied band here only for an in-memory
   * index frame whose build band is in hand.
   */
  def dtwTopKPrunedOver(
    index: DataFrame,
    queries: DataFrame,
    vecCol: String,
    idCol: String,
    band: Int,
    k: Int = 10,
    pruneN: Int = 50
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(pruneN >= k, s"pruneN must be >= k: $pruneN < $k")
    val q = broadcast(
      queries.select(col(idCol).as("query_id"),
          transform(col(vecCol), x => x.cast("double")).as("qv"))
        .withColumn("q_up",
          graft.functions.DtwEnvelopeExpr(col("qv"), band, upper = true))
        .withColumn("q_lo",
          graft.functions.DtwEnvelopeExpr(col("qv"), band, upper = false)))
    // symmetric LB: max of the two one-sided bounds, NULL when either
    // is (greatest() skips nulls, so the guard is explicit — a NULL
    // side means an infeasible/empty pair, the LbKeoghExpr contract).
    // Each O(m) kernel is named in its own projection so the null
    // guard's multiple references never re-evaluate it.
    def lbPairs = index
      .select(col("series_id").as("neighbor_id"), col("series").as("nv"),
        col("up"), col("lo"))
      .crossJoin(q)
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("nv"),
        graft.functions.LbKeoghEnvExpr(
          col("nv"), col("q_up"), col("q_lo"), band).as("__lba"),
        graft.functions.LbKeoghEnvExpr(
          col("qv"), col("up"), col("lo"), band).as("__lbb"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("nv"),
        when(col("__lba").isNull || col("__lbb").isNull,
            lit(null).cast("double"))
          .otherwise(greatest(col("__lba"), col("__lbb"))).as("lb"))
      .filter(col("lb").isNotNull)
    val cands = lbPairs
      .withColumn("__lbr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("lb").asc, col("neighbor_id"))))
      .filter(col("__lbr") <= pruneN)
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.DtwDistExpr(col("qv"), col("nv"), band).as("dtw_dist"))
    val tau = cands
      .withColumn("__dr", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("dtw_dist").asc, col("neighbor_id"))))
      .filter(col("__dr") <= k)
      .groupBy("query_id").agg(max(col("dtw_dist")).as("__tau"))
    lbPairs
      .join(broadcast(tau), Seq("query_id"))
      .filter(col("lb") <= col("__tau"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.DtwDistExpr(col("qv"), col("nv"), band).as("dtw_dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("dtw_dist").asc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  /** [[dtwTopKPrunedOver]] against a PERSISTED artifact directory —
    * band comes from the sidecar, never a caller guess. */
  def dtwTopKPrunedAgainst(
    spark: org.apache.spark.sql.SparkSession,
    path: String,
    queries: DataFrame,
    vecCol: String,
    idCol: String,
    k: Int = 10,
    pruneN: Int = 50
  ): DataFrame = {
    val band = readDtwBandMeta(spark, path)
    // schema from the parquet footers: dtwEnvelopeIndex keeps the id
    // column's own type (int/long/string ids all round-trip), and a
    // forced BIGINT schema would fail the read for the non-long ones
    dtwTopKPrunedOver(
      spark.read.parquet(path).select("series_id", "series", "up", "lo"),
      queries, vecCol, idCol, band, k, pruneN)
  }

  /** Assign every corpus vector to its nearest centroid by cosine: the
    * (small) centroid table rides along as ONE broadcast array row and
    * the argmax is a pure expression fold over it — the corpus itself is
    * never shuffled or windowed for assignment. */
  private def assignTo(corpus: DataFrame, vecCol: String, cents: DataFrame): DataFrame = {
    val centArr = broadcast(
      cents.agg(array_sort(collect_list(struct(col("centroid_id"), col("cv")))).as("cents")))
    val best = aggregate(
      col("cents"),
      struct(lit(Double.MinValue).as("s"), lit(-1L).as("i")),
      (acc, c) => {
        val sc = cosine(col(vecCol), c("cv"))
        when(sc > acc("s"), struct(sc.as("s"), c("centroid_id").as("i"))).otherwise(acc)
      }
    )
    corpus
      .crossJoin(centArr)
      .withColumn("centroid_id", best("i"))
      .drop("cents")
  }

  /** Deterministic k-means seeds: the nCentroids lowest-id corpus
    * vectors, id-keyed and cast to double: (centroid_id, cv). */
  private def seedCentroids(
    corpus: DataFrame,
    vecCol: String,
    idCol: String,
    nCentroids: Int
  ): DataFrame =
    corpus
      .orderBy(col(idCol))
      .limit(nCentroids)
      .select(
        col(idCol).cast("long").as("centroid_id"),
        transform(col(vecCol), x => x.cast("double")).as("cv"))

  /**
   * K-means centroids over the corpus: deterministic lowest-id seeds
   * refined by `iters` Lloyd rounds, each round entirely relational —
   * assign to nearest centroid (broadcast fold, no shuffle of the
   * corpus), then the per-bucket mean as ONE
   * [[graft.functions.VectorMeanAgg]] aggregation: map-side partials
   * shuffle ≤ nCentroids × dim doubles per partition, where the
   * posexplode → per-(centroid, dimension) avg alternative multiplies
   * shuffled rows by the dimension and pays a second shuffle to
   * reassemble. Empty clusters keep their previous centroid.
   *
   * Centroids are COLLECTED to the driver after EVERY round (k × dim
   * doubles — metadata-sized) so each Lloyd iteration plans against a
   * flat local relation: threading the unlocalized plan through would
   * embed round N-1's full assignment chain inside round N's, making
   * analysis cost blow up with the iteration count. The localization also
   * means downstream consumers (assignment + query probes) never re-run
   * the iteration chain.
   */
  def kmeansCentroids(
    corpus: DataFrame,
    vecCol: String,
    idCol: String,
    nCentroids: Int = 16,
    iters: Int = 2
  ): DataFrame = {
    var cents = localize(seedCentroids(corpus, vecCol, idCol, nCentroids))
    var i = 0
    while (i < iters) {
      val means = assignTo(corpus, vecCol, cents)
        .groupBy("centroid_id")
        .agg(graft.functions.VectorMeanAgg(col(vecCol)).as("next"))
      cents = localize(
        cents
          .join(means, Seq("centroid_id"), "left")
          .select(col("centroid_id"), coalesce(col("next"), col("cv")).as("cv")))
      i += 1
    }
    cents
  }

  /**
   * IVF index: k-means centroids (deterministic seeds + Lloyd rounds),
   * every corpus vector assigned to its nearest centroid by cosine.
   * Returns the corpus with a `centroid_id` bucket column.
   */
  def ivfAssign(
    corpus: DataFrame,
    vecCol: String,
    idCol: String,
    nCentroids: Int = 16,
    kmeansIters: Int = 2
  ): DataFrame =
    assignTo(corpus, vecCol,
      kmeansCentroids(corpus, vecCol, idCol, nCentroids, kmeansIters))

  /** [[ivfAssign]] against a PREBUILT centroid table (centroid_id, cv) —
    * pairs with [[loadCentroids]] the way [[ivfTopKWith]] does, so
    * assignment reuses a persisted index instead of refitting k-means. */
  def ivfAssignWith(corpus: DataFrame, vecCol: String, centroids: DataFrame): DataFrame =
    assignTo(corpus, vecCol, centroids)

  /**
   * IVF top-k: probe the nProbe centroid buckets nearest to each query and
   * run exact cosine only inside those buckets. Approximate: recall
   * depends on how well buckets capture the query's neighborhood
   * (nProbe = nCentroids degenerates to exact brute force).
   */
  def ivfTopK(
    corpus: DataFrame,
    queries: DataFrame,
    vecCol: String,
    idCol: String,
    k: Int = 10,
    nCentroids: Int = 16,
    nProbe: Int = 4,
    kmeansIters: Int = 2
  ): DataFrame =
    // one k-means run; the local centroid relation feeds BOTH the corpus
    // assignment and the query probes
    ivfTopKWith(corpus, queries, vecCol, idCol,
      kmeansCentroids(corpus, vecCol, idCol, nCentroids, kmeansIters),
      k, nProbe)

  /**
   * IVF top-k against a PREBUILT centroid table (centroid_id, cv) — the
   * deployment shape: a real installation amortizes one index build over
   * many query batches by persisting the centroids ([[saveCentroids]])
   * and probing from the loaded table ([[loadCentroids]]), skipping the
   * Lloyd loop entirely. Value-identical to [[ivfTopK]] run with the
   * same centroids (assignment and probe are deterministic given the
   * centroid table — SimilaritySpec pins the save → load → search
   * roundtrip against the in-line build).
   */
  def ivfTopKWith(
    corpus: DataFrame,
    queries: DataFrame,
    vecCol: String,
    idCol: String,
    centroids: DataFrame,
    k: Int = 10,
    nProbe: Int = 4
  ): DataFrame =
    ivfTopKAssigned(assignTo(corpus, vecCol, centroids), queries,
      vecCol, idCol, centroids, k, nProbe)

  /**
   * IVF top-k over an ALREADY-ASSIGNED corpus table (`centroid_id`
   * riding each row — [[ivfAssignWith]] output, typically persisted
   * bucketed on `centroid_id`): the fully-amortized deployment probe,
   * skipping both the Lloyd loop AND the per-probe assignment scan.
   * This is also the forget-path probe: a takedown rewrites the
   * assignment table via [[graft.operators.Forget.removeIds]] (per-doc
   * rows, anti-join ≡ rebuild — centroids are doc-free and stay), and
   * probing the reduced table here is value-equal to a rebuild from
   * the reduced corpus under the SAME centroids.
   */
  def ivfTopKAssigned(
    assigned: DataFrame,
    queries: DataFrame,
    vecCol: String,
    idCol: String,
    centroids: DataFrame,
    k: Int = 10,
    nProbe: Int = 4
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probes = q
      .crossJoin(broadcast(centroids))
      .select(col("query_id"), col("qv"), col("centroid_id"),
        cosine(col("qv"), col("cv")).as("c_score"))
      .withColumn("rn",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("c_score").desc, col("centroid_id"))))
      .filter(col("rn") <= nProbe)
      .select("query_id", "qv", "centroid_id")
    val scored = assigned
      .join(broadcast(probes), "centroid_id")
      .select(
        col("query_id"),
        col(idCol).as("neighbor_id"),
        cosine(col("qv"), col(vecCol)).as("score"))
      .filter(col("score").isNotNull) // zero-norm vectors are not neighbors
    scored
      .withColumn("rn",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /**
   * Persist a centroid table for reuse across query batches. Centroids
   * are metadata-sized (nCentroids × dim doubles), so the write coalesces
   * to one file — the index artifact a deployment ships alongside the
   * bucketed corpus.
   */
  def saveCentroids(centroids: DataFrame, path: String): Unit =
    saveCentroids(centroids, path, None)

  /** [[saveCentroids]] carrying a BUILD-TIME assignment reference
    * ([[ivfAssignmentStats]] over the build corpus) alongside the
    * centroids in an `_ivf_reference` sub-artifact (the `_` prefix
    * keeps [[loadCentroids]]' plain parquet read blind to it) — the
    * yardstick [[ivfDriftReport]] measures a long-lived index against
    * after months of appends and forgets. */
  def saveCentroids(
    centroids: DataFrame,
    path: String,
    reference: Option[DataFrame]
  ): Unit = {
    centroids.coalesce(1).write.mode("overwrite").parquet(path)
    reference.foreach(
      _.coalesce(1).write.mode("overwrite").parquet(s"$path/_ivf_reference"))
  }

  /** Load the build-time reference persisted by [[saveCentroids]] —
    * fails loud when absent (an index saved without one has no drift
    * yardstick; re-save with the reference to enable the report). */
  def loadIvfReference(
    spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_ivf_reference")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"$path has no _ivf_reference sub-artifact - save the index with " +
        "saveCentroids(centroids, path, Some(ivfAssignmentStats(...))) " +
        "to give ivfDriftReport its build-time yardstick")
    spark.read.parquet(s"$path/_ivf_reference")
  }

  /**
   * Per-bucket assignment statistics of an assigned corpus against its
   * centroid table: `(centroid_id, n, mean_cos)` — occupancy and mean
   * assignment cosine. ONE aggregation pass over the assignment table
   * (the centroid join is a broadcast), output is centroid-count-sized.
   * Rows assigned to no centroid (zero-norm vectors, `centroid_id` -1)
   * drop out via the inner centroid join; NULL cosines never reach the
   * average. This is both the build-time reference ([[saveCentroids]])
   * and the live side of [[ivfDriftReport]].
   */
  def ivfAssignmentStats(
    assigned: DataFrame,
    vecCol: String,
    centroids: DataFrame
  ): DataFrame =
    assigned
      .join(broadcast(centroids), Seq("centroid_id"))
      .groupBy("centroid_id")
      .agg(
        count(lit(1)).as("n"),
        avg(cosine(col(vecCol), col("cv"))).as("mean_cos"))

  /**
   * The "retrain now?" signal a long-lived IVF/PQ deployment needs:
   * centroids are doc-free and survive every append and forget, but
   * nothing else says when the accumulated drops have drifted the
   * corpus away from the space the centroids were trained on. This
   * compares the LIVE assignment table against the build-time
   * reference, per bucket:
   *
   *  - `occupancy_ratio` = (n_now/total_now) / (n_ref/total_ref) —
   *    exact integer cross-products through one double division, so an
   *    oracle re-derives it bit-for-bit. A bucket swallowing the
   *    corpus (skew — probe cost concentrates) or starving (wasted
   *    partitions) drifts it from 1.
   *  - `mean_cos_drop` = mean_cos_ref − mean_cos_now — positive when
   *    vectors sit farther from their centroid than the build did
   *    (the space moved; recall at fixed nProbe decays).
   *
   * One aggregation pass over the live assignment table; everything
   * else is centroid-count-sized. Buckets empty NOW keep their
   * reference row (n_now 0, NULL mean_cos_now — [[enforceIvfFreshness]]
   * fails closed on them). Wire thresholds via [[enforceIvfFreshness]].
   */
  def ivfDriftReport(
    assigned: DataFrame,
    vecCol: String,
    centroids: DataFrame,
    reference: DataFrame
  ): DataFrame = {
    val now = ivfAssignmentStats(assigned, vecCol, centroids)
      .select(col("centroid_id"),
        col("n").as("n_now"), col("mean_cos").as("mean_cos_now"))
    val ref = reference.select(col("centroid_id"),
      col("n").as("n_ref"), col("mean_cos").as("mean_cos_ref"))
    // both sides are centroid-count-sized; the totals are 1-row folds
    val totals = broadcast(
      ref.agg(sum(col("n_ref")).as("__t_ref")).crossJoin(
        now.agg(coalesce(sum(col("n_now")), lit(0L)).as("__t_now"))))
    ref.join(now, Seq("centroid_id"), "full_outer")
      .crossJoin(totals)
      .select(
        col("centroid_id"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_now"), lit(0L)).as("n_now"),
        when(coalesce(col("n_ref"), lit(0L)) === 0 || col("__t_now") === 0,
          lit(null).cast("double"))
          .otherwise(
            (coalesce(col("n_now"), lit(0L)) * col("__t_ref")).cast("double") /
              (col("n_ref") * col("__t_now")).cast("double"))
          .as("occupancy_ratio"),
        col("mean_cos_ref"),
        col("mean_cos_now"),
        (col("mean_cos_ref") - col("mean_cos_now")).as("mean_cos_drop"))
  }

  /**
   * The retrain-now gate: [[Checks.enforce]] over an [[ivfDriftReport]]
   * — every bucket must still be populated (NULL-metric rows fail
   * closed via the non-null checks), occupancy skew must stay within
   * `maxOccupancyRatio` of the build-time share in both directions,
   * and the mean assignment cosine must not have dropped more than
   * `maxMeanCosDrop`. Throws `IllegalStateException` naming the failed
   * rule — schedule a centroid retrain when it fires. Returns the
   * report unchanged for green runs (drop it into a maintenance
   * pipeline).
   */
  def enforceIvfFreshness(
    report: DataFrame,
    maxOccupancyRatio: Double = 4.0,
    maxMeanCosDrop: Double = 0.1
  ): DataFrame = {
    require(maxOccupancyRatio >= 1.0,
      s"maxOccupancyRatio is a two-sided band around 1: $maxOccupancyRatio")
    Checks.enforce(report, Seq(
      Checks.NonNullRate("occupancy_ratio", 1.0),
      Checks.NonNullRate("mean_cos_now", 1.0),
      Checks.ValueRange("occupancy_ratio",
        min = Some(1.0 / maxOccupancyRatio), max = Some(maxOccupancyRatio)),
      Checks.ValueRange("mean_cos_drop", max = Some(maxMeanCosDrop))))
  }

  /**
   * Load a persisted centroid table, re-typed to the (centroid_id BIGINT,
   * cv ARRAY<DOUBLE>) contract [[ivfTopKWith]] expects, and LOCALIZED to
   * a driver-local relation (metadata-sized, like the per-round Lloyd
   * fold) so downstream plans embed a flat local table instead of a scan
   * — probes and assignment broadcast it exactly like an in-line build.
   */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    localize(spark.read.parquet(path).select(
      col("centroid_id").cast("long").as("centroid_id"),
      transform(col("cv"), x => x.cast("double")).as("cv")))

  /**
   * Collapse a metadata-sized frame (centroids, unigram models — never a
   * corpus) to a driver-local single-partition relation: ONE execution of
   * the source plan, and downstream consumers embed a flat local table
   * instead of re-running the plan per action.
   */
  private[graft] def localize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(df.collect().toIndexedSeq, 1), df.schema)
  }

  /**
   * Recall\@k of the approximate IVF configuration against exact brute
   * force, as ONE summary row:
   * `(n_queries, n_truth, n_hits, recall_ok)` where `n_truth` is the
   * number of exact top-k rows, `n_hits` how many of them IVF also
   * returned, and `recall_ok` = 1 iff `n_hits / n_truth >= minRecall`.
   *
   * Entirely relational — the truth set left-joins the IVF set on
   * (query_id, neighbor_id) and one aggregation folds the counts — so the
   * check scales exactly like the two searches it compares (the join keys
   * are ≤ |queries|·k rows, broadcast-sized). Every input to the
   * comparison is deterministic (deterministic k-means seeds, exact
   * integer rank ties), which is what lets a constant-table DuckDB oracle
   * gate the threshold.
   *
   * This is a VALIDATION stage: it pays for both searches, including
   * brute force over the corpus. At corpus scale run it on a
   * [[Sampling.hashSample]]d corpus and query set — recall estimated on
   * a deterministic sample, not the full 100 TB.
   *
   * Broadcast assumption: the IVF result (≤ |queries|·k rows) is
   * BROADCAST into the recall join, so `queries × k` must fit the
   * broadcast limit and driver memory — a validation-sized query set.
   * A huge query set belongs on a sampled query set, not this helper.
   */
  def ivfRecallSummary(
    corpus: DataFrame,
    queries: DataFrame,
    vecCol: String,
    idCol: String,
    k: Int = 10,
    nCentroids: Int = 16,
    nProbe: Int = 4,
    kmeansIters: Int = 2,
    minRecall: Double = 0.9
  ): DataFrame = {
    val truth = bruteForceTopK(corpus, queries, vecCol, idCol, k)
      .select("query_id", "neighbor_id")
    val approx = ivfTopK(corpus, queries, vecCol, idCol, k, nCentroids, nProbe, kmeansIters)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    // both sides are <= |queries|·k rows by construction (the scaladoc's
    // broadcast-sized argument), but their size ESTIMATES derive from
    // the corpus-sized search subtrees, so the planner picks a
    // sort-merge join. Broadcast the approx side explicitly (guide
    // §3.1: hint when you know a side is small).
    truth
      .join(broadcast(approx), Seq("query_id", "neighbor_id"), "left")
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_truth"),
        // sum over zero rows is NULL — an empty truth set must read as
        // zero hits, not null-propagate into the verdict
        coalesce(sum(coalesce(col("hit"), lit(0L))), lit(0L)).as("n_hits"))
      .select(
        col("n_queries"), col("n_truth"), col("n_hits"),
        // fail-closed: no truth rows (empty corpus or query set) is NOT
        // a passing recall check
        when(col("n_truth") === 0, lit(0))
          .otherwise(
            (col("n_hits").cast("double") / col("n_truth").cast("double") >= lit(minRecall))
              .cast("int"))
          .as("recall_ok"))
  }
}
