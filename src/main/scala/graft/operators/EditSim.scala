package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * EXACT edit-distance similarity self-join (levenshtein <= maxDist) via
 * deletion neighborhoods — the symmetric-delete scheme popularized by
 * SymSpell (public algorithm; also the candidate core of FastSS,
 * Bocek et al. 2007).
 *
 * For short keys — titles, names, canonical URLs, product codes — this
 * finds every pair within edit distance d without an all-pairs scan:
 * if lev(a, b) <= d then some string obtainable by deleting <= d
 * characters from `a` equals one obtainable by deleting <= d from `b`
 * (each edit is absorbed by deleting the touched character from the
 * side(s) it appears on). So generating the <= d-deletion neighborhood
 * of every string and equi-joining on the variant is a COMPLETE
 * candidate generator; an exact bounded `levenshtein(a, b, d)` verify
 * (early-exit banded DP, codegen'd Spark built-in) removes false
 * positives.
 *
 * Why it scales (the 100 TB argument):
 *  - Neighborhood size is 1 + l + l(l-1)/2 at d=2 — rows, not pairs;
 *    for the short-key domains this join is for (l <= ~40) that is a
 *    bounded constant per row, embarrassingly parallel, zero shuffle
 *    until the variant equi-join.
 *  - The variant join shuffles on the variant string: co-located,
 *    map-side combinable, no cartesian anywhere; the `|len(a)-len(b)|
 *    <= d` filter prunes inside the join.
 *  - A variant shared by k strings yields O(k²) candidates (boilerplate
 *    keys); `maxVariantBucket` caps that bucket with the loud
 *    observed-metric discipline of [[Dedup]]'s LSH cap
 *    (`graft.editsim.bucket_cap#n`) — exact dedup first is the right
 *    tool for identical keys, same trade as there.
 *  - Verification cost is bounded: `levenshtein(a, b, d)` returns -1 as
 *    soon as the band exceeds d — O(d·min(la, lb)) per candidate.
 */
object EditSim {


  /** Default variant bucket cap — same rationale as
    * [[Dedup.DefaultMaxBucket]]. */
  val DefaultMaxVariantBucket: Option[Int] = Some(4096)

  /** All single-character-deletion variants of `s` (length-l array). */
  private def deleteOne(s: Column): Column =
    transform(sequence(lit(1), length(s)),
      i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s))))

  /**
   * Exact levenshtein self-join over a short-string column.
   *
   * @param df       input; `idCol` must be unique per row
   * @param strCol   string key (NULLs drop out; intended for keys up to
   *                 a few dozen characters — neighborhood size is
   *                 quadratic in length at maxDist=2)
   * @param idCol    unique orderable id
   * @param maxDist  1 or 2 (deletion-neighborhood completeness is
   *                 generated per level; higher d explodes variants)
   * @param maxVariantBucket cap on one variant's bucket (see scaladoc)
   * @return (id_a, id_b, edit_dist) with id_a < id_b, edit_dist <= maxDist
   */
  def editDistancePairs(
    df: DataFrame,
    strCol: String,
    idCol: String,
    maxDist: Int = 1,
    maxVariantBucket: Option[Int] = DefaultMaxVariantBucket
  ): DataFrame = {
    require(maxDist == 1 || maxDist == 2, s"maxDist must be 1 or 2, got $maxDist")
    val base = df.select(col(idCol).as("__id"), col(strCol).as("__s"))
      .filter(col("__s").isNotNull)
      .withColumn("__len", length(col("__s")))

    // <= maxDist deletion neighborhood, deduplicated per id
    val lvl0 = base.select(col("__id"), col("__len"), col("__s").as("__v"))
    val lvl1 = base.select(col("__id"), col("__len"),
      explode(deleteOne(col("__s"))).as("__v"))
    val levels =
      if (maxDist == 1) lvl0.unionByName(lvl1)
      else lvl0.unionByName(lvl1).unionByName(
        lvl1.select(col("__id"), col("__len"),
          explode(deleteOne(col("__v"))).as("__v")))
    val variants = levels.distinct()

    // bounded single-pass cap (Dedup.capRows): one aggregation whose
    // per-variant buffer cannot exceed the cap — an over-cap variant's
    // bucket never materializes, and no count pass or filter join is
    // scheduled (the r17 two-pass spelling's measured overhead)
    val capped = Dedup.capRows(variants, Seq("__v"),
      maxVariantBucket, "editsim", "maxVariantBucket")

    val cands = capped
      .select(col("__v"), col("__id").as("id_a"), col("__len").as("__la"))
      .join(capped.select(col("__v"), col("__id").as("id_b"), col("__len").as("__lb")),
        Seq("__v"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("__la") - col("__lb")) <= maxDist)
      .select("id_a", "id_b")
      .distinct()

    cands
      .join(base.select(col("__id").as("id_a"), col("__s").as("__sa")), "id_a")
      .join(base.select(col("__id").as("id_b"), col("__s").as("__sb")), "id_b")
      // bounded DP: -1 the moment the band exceeds maxDist
      .withColumn("edit_dist", levenshtein(col("__sa"), col("__sb"), maxDist))
      .filter(col("edit_dist") >= 0)
      .select(col("id_a"), col("id_b"), col("edit_dist"))
  }

  // ------------------------------------------------- cross-corpus (R-S)

  /** The <= maxDist deletion neighborhood of every key, deduplicated per
    * id, with the original string riding: (v, id, len, s). */
  private def variantTable(
    df: DataFrame,
    strCol: String,
    idCol: String,
    maxDist: Int
  ): DataFrame = {
    require(maxDist == 1 || maxDist == 2, s"maxDist must be 1 or 2, got $maxDist")
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(col("s").isNotNull)
      .withColumn("len", length(col("s")))
    val lvl0 = base.select(col("id"), col("len"), col("s"), col("s").as("v"))
    val lvl1 = base.select(col("id"), col("len"), col("s"),
      explode(deleteOne(col("s"))).as("v"))
    val levels =
      if (maxDist == 1) lvl0.unionByName(lvl1)
      else lvl0.unionByName(lvl1).unionByName(
        lvl1.select(col("id"), col("len"), col("s"),
          explode(deleteOne(col("v"))).as("v")))
    levels.distinct().select("v", "id", "len", "s")
  }

  /**
   * The persisted edit-distance index of a corpus: the <= maxDist
   * deletion neighborhood of every key — `(v, id, len, s, d)` with the
   * original string riding every variant row (strings here are short by
   * the operator's contract, so riding costs less than the join-back it
   * saves — the [[SetSim.setSimPrefixIndex]] convention). Write to
   * parquet once; [[editDistancePairsAgainst]] finds every pair within
   * maxDist between any future batch and the corpus. Valid for any
   * probe maxDist <= the build maxDist (deeper deletions are a
   * superset); [[editDistancePairsAgainst]] rejects a deeper probe
   * loudly via the persisted `d` column.
   */
  def editVariantIndex(
    df: DataFrame,
    strCol: String,
    idCol: String,
    maxDist: Int = 1
  ): DataFrame =
    variantTable(df, strCol, idCol, maxDist).withColumn("d", lit(maxDist))

  /**
   * GROW a persisted [[editVariantIndex]] by a key drop — a plain row
   * union, EXACT by construction: variant rows are the per-doc
   * deletion neighborhood (no cross-doc statistic anywhere), so the
   * union of two builds IS the rebuild over the union corpus
   * row-for-row (q_editdist_append pins it through the join surface).
   * The drop must be generated at the INDEX's own depth `d` (a
   * shallower drop would silently lose its own d=2 matches; the
   * per-row guard raises on mismatch) and drop ids must be NEW (the
   * per-doc-index fail-loud collision contract).
   */
  def editVariantIndexAppend(
    index: DataFrame,
    drop: DataFrame,
    strCol: String,
    idCol: String,
    maxDist: Int = 1
  ): DataFrame = {
    val guarded = index.filter(
      when(col("d") === lit(maxDist), lit(true))
        .otherwise(raise_error(concat(
          lit("editVariantIndexAppend: index built at d="), col("d").cast("string"),
          lit(s" cannot grow with a d=$maxDist drop - one depth per artifact; " +
            "rebuild to change it")))))
    SetSim.appendPerDocIndex(guarded,
      editVariantIndex(drop, strCol, idCol, maxDist),
      "id", "editVariantIndexAppend", tGuard = None)
  }

  /**
   * Exact levenshtein join between a new batch and a PERSISTED
   * [[editVariantIndex]] — the cross-corpus (R-S) arm: a new drop of
   * short keys (titles, canonical URLs, product codes) asks "which
   * corpus keys is each new key within d edits of" without rescanning
   * the corpus. Returns (batch_id, index_id, edit_dist), exact.
   *
   * Completeness is the symmetric-delete property ([[editDistancePairs]]
   * scaladoc) — it needs <= d deletions on BOTH sides, so the batch
   * generates its own neighborhood (bounded per-row work on the small
   * side) and the index must have been built at >= the probe maxDist.
   *
   * Scale shape (the [[Dedup.nearDuplicatesAgainstIndex]] doctrine):
   * index variants are semi-joined against the BROADCAST batch variant
   * set — the index is never shuffled beyond matched rows — then each
   * side groups and caps INDEPENDENTLY before the 1:1-per-variant
   * bucket join (O(I + B) rows per bucket, never I×B). Both strings
   * ride their variant rows, so verification needs no join back to
   * either corpus. A corpus-sized batch runs under
   * [[graft.GraftSession]]'s corpus-sized escape.
   */
  def editDistancePairsAgainst(
    batch: DataFrame,
    index: DataFrame,
    strCol: String,
    idCol: String,
    maxDist: Int = 1,
    maxVariantBucket: Option[Int] = DefaultMaxVariantBucket
  ): DataFrame = {
    require(maxDist == 1 || maxDist == 2, s"maxDist must be 1 or 2, got $maxDist")
    val guardedIndex = index.filter(
      when(col("d") >= lit(maxDist), lit(true))
        .otherwise(raise_error(concat(
          lit("editDistancePairsAgainst: index built at d="), col("d").cast("string"),
          lit(s" cannot serve maxDist=$maxDist > build depth")))))
    // batch side capped BEFORE anything materializes or broadcasts —
    // and it stays FLAT: the bucket join only needs 1:1-per-key
    // economics on ONE side, so collecting the batch into arrays (only
    // to explode them two lines later) bought nothing. capRows bounds
    // the per-variant batch rows (result-identical to the old
    // post-join cap — an over-cap batch bucket never produced output),
    // the idx side keeps the capped-array form, and the join output is
    // row-for-row the old explode product. The semi probe is the
    // UNCAPPED batch variant set — an over-cap variant's extra matched
    // index rows die in the bucket join (its batch rows are gone), so
    // results are identical and the probe doesn't re-run the cap
    // machinery per consumer.
    val bvar = variantTable(batch, strCol, idCol, maxDist)
    val bFlat = Dedup.capRows(bvar, Seq("v"),
      maxVariantBucket, "editsim_incr_batch", "maxVariantBucket")
    // no `.distinct()` on the probe — the broadcast hashed relation
    // dedups keys at build time anyway, so the distinct only bought a
    // smaller driver collect at the price of a whole extra shuffle
    // stage of the (small) batch variants (one of the r17 regression's
    // named contributors)
    val matchedIdx = guardedIndex
      .join(broadcast(bvar.select("v")), Seq("v"), "left_semi")
    // list parity, not set: index rows are unique per (v, id) by
    // construction (variantTable dedups per id; appendPerDocIndex fails
    // loud on a re-added id), so the set arm's per-item dedup hashing
    // bought nothing — and even a hand-built index with duplicate rows
    // only produces duplicate candidate pairs, which the
    // dropDuplicates(batch_id, index_id) below already folds
    val idxBuckets = Dedup.cappedCollect(matchedIdx, Seq("v"),
      struct(col("id"), col("len"), col("s")), "idx_items",
      useSet = false, maxVariantBucket, "editsim_incr_idx", "maxVariantBucket")
    idxBuckets
      .join(broadcast(bFlat.select(col("v"), col("id").as("__b_id"),
        col("len").as("__b_len"), col("s").as("__b_s"))), Seq("v"))
      .select(explode(col("idx_items")).as("i"),
        col("__b_id"), col("__b_len"), col("__b_s"))
      .filter(abs(col("i.len") - col("__b_len")) <= maxDist)
      .select(col("__b_id").as("batch_id"), col("i.id").as("index_id"),
        col("__b_s").as("__bs"), col("i.s").as("__is"))
      // per-pair rows carry identical strings — any survivor works
      .dropDuplicates("batch_id", "index_id")
      .withColumn("edit_dist", levenshtein(col("__bs"), col("__is"), maxDist))
      .filter(col("edit_dist") >= 0)
      .select(col("batch_id"), col("index_id"), col("edit_dist"))
  }
}
