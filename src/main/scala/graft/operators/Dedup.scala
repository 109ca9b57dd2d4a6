package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/**
 * Document deduplication for large-scale training-data pipelines.
 *
 * Exact dedup is a hash-groupBy (partial aggregation + one shuffle on the
 * fingerprint). Near-dup detection is MinHash + banded LSH: candidate
 * generation shuffles ∝ docs × bands and pair verification happens only
 * inside LSH buckets — never an all-pairs cross join. All hashing goes
 * through the engine-portable MD5 primitives in [[Hashing]] so results are
 * reproducible by any engine (and by the DuckDB correctness oracle).
 *
 * Everything below `nearDuplicates` is a pure Catalyst expression chain;
 * the only shuffles are the band-bucket self-join and the final distinct.
 */
object Dedup {

  /**
   * Default in-bucket size cap for the whole near-dup family
   * ([[lshCandidates]], [[simHashNearDups]], [[embeddingNearDup]]).
   *
   * In-bucket pair generation is O(|bucket|²), so at corpus scale a single
   * degenerate key — boilerplate text every page shares, a zero-direction
   * embedding — would otherwise emit a quadratic pair set on one task.
   * 1024 bounds the worst bucket at ~0.5M pairs (one task's work) while
   * real near-dup clusters stay far smaller once exact dedup has run
   * first (the intended pipeline order). Pass `None` to disable, or a
   * larger cap for corpora with legitimately huge duplicate clusters;
   * dropped buckets are never silent — see [[cappedBuckets]].
   */
  val DefaultMaxBucket: Option[Int] = Some(1024)

  /** Unique suffix for observed-metric names (names must be unique within
    * a query, and one query can cap several bucket stages). */
  private val capObsId = new java.util.concurrent.atomic.AtomicLong()

  /**
   * SINGLE-PASS bucket-size cap: ONE hash aggregation per capped stage,
   * whose per-group buffer is bounded by construction
   * ([[graft.functions.BoundedCollectAgg]] — items buffer at most `cap`
   * members, the distinct arm saturates to an O(1) no-op past `cap`+1),
   * with an observed metric (`graft.<what>.bucket_cap#<n>`:
   * dropped_buckets, dropped_rows) attached to the plan. Dropping a
   * bucket trades recall for a bounded task, and that trade must never
   * be silent: [[graft.GraftSession]] registers a listener that
   * WARN-logs any nonzero drop count after each action — a plan-side
   * metric, not a second driver-side pass over the data.
   *
   * This keeps the r17 safety invariant — a degenerate key (boilerplate
   * text every page shares, a black-frame dHash, an empty-signature
   * band) can never put an unbounded bucket into one in-memory
   * aggregation buffer (a `collect_*` buffer is a single object;
   * ObjectHashAggregate's sort fallback cannot spill WITHIN a group) —
   * without r17's separate count pass + filter join per capped stage,
   * which the round-17 boards measured at 1.5–2.2x on the
   * incremental-join family (2–4 capped stages per cell, each adding a
   * count aggregation, an explicit repartition and a join). The bound
   * now lives INSIDE the aggregate, so a capped stage has exactly the
   * stage count of its uncapped `collect_*` spelling.
   *
   * Metric semantics: `dropped_buckets` is exact. `dropped_rows` is the
   * summed member count of dropped buckets — exact on row-parity stages
   * (`distinct = false`); on distinct-parity stages an over-cap bucket
   * reports `cap + 1` (a floor — exact distinct counting past the cap
   * would need the unbounded state this cap exists to prevent). NULL
   * items are skipped in both count and output, so the keep/drop count
   * agrees with `size(collect_list/collect_set)` even for buckets
   * containing null items.
   */
  private def cappedBuckets(
    rows: DataFrame,
    keys: Seq[String],
    item: Column,
    cap: Int,
    distinct: Boolean,
    what: String
  ): DataFrame = {
    val n = col("__bc").getField("n")
    val over = n > cap
    rows
      .groupBy(keys.map(col): _*)
      .agg(graft.functions.BoundedCollectAgg(item, cap, distinct).as("__bc"))
      .observe(
        s"graft.$what.bucket_cap#${capObsId.incrementAndGet()}",
        coalesce(sum(when(over, lit(1L))), lit(0L)).as("dropped_buckets"),
        coalesce(sum(when(over, n)), lit(0L)).as("dropped_rows"))
      .filter(!over)
  }

  /**
   * Bucket-size cap over FLAT rows: surviving rows come back flat (the
   * same multiset, bucket-local order not preserved), over-cap keys'
   * rows are dropped with the [[cappedBuckets]] metric discipline. The
   * payload rides the bounded buffer as a struct — at most `cap` rows
   * per group buffer, which is exactly what any downstream per-bucket
   * consumer (a bucket join's hashed relation, a pair generator) holds
   * for a SURVIVING bucket anyway, so the cap stage adds no memory
   * class the plan didn't already have.
   */
  private[operators] def capRows(
    rows: DataFrame,
    keys: Seq[String],
    cap: Option[Int],
    what: String,
    capParam: String = "maxBucket"
  ): DataFrame =
    cap.fold(rows) { c =>
      require(c >= 2, s"$capParam must be >= 2 (a pair), got $c")
      val payload = rows.columns.filterNot(keys.contains)
      require(payload.nonEmpty,
        s"capRows needs at least one non-key column to restore rows from " +
          s"(keys=${keys.mkString(",")} cover every column)")
      cappedBuckets(rows, keys, struct(payload.map(col): _*), c,
          distinct = false, what)
        .select(keys.map(col) :+
          explode(col("__bc").getField("items")).as("__bci"): _*)
        .select(rows.columns.map(c0 =>
          if (keys.contains(c0)) col(c0)
          else col("__bci").getField(c0).as(c0)): _*)
    }

  /** The capped bucket MATERIALIZATION: group by `keys` and collect
    * `item` into `itemsName` (set or list parity), dropping over-cap
    * buckets — one bounded aggregation ([[cappedBuckets]]; uncapped
    * falls back to the plain `collect_*`). Every LSH-family candidate
    * generator routes its bucket build through here so the bound
    * provably precedes any bucket buffer (PlanAuditSpec pins that no
    * unbounded collect_list/collect_set sits on a capped bucket path). */
  private[operators] def cappedCollect(
    rows: DataFrame,
    keys: Seq[String],
    item: Column,
    itemsName: String,
    useSet: Boolean,
    cap: Option[Int],
    what: String,
    capParam: String = "maxBucket"
  ): DataFrame = cap match {
    case None =>
      val aggCol = (if (useSet) collect_set(item) else collect_list(item)).as(itemsName)
      rows.groupBy(keys.map(col): _*).agg(aggCol)
    case Some(c) =>
      require(c >= 2, s"$capParam must be >= 2 (a pair), got $c")
      cappedBuckets(rows, keys, item, c, useSet, what)
        .select(keys.map(col) :+ col("__bc").getField("items").as(itemsName): _*)
  }

  // ---------------------------------------------------------------- exact

  /**
   * Exact deduplication on normalized text: one output row per distinct
   * normalized document, keeping the smallest id as the deterministic
   * keeper and counting collapsed duplicates.
   *
   * Scale shape: groupBy on a 32-char fingerprint → map-side partial agg,
   * single hash shuffle; no driver participation.
   */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(Hashing.normalizeText(col(textCol))).as("fingerprint"))
      .agg(
        min(col(idCol)).as("keeper_id"),
        count(lit(1)).as("n_docs")
      )

  /**
   * The exactly-deduplicated corpus: one surviving row (lowest id) per
   * distinct normalized text, all original columns intact.
   *
   * Scale shape: rank window over the fingerprint — one hash shuffle +
   * in-partition sort, no second pass over the corpus (a keeper-join
   * would re-scan it). Spark's WindowGroupLimit pushes the rn=1 filter
   * into a per-partition top-1 before the shuffle.
   */
  def dropExactDuplicates(
    df: DataFrame, textCol: String, idCol: String,
    tokenizer: String = TextAnalysis.WhitespaceTokenizer
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(Hashing.normalizedTextFor(col(textCol), tokenizer)))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /**
   * Corpus snapshot diff — the audit a periodic refresh ships with its
   * drop ([[dropExactDuplicatesAgainst]]'s sibling): per id, whether the
   * document was `added` (id only in the new snapshot), `removed` (only
   * in the old), `changed` (same id, different md5 of the RAW text — a
   * refresh that re-cases or re-spaces a doc is a change worth seeing,
   * so no normalization here), or `unchanged`.
   *
   * Scale shape: both sides reduce to (id, 16-byte digest) projections
   * before the ONE full-outer hash join — text never shuffles. By
   * default `unchanged` rows are omitted so the output is DELTA-sized
   * (at 100 TB the delta is what fits; pass `includeUnchanged = true`
   * for the corpus-sized audit table).
   */
  def corpusDiff(
    oldDf: DataFrame,
    newDf: DataFrame,
    textCol: String,
    idCol: String,
    includeUnchanged: Boolean = false
  ): DataFrame = {
    // Presence comes from its own marker column, NOT from fingerprint
    // nullity: a NULL-text doc present in both snapshots must read
    // `unchanged`, and a NULL↔text revision must read `changed` — the
    // null-safe <=> handles both without special-casing.
    val o = oldDf.select(col(idCol).as("id"), md5(col(textCol)).as("__ofp"),
      lit(true).as("__in_old"))
    val n = newDf.select(col(idCol).as("id"), md5(col(textCol)).as("__nfp"),
      lit(true).as("__in_new"))
    val joined = o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(col("__ofp") <=> col("__nfp"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
    if (includeUnchanged) joined else joined.filter(col("status") =!= "unchanged")
  }

  // -------------------------------------------------------------- minhash

  /**
   * (doc_id, norm, w): normalized text and its word array, materialized as
   * REAL projection columns.
   *
   * Catalyst expressions are trees, not DAGs: a subexpression referenced
   * inside a higher-order-function lambda is re-evaluated on every lambda
   * invocation (no codegen/CSE inside HOFs). Keeping norm/words as their
   * own projections means downstream per-element lambdas slice a bound
   * attribute (an array lookup) instead of re-running regexp+split per
   * element — the difference between O(words) and O(words²) per document.
   * CollapseProject keeps these projections intact because the aliases are
   * non-cheap and multiply referenced (SPARK-36718).
   */
  def wordTable(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(
        col(idCol).as("doc_id"),
        Hashing.normalizeText(col(textCol)).as("norm"))
      .select(
        col("doc_id"), col("norm"),
        // byte-scan split of the canonical norm (r22): value-identical to
        // the regex spelling `when(norm === "", array()).otherwise(
        // split(norm, " "))` it replaces — see SpaceSplitExpr's scaladoc
        // and KernelPropertySpec's parity arm — without the String
        // decode + Pattern machinery per row
        graft.functions.SpaceSplitExpr(col("norm")).as("w"))

  /**
   * Word k-shingles over materialized (norm, w) columns. Documents with
   * fewer than k words fall back to a single whole-text shingle so every
   * document has a non-empty shingle set.
   */
  def shinglesOf(norm: Column, w: Column, k: Int = 3): Column =
    when(size(w) < k, array(norm))
      .otherwise(
        transform(
          sequence(lit(0), size(w) - k),
          j => concat_ws(" ", slice(w, j + 1, lit(k)))
        )
      )

  /**
   * Word k-shingles of normalized text as a single Column expression.
   * Prefer [[shingleTable]] on hot paths — this form re-derives the word
   * array and is only appropriate where the input is already a bound
   * column and the consumer touches the result once.
   */
  def shingles(textCol: Column, k: Int = 3): Column =
    shinglesOf(Hashing.normalizeText(textCol), Hashing.normalizedWords(textCol), k)

  /** (doc_id, sh): materialized k-shingle array per document. */
  def shingleTable(df: DataFrame, textCol: String, idCol: String, k: Int = 3): DataFrame =
    wordTable(df, textCol, idCol)
      .select(col("doc_id"), shinglesOf(col("norm"), col("w"), k).as("sh"))

  /** (doc_id, hs): 60-bit hash of each k-shingle, via the fused native
    * [[graft.functions.ShingleHashExpr]] — the shingle strings are never
    * materialized (value-identical to hashing [[shingleTable]]'s column,
    * pinned by HashingSpec). The hot-path entry for every hash consumer. */
  def hashedShingleTable(df: DataFrame, textCol: String, idCol: String, k: Int = 3): DataFrame =
    wordTable(df, textCol, idCol)
      .select(col("doc_id"),
        graft.functions.ShingleHashExpr(col("w"), col("norm"), k).as("hs"))

  /** [[wordTable]]'s multilingual arm: (doc_id, norm, w) where `w` is
    * the UAX#29 word array of the case-folded text
    * ([[graft.functions.Hashing.uax29NormalizedWords]]) and `norm` is
    * those words space-joined (the whole-text fallback shingle for
    * < k-word documents, as in the whitespace arm). An unspaced Chinese
    * document shingles at ideograph granularity instead of collapsing
    * to one whole-line shingle — without this, MinHash/LSH and the
    * exact set-sim join see every unpunctuated CJK line as a single
    * token and near-dup recall on multilingual corpora silently dies. */
  def uax29WordTable(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(
        col(idCol).as("doc_id"),
        graft.functions.Hashing.uax29NormalizedWords(col(textCol)).as("w"))
      .withColumn("norm", concat_ws(" ", col("w")))

  /** [[shingleTable]] under UAX#29 segmentation — composes with every
    * shingle consumer (MinHash, SetSim, contamination) unchanged. */
  def uax29ShingleTable(df: DataFrame, textCol: String, idCol: String, k: Int = 3): DataFrame =
    uax29WordTable(df, textCol, idCol)
      .select(col("doc_id"), shinglesOf(col("norm"), col("w"), k).as("sh"))

  /** [[hashedShingleTable]] under UAX#29 segmentation (same fused
    * native hash; the hot-path entry for multilingual dedup chains). */
  def uax29HashedShingleTable(df: DataFrame, textCol: String, idCol: String, k: Int = 3): DataFrame =
    uax29WordTable(df, textCol, idCol)
      .select(col("doc_id"),
        graft.functions.ShingleHashExpr(col("w"), col("norm"), k).as("hs"))

  /** Tokenizer dispatch for the hashed-shingle entry (the
    * [[graft.operators.TextAnalysis.normalizedWordsFor]] convention):
    * "whitespace" → [[hashedShingleTable]], "uax29" →
    * [[uax29HashedShingleTable]] — every shingle consumer that takes a
    * `tokenizer` parameter routes through here, so the whole dedup
    * family agrees on what a word is. */
  def hashedShingleTableFor(
    df: DataFrame, textCol: String, idCol: String, k: Int, tokenizer: String
  ): DataFrame = tokenizer match {
    case TextAnalysis.WhitespaceTokenizer => hashedShingleTable(df, textCol, idCol, k)
    case TextAnalysis.Uax29Tokenizer => uax29HashedShingleTable(df, textCol, idCol, k)
    case other => throw new IllegalArgumentException(
      s"unknown tokenizer '$other' (expected ${TextAnalysis.WhitespaceTokenizer} or ${TextAnalysis.Uax29Tokenizer})")
  }

  /**
   * MinHash signature over an array of 60-bit base shingle hashes:
   * element i is min over shingles of (md5_60(shingle) XOR seed_i), with
   * seed_i = md5_60(i). One strong digest per shingle plus a cheap
   * XOR-derived hash family — the classic one-permutation-style cost
   * saving over running an independent digest per (seed, shingle), which
   * would cost numHashes× the CPU for no retrieval benefit. A signature
   * is an array<long> of length numHashes; agreement fraction between two
   * signatures estimates Jaccard similarity.
   *
   * `hashesCol` MUST be a bound attribute (a materialized column): the
   * seed loop is unrolled at plan time, so the column tree is referenced
   * numHashes+1 times and a non-trivial expression would be re-evaluated
   * per seed. The seeds are constant-folded md5 literals, reproducible by
   * any engine as xor(h60(x), h60(i)).
   */
  def minHashSignatureOfHashes(hashesCol: Column, numHashes: Int = 16): Column =
    when(size(hashesCol) === 0, lit(null).cast("array<bigint>"))
      .otherwise(array((0 until numHashes).map { i =>
        val seed = Hashing.md5Long60(lit(i.toString))
        array_min(transform(hashesCol, h => h.bitwiseXOR(seed)))
      }: _*))

  /** Per-document MinHash signatures: (id, signature). The base shingle
    * hashes are materialized once per document; the signature packing is
    * the native [[graft.functions.MinHashSignatureExpr]] (one tight loop
    * per row — value-identical to [[minHashSignatureOfHashes]], which
    * HashingSpec pins). */
  def minHashSignatures(
    df: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 3,
    numHashes: Int = 16,
    tokenizer: String = TextAnalysis.WhitespaceTokenizer
  ): DataFrame =
    hashedShingleTableFor(df, textCol, idCol, k, tokenizer)
      .select(
        col("doc_id"),
        graft.functions.MinHashSignatureExpr(col("hs"), numHashes).as("signature")
      )

  /**
   * All unordered pairs from a bucket's element array, as structs
   * (x, y) over positions i < j. collect_list order is nondeterministic,
   * so callers must normalize pair orientation (least/greatest on ids).
   */
  private def bucketPairs(items: Column): Column =
    flatten(
      transform(items, (x, i) =>
        transform(slice(items, i + 2, size(items)),
          y => struct(x.as("x"), y.as("y")))))

  /**
   * Banded-LSH candidate pairs from a signature table: signatures are cut
   * into `bands` bands of numHashes/bands rows; documents sharing any
   * band's values become a candidate pair.
   *
   * Scale shape: explode to docs × bands (band, key, id) rows — the
   * expensive signature expression is evaluated exactly ONCE per document
   * — then ONE groupBy shuffle on (band, key) and in-bucket pair
   * generation with array expressions. Never a self-join (which would
   * re-evaluate the signature chain per join side), never all-pairs.
   * Buckets larger than maxBucket (default [[DefaultMaxBucket]]) are
   * dropped with an observed drop-count metric (a degenerate key — e.g.
   * boilerplate text — would otherwise produce a quadratic pair blowup);
   * dropped buckets are a completeness tradeoff the caller sizes.
   */
  /**
   * (doc_id, band, band_key) from a (doc_id, signature) table: each
   * signature cut into `bands` bands of numHashes/bands values, the band's
   * values joined into a comma string key. One explode — the signature
   * expression is evaluated exactly once per document.
   */
  def bandTable(
    signatures: DataFrame,
    numHashes: Int = 16,
    bands: Int = 4
  ): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    val rows = numHashes / bands
    signatures.select(
      col("doc_id"),
      explode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b =>
            struct(
              b.as("band"),
              concat_ws(",",
                transform(slice(col("signature"), b * rows + 1, lit(rows)),
                  v => v.cast("string"))).as("band_key")
            )
        )
      ).as("bk")
    ).select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  def lshCandidates(
    signatures: DataFrame,
    numHashes: Int = 16,
    bands: Int = 4,
    maxBucket: Option[Int] = DefaultMaxBucket
  ): DataFrame = {
    val banded = bandTable(signatures, numHashes, bands)

    cappedCollect(banded, Seq("band", "band_key"),
        col("doc_id"), "ids", useSet = false, maxBucket, "lsh")
      .filter(size(col("ids")) >= 2)
      .select(explode(bucketPairs(col("ids"))).as("p"))
      .select(
        least(col("p.x"), col("p.y")).as("id_a"),
        greatest(col("p.x"), col("p.y")).as("id_b"))
      .distinct()
  }

  /**
   * Verify candidate pairs with exact n-gram Jaccard similarity, computed
   * only for LSH candidates (never all pairs). Returns
   * (id_a, id_b, jaccard) for pairs at or above the threshold.
   *
   * Scale shape: ONE scan of the document table. A naive sets⋈cand⋈sets
   * would scan (and re-shingle) the corpus once per pair side; instead
   * candidate pairs explode into (pair, doc_id) sides, join the shingle
   * table once, and regroup by pair — the join and regroup move only
   * candidate-sized data.
   *
   * The intersected sets are the 60-bit shingle HASHES, not the shingle
   * strings: 8 bytes/shingle through the shuffle instead of the n-gram
   * text (~4× less shuffle volume at k=3), and long equality instead of
   * string comparison in the intersect. Jaccard over hash sets equals
   * Jaccard over string sets except under a 60-bit collision — and since
   * both this engine and the oracle derive the same md5-based hash, even
   * a collision changes both sides identically.
   */
  def jaccardVerify(
    candidates: DataFrame,
    df: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 3,
    threshold: Double = 0.8
  ): DataFrame =
    jaccardVerifyHashed(candidates, hashedShingleTable(df, textCol, idCol, k), threshold)

  /** [[jaccardVerify]] over an existing (doc_id, hs) hashed-shingle
    * table — the form [[nearDuplicates]] uses so the signature and
    * verify stages share ONE table derivation (a caller running both at
    * cluster scale can persist it once instead of re-normalizing and
    * re-shingling the corpus per stage). */
  def jaccardVerifyHashed(
    candidates: DataFrame,
    hashedShingles: DataFrame,
    threshold: Double
  ): DataFrame = {
    // sorted ONCE per document so the per-pair verify can merge-count
    // ([[graft.functions.SortedIntersectCountExpr]] — zero allocation
    // per candidate; generic array_intersect hashes per pair and
    // dominated the exact-join probe at sf1)
    val sets = hashedShingles
      .select(col("doc_id"), sort_array(array_distinct(col("hs"))).as("sh"))
    val sides = candidates
      .select(
        struct(col("id_a"), col("id_b")).as("pair"),
        explode(array(col("id_a"), col("id_b"))).as("doc_id"))
    val sa = element_at(col("items"), 1)
    val sb = element_at(col("items"), 2)
    val inter = graft.functions.SortedIntersectCountExpr(sa, sb)
    val union = size(sa) + size(sb) - inter
    sides
      .join(sets, "doc_id")
      .groupBy("pair")
      .agg(collect_list(col("sh")).as("items"))
      .filter(size(col("items")) === 2)
      .select(
        col("pair.id_a").as("id_a"), col("pair.id_b").as("id_b"),
        (inter.cast("double") / union.cast("double")).as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
  }

  /**
   * End-to-end MinHash-LSH near-duplicate detection:
   * shingle → signature → banded candidates → in-bucket Jaccard verify.
   */
  def nearDuplicates(
    df: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 3,
    numHashes: Int = 16,
    bands: Int = 4,
    threshold: Double = 0.8,
    maxBucket: Option[Int] = DefaultMaxBucket,
    tokenizer: String = TextAnalysis.WhitespaceTokenizer
  ): DataFrame = {
    // one hashed-shingle derivation feeds BOTH the signature and verify
    // stages (persist it upstream to pay the normalize+shingle+hash cost
    // once at cluster scale)
    val hst = hashedShingleTableFor(df, textCol, idCol, k, tokenizer)
    val sigs = hst.select(
      col("doc_id"),
      graft.functions.MinHashSignatureExpr(col("hs"), numHashes).as("signature"))
    val cands = lshCandidates(sigs, numHashes, bands, maxBucket)
    jaccardVerifyHashed(cands, hst, threshold)
  }

  /**
   * Connected components over an undirected (id_a, id_b) edge list:
   * every vertex labeled with the MINIMUM id reachable from it. Returns
   * (doc_id, cluster_id).
   *
   * Two execution strategies, chosen by the MEASURED size of the
   * deduplicated edge list (duplicate/reversed/self edges never change
   * components, so they are normalized away before counting):
   *
   *  - `edges <= localizeEdgeLimit` — the overwhelmingly common case:
   *    verified near-dup pairs are pair-bounded, a vanishing fraction of
   *    any corpus. The edge list is collected and resolved with
   *    driver-side union-find (path compression, min-id roots) and the
   *    labels return as a driver-local relation. This is metadata-scale
   *    work by the same argument as k-means centroid localization
   *    (Similarity.localize), and it is exact — no iteration bound. The
   *    returned frame holds NO cached blocks and schedules no per-round
   *    jobs: leak-free and fixed-overhead-free by construction.
   *  - larger edge lists: distributed min-label propagation WITH pointer
   *    jumping — each round takes the 1-hop neighborhood min and then
   *    adopts its own label's label (path compression), so the label's
   *    distance to the component minimum shrinks geometrically and
   *    convergence is O(log diameter) rounds, not O(diameter). Each
   *    round touches the EDGE list only; the corpus is never shuffled.
   *    `localCheckpoint` per round truncates the otherwise-doubling
   *    lineage; superseded checkpoints are freed eagerly. The RETURNED
   *    frame is backed by the final checkpoint's cached blocks — a
   *    caller looping over corpus-scale clustering should free them via
   *    `GraftSqlBridge.unpersistLocalCheckpoint` once consumed.
   *
   * Convergence is an OBSERVED metric, not just a WARN:
   * [[graft.GraftSession.ccRuns]] records (method, rounds, converged,
   * edges) per run — the bucketCapDrops pattern — so a pipeline can
   * fail or retry on an unconverged distributed result instead of
   * silently shipping split clusters. The localized path is always
   * exact (`converged = true`, `rounds = 0`).
   */
  def connectedComponents(
    edges: DataFrame,
    maxIters: Int = 20,
    localizeEdgeLimit: Long = 2000000L
  ): DataFrame = {
    val e = edges
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
      .persist()
    try {
      val edgeCount = e.count()
      if (edgeCount <= localizeEdgeLimit) localizedComponents(e, edgeCount)
      else distributedComponents(e, edgeCount, maxIters)
    } finally e.unpersist()
  }

  /** Upper bound on label rows embedded as a LocalRelation (accurate
    * stats → statically broadcast-able corpus join); bigger localized
    * results go through `parallelize` to keep the logical plan small. */
  private val LocalRelationLabelLimit = 200000

  /** `a < b` under the SAME ordering Spark's `min`/`least` (and the
    * DuckDB oracle) use: numeric/temporal ids via their natural
    * `Comparable`, strings via unsigned UTF-8 byte order — which is
    * code-point order, NOT Java's UTF-16 `String.compareTo` (the two
    * disagree between supplementary characters and U+E000..U+FFFF). */
  private def idLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: String, y: String) =>
      val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(xb.length, yb.length)
      while (i < n) {
        val c = (xb(i) & 0xff) - (yb(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      xb.length < yb.length
    case (x: Comparable[_], _) =>
      x.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    case _ =>
      throw new IllegalArgumentException(
        s"connectedComponents: unorderable id type ${a.getClass.getName}")
  }

  /**
   * Driver-side union-find over a (normalized, counted) edge list: path
   * compression keeps finds amortized near-constant, and unions always
   * root at the smaller id, so each root IS its component's minimum.
   * Returns the labels as a local relation (small) or a parallelized
   * one (plan stays flat) — either way, zero cached blocks. Callers go
   * through [[connectedComponents]], which bounds the collected size.
   */
  private def localizedComponents(e: DataFrame, edgeCount: Long): DataFrame = {
    val spark = e.sparkSession
    val idType = e.schema("id_a").dataType
    val parent = new java.util.HashMap[Any, Any](
      math.max(16, math.min(edgeCount * 4, Int.MaxValue.toLong / 2).toInt))
    def find(x0: Any): Any = {
      var r = x0
      while (parent.get(r) != r) r = parent.get(r)
      var c = x0
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    for (row <- e.collect()) {
      val a = row.get(0)
      val b = row.get(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        if (idLt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", idType),
      org.apache.spark.sql.types.StructField("cluster_id", idType)))
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
    val it = parent.keySet().iterator() // find() only rewrites values of
    while (it.hasNext) {                // existing keys — not structural
      val v = it.next()
      out.add(org.apache.spark.sql.Row(v, find(v)))
    }
    graft.GraftSession.recordCcRun(spark,
      graft.GraftSession.CcRun("localized", 0, converged = true, edgeCount))
    if (out.size <= LocalRelationLabelLimit) spark.createDataFrame(out, schema)
    else {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          out.asScala.toIndexedSeq, math.max(1, out.size / 500000)),
        schema)
    }
  }

  /** The distributed arm of [[connectedComponents]]: min-label
    * propagation with a pointer-jump (label-of-label) step per round for
    * O(log diameter) convergence. Edge-list-only joins; the per-round
    * `localCheckpoint`s truncate the otherwise-doubling lineage (the
    * same trap kmeansCentroids documents) and superseded checkpoints
    * are freed eagerly. */
  private def distributedComponents(
    e: DataFrame, edgeCount: Long, maxIters: Int): DataFrame = {
    val sym = e
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(e.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    try {
      var labels = sym.select(col("src").as("doc_id")).distinct()
        .withColumn("cluster_id", col("doc_id"))
        .localCheckpoint()
      // handle to the checkpoint backing `labels`: each round's new
      // checkpoint supersedes it, and superseded blocks must be freed
      // eagerly — a session looping over clustering would otherwise
      // accumulate cached label blocks until ContextCleaner GC
      var prevCheckpoint = labels
      var converged = false
      var i = 0
      while (!converged && i < maxIters) {
        val nbrMin = sym
          .join(labels.withColumnRenamed("doc_id", "src"), "src")
          .groupBy(col("dst").as("doc_id"))
          .agg(min(col("cluster_id")).as("nbr_min"))
        // 1-hop neighborhood min — checkpointed so the pointer-jump
        // self-join reads the materialized rows once instead of running
        // the join+groupBy on both sides of the self-join
        val hop = labels
          .withColumnRenamed("cluster_id", "old")
          .join(nbrMin, Seq("doc_id"), "left")
          .select(
            col("doc_id"), col("old"),
            least(col("old"), coalesce(col("nbr_min"), col("old"))).as("cluster_id"))
          .localCheckpoint()
        // pointer jump: adopt the label's own label. Labels are always
        // vertex ids present in the table and monotonically
        // non-increasing, so label(label(v)) is reachable from v and
        // the distance to the component minimum shrinks geometrically —
        // a diameter-d chain converges in O(log d) rounds, not d
        val updated = hop.as("a")
          .join(
            hop.select(col("doc_id").as("p"), col("cluster_id").as("pc")).as("b"),
            col("a.cluster_id") === col("b.p"), "left")
          .select(
            col("a.doc_id").as("doc_id"), col("a.old").as("old"),
            least(col("a.cluster_id"),
              coalesce(col("b.pc"), col("a.cluster_id"))).as("cluster_id"))
          .localCheckpoint()
        converged = updated.filter(col("cluster_id") =!= col("old")).isEmpty
        labels = updated.select("doc_id", "cluster_id")
        org.apache.spark.sql.GraftSqlBridge.unpersistLocalCheckpoint(hop)
        org.apache.spark.sql.GraftSqlBridge.unpersistLocalCheckpoint(prevCheckpoint)
        prevCheckpoint = updated
        i += 1
      }
      graft.GraftSession.recordCcRun(e.sparkSession,
        graft.GraftSession.CcRun("distributed", i, converged, edgeCount))
      if (!converged)
        org.slf4j.LoggerFactory.getLogger("graft.Dedup").warn(
          s"connectedComponents stopped UNCONVERGED after $maxIters rounds — " +
            "a component whose label tree still spans rounds is split; " +
            "raise maxIters (convergence is O(log diameter)) and check " +
            "GraftSession.ccRuns if exact cluster identity matters")
      labels
    } finally sym.unpersist()
  }

  /**
   * Transitive near-duplicate clustering: the full MinHash-LSH chain's
   * verified pairs resolved into connected components, with every corpus
   * document assigned a cluster_id — the minimum id reachable through
   * near-dup links, its own id for documents in no pair (singleton
   * clusters). Unlike [[dropNearDuplicates]]'s greedy pairwise keeper,
   * a chain A~B, B~C (with A,C not a verified pair) lands all three in
   * cluster A.
   *
   * Scale shape: components are computed on the verified-pair edge list
   * only; the corpus itself joins the (small, broadcast-able) component
   * table once and is never shuffled.
   */
  def clusterNearDuplicates(
    df: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 3,
    numHashes: Int = 16,
    bands: Int = 4,
    threshold: Double = 0.8,
    maxBucket: Option[Int] = DefaultMaxBucket,
    maxIters: Int = 20,
    localizeEdgeLimit: Long = 2000000L
  ): DataFrame = {
    val comp = connectedComponents(
      nearDuplicates(df, textCol, idCol, k, numHashes, bands, threshold, maxBucket),
      maxIters, localizeEdgeLimit)
      .withColumnRenamed("doc_id", idCol)
    // no explicit broadcast hint: comp is usually tiny (AQE broadcasts
    // it), but a pathological all-dups corpus must still be joinable
    df.join(comp, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
  }

  /**
   * INCREMENTAL cluster maintenance — fold a drop's near-dup pairs into
   * PERSISTED cluster labels without re-pairing the corpus: the
   * row-79/81 incremental family produces the drop's edges (within-drop
   * [[nearDuplicates]] + drop-vs-index [[nearDuplicatesAgainstIndex]]),
   * and this closes them into updated transitive labels. The graph
   * fold is EXACT, in writing: [[clusterNearDuplicates]] labels are
   * component MIN-ids, so each prior component is equivalently its
   * star graph (member → label), and connected components over (star
   * edges ∪ new pairs) have the same reachability — hence the same
   * min-id labels — as re-clustering the union of (prior pairs ∪ new
   * pairs) from scratch; min-of-union associativity makes it compose
   * across any append sequence. Equality with a full RE-PAIR of
   * corpus ∪ drop additionally requires the pair surfaces to agree:
   * they do on duplicate content (identical/near-identical texts share
   * signatures, so a copy pairs exactly where its original does, and a
   * probe-missed copy↔copy pair is covered transitively through the
   * originals), but BORDERLINE pairs can differ because the in-corpus
   * verify is exact Jaccard while the cross-corpus probe verifies
   * signature agreement (the row-79 estimator, its documented
   * difference — a pair at jaccard ≈ threshold may fall on either
   * side). The gate pins rebuild-equality on planted duplicates; treat
   * label drift on borderline-similarity corpora as the probe
   * estimator's property, not this fold's.
   *
   * Scale shape: the CC edge list is (non-singleton prior docs + new
   * pairs)-sized — singleton labels (doc_id == cluster_id) contribute
   * NO edge and are restored by the final coalesce, so a mostly-unique
   * corpus pays for its duplicate minority only; the corpus text is
   * never touched (edges ride ids alone).
   *
   * @param priorLabels (doc_id, cluster_id) min-id labels — the
   *        [[clusterNearDuplicates]] contract; feeding labels produced
   *        by anything else voids the rebuild-equality argument
   * @param dropIds     one row per drop doc (doc_id) — drop docs in no
   *        pair must still receive their singleton label
   * @param newPairs    (id_a, id_b) verified pairs touching the drop
   */
  def updateClusterLabels(
    priorLabels: DataFrame,
    dropIds: DataFrame,
    newPairs: DataFrame,
    maxIters: Int = 20,
    localizeEdgeLimit: Long = 2000000L
  ): DataFrame = {
    val starEdges = priorLabels
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("id_a"), col("cluster_id").as("id_b"))
    val comp = connectedComponents(
      starEdges.unionByName(newPairs.select(col("id_a"), col("id_b"))),
      maxIters, localizeEdgeLimit)
    // accept either a single-column frame (any name) or a multi-column
    // frame carrying a `doc_id` column — NEVER silently pick the first
    // column of a wide frame, which would label against the wrong ids
    val dropIdCol =
      if (dropIds.columns.length == 1) dropIds.columns.head
      else if (dropIds.columns.contains("doc_id")) "doc_id"
      else throw new IllegalArgumentException(
        "updateClusterLabels: dropIds must be a single-column id frame or " +
          s"contain a doc_id column; got [${dropIds.columns.mkString(", ")}]")
    val allIds = priorLabels.select("doc_id")
      .unionByName(dropIds.select(col(dropIdCol).as("doc_id")))
      .distinct()
    allIds.join(comp, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
  }

  /**
   * The DELTA form of [[updateClusterLabels]] — the write-side primitive
   * of a GENERATIONAL label artifact (the row-164 sidecar doctrine
   * applied to cluster labels): instead of the full corpus-ID-sized
   * label table, return ONLY the rows a latest-version-wins reader needs
   * to overlay on `priorLabels` to reproduce [[updateClusterLabels]]'
   * output exactly (spec-pinned): `(doc_id, cluster_id,
   * old_cluster_id)` for (a) every drop doc — its current label,
   * `old_cluster_id` NULL — and (b) every PRIOR doc whose label moved
   * (a cluster merge through the new pairs), with the superseded label
   * in `old_cluster_id` so the caller can maintain COUNTED cluster
   * sizes by signed merge (+1 to each row's new cluster, −1 to each
   * non-NULL old one — the [[graft.operators.Forget.appendFingerprints]]
   * arithmetic) instead of re-aggregating the corpus.
   *
   * Scale shape: the CC edge list is (non-singleton prior docs + new
   * pairs)-sized as in [[updateClusterLabels]]; the prior side of the
   * delta is comp-bounded (a prior doc can only move if it appears in
   * the component table), so the output is (touched prior docs + drop
   * docs)-sized — never corpus-sized. The prior table is scanned
   * (column-pruned) but never shuffled whole.
   *
   * Contract: `dropIds` must be DISJOINT from `priorLabels`' ids (the
   * globally-unique-id convention every incremental index in this
   * engine assumes); an id on both sides would emit two delta rows.
   */
  def updateClusterLabelsDelta(
    priorLabels: DataFrame,
    dropIds: DataFrame,
    newPairs: DataFrame,
    maxIters: Int = 20,
    localizeEdgeLimit: Long = 2000000L
  ): DataFrame = {
    val starEdges = priorLabels
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("id_a"), col("cluster_id").as("id_b"))
    val comp = connectedComponents(
      starEdges.unionByName(newPairs.select(col("id_a"), col("id_b"))),
      maxIters, localizeEdgeLimit)
    val dropIdCol =
      if (dropIds.columns.length == 1) dropIds.columns.head
      else if (dropIds.columns.contains("doc_id")) "doc_id"
      else throw new IllegalArgumentException(
        "updateClusterLabelsDelta: dropIds must be a single-column id frame " +
          s"or contain a doc_id column; got [${dropIds.columns.mkString(", ")}]")
    val cidType = priorLabels.schema("cluster_id").dataType
    // prior docs that moved: only docs IN the component table can move
    // (non-singleton priors enter via star edges; singleton priors only
    // via a new pair), so the join output is comp-bounded
    val priorChanged = priorLabels
      .withColumnRenamed("cluster_id", "old_cluster_id")
      .join(comp, Seq("doc_id"))
      .filter(col("old_cluster_id") =!= col("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("old_cluster_id"))
    // every drop doc gets its current label (its component min, or its
    // own id when unpaired) — a latest-wins reader needs the row either way
    val dropChanged = dropIds.select(col(dropIdCol).as("doc_id")).distinct()
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        lit(null).cast(cidType).as("old_cluster_id"))
    priorChanged.unionByName(dropChanged)
  }

  /**
   * Fail-loud consumer contract for [[connectedComponents]]' observed
   * convergence ([[graft.GraftSession.ccRuns]]): call immediately after
   * an operator whose correctness needs EXACT cluster identity (the
   * streaming soft-label fold — an unconverged distributed result would
   * silently produce wrong weights). The CC loop is driver-side and
   * eager, so the newest record is the run just issued. Throws
   * `IllegalStateException` naming the caller when that run stopped
   * unconverged; a missing record (no CC ran) also throws — the caller
   * believed clustering happened.
   */
  def requireConvergedComponents(
    spark: org.apache.spark.sql.SparkSession,
    where: String
  ): Unit = {
    val run = graft.GraftSession.ccRuns(spark).lastOption.getOrElse(
      throw new IllegalStateException(
        s"$where: no connectedComponents run was recorded on this session - " +
          "the clustering this caller depends on never executed"))
    if (!run.converged)
      throw new IllegalStateException(
        s"$where: connectedComponents stopped UNCONVERGED after " +
          s"${run.rounds} rounds over ${run.edges} edges - the labels may " +
          "split a cluster and any weight/split keyed on them would be " +
          "silently wrong; raise maxIters (convergence is O(log diameter)) " +
          "and re-run")
  }

  /**
   * SOFT dedup — down-weight instead of drop (the SoftDeDup idea,
   * He et al. 2024, arXiv:2407.06654): every document survives with a
   * `soft_weight = 1 / |its transitive near-dup cluster|`, so each
   * cluster contributes ONE document's worth of sampling mass in
   * expectation while keeping intra-cluster diversity hard dedup
   * throws away (different snapshots/edits of a page are not
   * interchangeable even when near-identical). Singletons weigh 1.0.
   * The weight column composes directly with the mass-aware stages —
   * [[graft.operators.Sampling.weightedSample]], the
   * temperature/rebalance arms, token-budget selection.
   *
   * Scale shape: clusters come from the verified-pair EDGE list only
   * ([[nearDuplicates]] → [[connectedComponents]] — edge-sized, never
   * corpus-sized); cluster sizes fold over the component table (paired
   * docs only), and the corpus joins that (usually broadcast-sized)
   * weight table once — the corpus itself is never shuffled, the
   * [[clusterNearDuplicates]] economics with one extra
   * component-table-sized aggregation.
   */
  def softDedupWeights(
    df: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 3,
    numHashes: Int = 16,
    bands: Int = 4,
    threshold: Double = 0.8,
    maxBucket: Option[Int] = DefaultMaxBucket,
    maxIters: Int = 20,
    localizeEdgeLimit: Long = 2000000L,
    tokenizer: String = TextAnalysis.WhitespaceTokenizer
  ): DataFrame =
    softDedupWeightsWithClusters(df, textCol, idCol, k, numHashes, bands,
      threshold, maxBucket, maxIters, localizeEdgeLimit, tokenizer)._1

  /** [[softDedupWeights]] plus the underlying (doc_id, cluster_id)
    * member table — for callers that key LATER stages on the SAME
    * dedup-time clusters that set the weights (the curation soft arm's
    * leak-safe splits: weight and split key must derive from one
    * cluster structure, and the pair computation must not run twice).
    * The member table is pair-bounded (paired docs only — singletons
    * are absent and weigh 1.0). */
  def softDedupWeightsWithClusters(
    df: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 3,
    numHashes: Int = 16,
    bands: Int = 4,
    threshold: Double = 0.8,
    maxBucket: Option[Int] = DefaultMaxBucket,
    maxIters: Int = 20,
    localizeEdgeLimit: Long = 2000000L,
    tokenizer: String = TextAnalysis.WhitespaceTokenizer
  ): (DataFrame, DataFrame) = {
    Cols.requireAbsent(df, "soft_weight", "__csz")
    val comp = connectedComponents(
      nearDuplicates(df, textCol, idCol, k, numHashes, bands, threshold,
        maxBucket, tokenizer),
      maxIters, localizeEdgeLimit)
    val sizes = comp.groupBy("cluster_id").agg(count(lit(1)).as("__csz"))
    val weighted = comp.join(sizes, Seq("cluster_id"))
      .select(col("doc_id").as(idCol), col("__csz"))
    val out = df.join(weighted, Seq(idCol), "left")
      .withColumn("soft_weight",
        lit(1.0) / coalesce(col("__csz"), lit(1L)).cast("double"))
      .drop("__csz")
    (out, comp)
  }

  /**
   * [[softDedupWeightsWithClusters]] with a PRIOR corpus's persisted
   * signature index folded into the pair surface — the batch twin of
   * the streaming sink's cross-batch pairing arm: batch docs that
   * near-duplicate the indexed corpus are WEIGHTED (their cluster mass
   * counts the prior twins), never pruned, so
   * `Config.softDedup + priorSignatures` keeps the exact promise the
   * flag makes within the batch. Pairs = within-batch verified exact
   * Jaccard ([[nearDuplicates]]) ∪ batch-vs-index signature agreement
   * ([[nearDuplicatesAgainstIndex]] — the row-79 estimator, its
   * documented borderline difference); components close over the union,
   * and a cluster's size counts EVERY member — batch docs AND prior
   * twins — so a batch doc with one indexed twin weighs 1/2.
   *
   * Streaming-end-state parity scope: the signature index carries NO
   * pair structure of its own, so parity with the label artifact holds
   * when the prior corpus is internally dedup-free at this threshold —
   * the normal case (a hard-deduped prior, or any prior whose twins
   * were already collapsed). A SOFT-curated prior retains twins the
   * index knows nothing about; pass its dedup-time cluster labels (the
   * [[clusterNearDuplicates]]/[[updateClusterLabels]] contract) as
   * `priorLabels` and they fold in as star edges, restoring the full
   * transitive mass (a batch doc matching one member of a retained
   * prior twin-pair then weighs 1/3, not 1/2).
   *
   * Returned member table includes the index-side members (the split
   * stage keys on cluster ids that stay stable across drops); only
   * batch rows carry weights. Ids must be globally unique across batch
   * and index (the incremental-family contract).
   */
  def softDedupWeightsWithClustersAgainst(
    df: DataFrame,
    indexSignatures: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 3,
    numHashes: Int = 16,
    bands: Int = 4,
    threshold: Double = 0.8,
    maxBucket: Option[Int] = DefaultMaxBucket,
    maxIters: Int = 20,
    localizeEdgeLimit: Long = 2000000L,
    tokenizer: String = TextAnalysis.WhitespaceTokenizer,
    priorLabels: Option[DataFrame] = None
  ): (DataFrame, DataFrame) = {
    Cols.requireAbsent(df, "soft_weight", "__csz")
    val within = nearDuplicates(df, textCol, idCol, k, numHashes, bands,
        threshold, maxBucket, tokenizer)
      .select(col("id_a"), col("id_b"))
    val cross = nearDuplicatesAgainstIndex(df, indexSignatures, textCol, idCol,
        k, numHashes, bands, threshold, maxBucket, tokenizer)
      .select(col("batch_id").as("id_a"), col("index_id").as("id_b"))
    val priorStars = priorLabels.map(_
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("id_a"), col("cluster_id").as("id_b")))
    val edges = priorStars.foldLeft(within.unionByName(cross))(_ unionByName _)
    val comp = connectedComponents(edges, maxIters, localizeEdgeLimit)
    val sizes = comp.groupBy("cluster_id").agg(count(lit(1)).as("__csz"))
    val weighted = comp.join(sizes, Seq("cluster_id"))
      .select(col("doc_id").as(idCol), col("__csz"))
    val out = df.join(weighted, Seq(idCol), "left")
      .withColumn("soft_weight",
        lit(1.0) / coalesce(col("__csz"), lit(1L)).cast("double"))
      .drop("__csz")
    (out, comp)
  }

  /**
   * Winnowing fingerprint table (Schleimer–Wilkerson–Aiken, SIGMOD
   * 2003 — the MOSS primitive; [[graft.functions.WinnowExpr]] holds
   * the algorithm + guarantee): one row per selected (doc_id, pos,
   * hash) fingerprint over MOSS-style normalized text (lowercased,
   * whitespace runs collapsed to one space — so reindented/recased
   * copies fingerprint identically; identifier-renaming robustness
   * needs a language lexer and is deliberately a deployment seam).
   * Any substring match of ≥ w + k − 1 normalized codepoints between
   * two docs shares a fingerprint. Pure scan projection + explode.
   */
  def winnowTable(
    df: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 8,
    w: Int = 4
  ): DataFrame =
    df.select(
        col(idCol).as("doc_id"),
        explode(graft.functions.WinnowExpr(
          trim(regexp_replace(lower(col(textCol)), "\\s+", " ")), k, w)).as("f"))
      .select(col("doc_id"), col("f.pos").as("pos"), col("f.hash").as("hash"))

  /**
   * Cross-document overlap pairs by shared winnowed fingerprints —
   * the code-corpus dedup screen: (id_a, id_b, n_shared) for every
   * pair sharing at least `minShared` DISTINCT fingerprint hashes.
   * By the winnowing guarantee a verbatim (whitespace-insensitive)
   * copy of length L contributes ≥ ⌊(L − k + 1) / w⌋-ish shared
   * fingerprints, so `minShared` is a length knob, not a similarity
   * ratio ([[setSimilarityJoin]] is the ratio arm).
   *
   * Scale shape: the fingerprint table collapses to DISTINCT
   * (hash, doc) rows, ONE groupBy on hash with the loud capped-bucket
   * discipline (`graft.winnow.bucket_cap` — a boilerplate fingerprint
   * shared by thousands of docs would otherwise pair quadratically),
   * in-bucket array pair generation, then one (id_a, id_b) count —
   * never a self-join, never all-pairs.
   */
  def winnowedOverlapPairs(
    df: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 8,
    w: Int = 4,
    minShared: Int = 2,
    maxBucket: Option[Int] = DefaultMaxBucket
  ): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    val fps = winnowTable(df, textCol, idCol, k, w)
      .select("doc_id", "hash").distinct()
    val buckets = cappedCollect(fps, Seq("hash"),
        col("doc_id"), "__ids", useSet = true, maxBucket, "winnow")
      .filter(size(col("__ids")) >= 2)
      .select(explode(bucketPairs(sort_array(col("__ids")))).as("p"))
      .select(
        least(col("p.x"), col("p.y")).as("id_a"),
        greatest(col("p.x"), col("p.y")).as("id_b"))
    buckets
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /**
   * Persistable winnow fingerprint index: [[winnowTable]] rows plus
   * the (k, w) build parameters riding as constants, so a probe can
   * verify it was built with ITS parameters — mismatched k/w would
   * silently share zero fingerprints (different gram hashes), the
   * quiet-under-dedup failure the loud guard exists to prevent.
   */
  def winnowIndex(
    df: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 8,
    w: Int = 4
  ): DataFrame =
    winnowTable(df, textCol, idCol, k, w)
      .withColumn("k", lit(k)).withColumn("w", lit(w))

  /**
   * GROW a persisted [[winnowIndex]] by a corpus drop — a plain row
   * union, EXACT by construction: winnow fingerprints are a per-doc
   * derivation (k-gram hashes + in-window argmin over ONE document's
   * text; no cross-doc statistic anywhere), so the union of two builds
   * IS the rebuild over the union corpus row-for-row
   * (q_winnow_append pins it through the join surface). The drop must
   * be fingerprinted at the INDEX's own (k, w) — mismatched grams
   * silently share nothing, the quiet failure the per-row guard turns
   * loud — and drop ids must be NEW (the per-doc-index fail-loud
   * collision contract, [[SetSim.appendPerDocIndex]]).
   */
  def winnowIndexAppend(
    index: DataFrame,
    drop: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 8,
    w: Int = 4
  ): DataFrame = {
    val guarded = index.filter(
      when(col("k") === lit(k) && col("w") === lit(w), lit(true))
        .otherwise(raise_error(concat(
          lit("winnowIndexAppend: index built at k="), col("k").cast("string"),
          lit(" w="), col("w").cast("string"),
          lit(s" cannot grow with a k=$k w=$w drop - one parameterization " +
            "per artifact; rebuild to change it")))))
    SetSim.appendPerDocIndex(guarded,
      winnowIndex(drop, textCol, idCol, k, w),
      "doc_id", "winnowIndexAppend", tGuard = None)
  }

  /**
   * Cross-corpus winnowed overlap — the incremental arm of
   * [[winnowedOverlapPairs]], completing the family pattern every
   * similarity arm in this engine has (LSH/SimHash/embedding/exact
   * set-sim/edit-distance/containment): a new drop asks "which corpus
   * docs share ≥ minShared fingerprints with each new doc" against
   * the PERSISTED [[winnowIndex]], never rescanning corpus text.
   * Returns (batch_id, index_id, n_shared).
   *
   * Scale shape (the row-136 doctrine): batch fingerprints are
   * winnowed in one projection, the index is semi-joined against the
   * BROADCAST batch hash set (matched rows only — never shuffled
   * beyond them), both sides' hash buckets cap independently with
   * loud metrics, then a 1:1-per-hash bucket join and one
   * (batch, index) count.
   */
  def winnowedOverlapPairsAgainst(
    batch: DataFrame,
    index: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 8,
    w: Int = 4,
    minShared: Int = 2,
    maxBucket: Option[Int] = DefaultMaxBucket
  ): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    // loud parameter guard at plan-execution time
    val guardedIndex = index.filter(
      when(col("k") === lit(k) && col("w") === lit(w), lit(true))
        .otherwise(raise_error(concat(
          lit("winnowedOverlapPairsAgainst: index built at k="),
          col("k").cast("string"), lit(" w="), col("w").cast("string"),
          lit(s" cannot serve a k=$k w=$w probe")))))
    val bfp = winnowTable(batch, textCol, idCol, k, w)
      .select(col("doc_id").as("batch_id"), col("hash")).distinct()
    // cap the batch side BEFORE it is broadcast/joined (mirroring the
    // index-side capping order): a degenerate batch hash shared by
    // huge numbers of batch docs would otherwise inflate the broadcast
    // with rows the cap drops afterwards anyway — and its matching
    // index rows would survive the semi-join only to be discarded
    val batchBuckets = cappedCollect(bfp, Seq("hash"),
      col("batch_id"), "batch_items", useSet = true, maxBucket, "winnow_incr_batch")
    val probe = batchBuckets.select("hash")
    val matchedIdx = guardedIndex
      .select(col("doc_id").as("index_id"), col("hash")).distinct()
      .join(broadcast(probe), Seq("hash"), "left_semi")
    val idxBuckets = cappedCollect(matchedIdx, Seq("hash"),
      col("index_id"), "idx_items", useSet = true, maxBucket, "winnow_incr_idx")
    idxBuckets.join(broadcast(batchBuckets), Seq("hash"))
      .select(explode(col("idx_items")).as("index_id"), col("batch_items"))
      .select(col("index_id"), explode(col("batch_items")).as("batch_id"))
      .groupBy("batch_id", "index_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /**
   * Exact dedup keeping the BEST row per duplicate group instead of
   * the lowest id — the keeper policy real curation wants when copies
   * genuinely differ upstream of normalization (casing, spacing,
   * embedded PII masked later): keep the copy a QUALITY signal ranks
   * highest. One row survives per distinct normalized text, chosen by
   * `(scoreCol DESC, idCol ASC)` — the id tiebreak keeps the choice
   * deterministic and rerun-stable like every dedup keeper here.
   * Same one-shuffle rank-window shape as [[dropExactDuplicates]]
   * (WindowGroupLimit pushes rn=1 into per-partition top-1).
   */
  def dropExactDuplicatesKeepBest(
    df: DataFrame,
    textCol: String,
    idCol: String,
    scoreCol: String,
    tokenizer: String = TextAnalysis.WhitespaceTokenizer
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(Hashing.normalizedTextFor(col(textCol), tokenizer)))
      .orderBy(col(scoreCol).desc, col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /**
   * Near-dup removal keeping the BEST-scoring document of each
   * TRANSITIVE duplicate cluster ([[dropNearDuplicates]]' greedy
   * pairwise rule keeps the lowest id of every pair, which can keep a
   * low-quality copy and drop the clean one, and can keep 2+ docs of
   * one chain): verified pairs → [[connectedComponents]] clusters →
   * per-cluster argmax by `(scoreCol DESC, idCol ASC)` → every other
   * member anti-joined away. Unpaired documents never enter a cluster
   * and always survive.
   *
   * Scale shape: the corpus is never shuffled — the member table is
   * PAIR-bounded (only docs appearing in a verified pair), scores
   * attach via one column-pruned (id, score) join, the keeper window
   * runs over the member table, and the corpus pays exactly one
   * anti-join against the (pair-bounded) loser ids.
   */
  def dropNearDuplicatesKeepBest(
    df: DataFrame,
    textCol: String,
    idCol: String,
    scoreCol: String,
    k: Int = 3,
    numHashes: Int = 16,
    bands: Int = 4,
    threshold: Double = 0.8,
    maxBucket: Option[Int] = DefaultMaxBucket,
    maxIters: Int = 20,
    localizeEdgeLimit: Long = 2000000L,
    tokenizer: String = TextAnalysis.WhitespaceTokenizer
  ): DataFrame = {
    val members = connectedComponents(
      nearDuplicates(df, textCol, idCol, k, numHashes, bands, threshold,
        maxBucket, tokenizer),
      maxIters, localizeEdgeLimit)
    val scored = members.join(
      df.select(col(idCol).as("doc_id"), col(scoreCol).as("__score")),
      Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("__score").desc, col("doc_id"))
    val losers = scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col("doc_id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * The deduplicated corpus: every document that appears as the GREATER
   * id of a verified near-duplicate pair is dropped, keeping the lowest
   * id of each duplicate cluster reachable by pairwise links (greedy
   * canonical-keeper policy — the standard training-data pipeline rule;
   * [[clusterNearDuplicates]] is the transitive alternative when true
   * cluster identity matters).
   *
   * Scale shape: near-dup pairs (small) anti-joined against the corpus.
   * The loser set's size is unknown when the plan is made, so the anti
   * join is planned as a sort-merge join and the corpus — full text —
   * is shuffled on the id; AQE turns the join into a broadcast once the
   * loser stage reports its real size, but the corpus shuffle has been
   * written by then. The corpus is never shuffled at shingle or band
   * granularity.
   */
  def dropNearDuplicates(
    df: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 3,
    numHashes: Int = 16,
    bands: Int = 4,
    threshold: Double = 0.8,
    maxBucket: Option[Int] = DefaultMaxBucket,
    tokenizer: String = TextAnalysis.WhitespaceTokenizer
  ): DataFrame = {
    val losers = nearDuplicates(df, textCol, idCol, k, numHashes, bands, threshold,
      maxBucket, tokenizer)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * Corpus-wide duplicate-LINE removal (the C4 cleanup rule): any line
   * occurring at least `minCount` times across the corpus is deleted
   * from EVERY document; surviving lines keep their order, and a
   * document whose lines are all boilerplate survives with empty text
   * (corpus row count is preserved). Blank lines are exempt — they are
   * paragraph separators, not boilerplate, and deleting them corpus-wide
   * would mangle every document's structure (same stance as
   * [[dropRepeatedLinesWithinDoc]]). Returns (doc_id, textCol). Runs on
   * [[dropRepeatedUnits]] (its scale shape).
   */
  def dropDuplicateLines(
    df: DataFrame,
    textCol: String,
    idCol: String,
    minCount: Int = 3
  ): DataFrame =
    dropRepeatedUnits(df, textCol, idCol, None, "\n", "\n", keepEmptyUnits = true, minCount)

  /**
   * PER-GROUP duplicate-line removal — the domain-keyed refinement of
   * [[dropDuplicateLines]]: a line occurring at least `minCount` times
   * WITHIN one group (site domain, crawl source, feed id) is boilerplate
   * of THAT group and is removed from its documents only. The global
   * rule structurally misses this: per-site nav/footer lines are
   * globally rare on a broad crawl (a 20-page site's footer appears 20
   * times in a billion-doc corpus), while a globally-common line can be
   * legitimate content inside one small group. Key on
   * [[graft.operators.Web.withUrlParts]]' registrable domain for web
   * corpora. Documents with a NULL group keep every line (there is no
   * population to count boilerplate over). Blank separator lines are
   * exempt; NULL text rebuilds as empty; output carries (doc_id, group,
   * text). Runs on [[dropRepeatedUnits]] (its scale shape).
   */
  def dropDuplicateLinesByGroup(
    df: DataFrame,
    textCol: String,
    idCol: String,
    groupCol: String,
    minCount: Int = 3
  ): DataFrame =
    dropRepeatedUnits(df, textCol, idCol, Some(groupCol), "\n", "\n",
      keepEmptyUnits = true, minCount)

  /**
   * Corpus-wide duplicate-PARAGRAPH removal (the RefinedWeb granularity
   * between [[dropDuplicateLines]] and whole-document dedup): any
   * paragraph — a maximal run of text between blank-line separators
   * (`\n{2,}`) — occurring at least `minCount` times across the corpus
   * is deleted from EVERY document; surviving paragraphs keep their
   * order. Catches multi-line boilerplate blocks (cookie banners,
   * license headers, nav footers) that the LINE rule only erodes when
   * every individual line independently crosses its threshold, and
   * that near-dup dedup only catches when the whole documents are
   * similar. Exact-hash matching: a one-character variant is a
   * different paragraph ([[dropNearDuplicates]] is the fuzzy tool).
   *
   * Rebuild normalizes paragraph separators to exactly one blank line
   * (`\n\n`) and drops leading/trailing blank runs — documented
   * normalization, the [[dropDuplicateSpans]] whitespace convention at
   * paragraph granularity. Single-newline structure INSIDE a surviving
   * paragraph is untouched. NULL text rebuilds as empty (the
   * [[dropDuplicateLines]] convention). Runs on [[dropRepeatedUnits]]
   * (its scale shape).
   */
  def dropDuplicateParagraphs(
    df: DataFrame,
    textCol: String,
    idCol: String,
    minCount: Int = 2
  ): DataFrame =
    dropRepeatedUnits(df, textCol, idCol, None, "\\n{2,}", "\n\n",
      keepEmptyUnits = false, minCount)

  /**
   * The repeated-unit removal kernel of [[dropDuplicateLines]],
   * [[dropDuplicateLinesByGroup]] and [[dropDuplicateParagraphs]]:
   * split `textCol` on the regex `splitOn`, digest each unit, count the
   * units per (`groupCol`, digest), delete every unit counted at least
   * `minCount` times, and rejoin the survivors in their order with
   * `joinWith`. Empty units never count; they survive the rebuild only
   * under `keepEmptyUnits`. A row with a NULL group never counts, so it
   * keeps every unit. Every input row survives as (doc_id, groupCol,
   * textCol); NULL text and a NULL id read "", and rows sharing an id
   * rebuild as one document.
   *
   * Scale shape: ONE shared unit exchange. The input is evaluated and
   * its unit rows (keyed by their 16-byte MD5, not the unit text —
   * boilerplate is long, hashes are not) are hash-partitioned on
   * (group, digest) exactly once; the count reads that exchange, and
   * the duplicate-unit drop re-reads the SAME exchange (ReuseExchange —
   * see the pruning guards in the code) joined against the
   * co-partitioned duplicate set, so the input's upstream chain (a scan
   * plus every scrub projection in front of the rule) runs once rather
   * than once per branch. The rebuild is ONE regroup by doc_id with
   * order restored from the captured unit positions, and a left join of
   * the input's ids restores every input row.
   */
  private def dropRepeatedUnits(
    df: DataFrame,
    textCol: String,
    idCol: String,
    groupCol: Option[String],
    splitOn: String,
    joinWith: String,
    keepEmptyUnits: Boolean,
    minCount: Int
  ): DataFrame = {
    require(minCount >= 2, s"minCount must be at least 2: $minCount")
    // the group rides as a one-field STRUCT key: never NULL itself, and
    // two NULL groups compare equal inside it, so the drop's `=` join is
    // null-safe yet infers no isnotnull(group) for pushdown to land on
    // the count's copy of the unit subtree only — and the exchange, the
    // count and the join all share one key (a `<=>` join on the bare
    // column keys on coalesce/isnull instead, and re-shuffles the units)
    val group = groupCol.map(g => struct(col(g)).as("__g")).toSeq
    val keys = group.map(_ => "__g") :+ "lh"
    // the explicit isNotNull is load-bearing for exchange reuse (the
    // dropDuplicateSpans guard): the drop join below infers it on the
    // count branch's copy of this subtree, and if it were only inferred,
    // predicate pushdown would specialize that copy and break the
    // ReuseExchange into a second evaluation of the input. It holds for
    // every row (the digest of a non-NULL unit), so it drops nothing
    val lines = df
      .select(col(idCol).as("doc_id") +: group :+
        posexplode(split(col(textCol), splitOn)).as(Seq("pos", "line")): _*)
      // unhex → BINARY: a TRUE 16-byte key (hex md5 is 32 bytes + string
      // overhead) — halves key bytes in the corpus-wide shuffle
      .withColumn("lh", unhex(md5(col("line"))))
      .filter(col("lh").isNotNull)
      .repartition(keys.map(col): _*)
    // the count, read off the shared exchange. Empty units and NULL
    // groups are exempt inside the count (a filter here would be pushed
    // below the repartition and specialize this branch), and
    // `pos >= 0 OR doc_id IS NOT NULL` ≡ true — posexplode positions are
    // non-negative — but it references every payload column, so column
    // pruning cannot narrow this branch's exchange copy either. NULL-id
    // units count like any other
    val counted = groupCol.foldLeft(col("line") =!= "" &&
      (col("pos") >= 0 || col("doc_id").isNotNull))((c, g) => c && col("__g")(g).isNotNull)
    val dup = lines
      .groupBy(keys.map(col): _*)
      .agg(count(when(counted, lit(1))).as("c"))
      .filter(col("c") >= minCount)
      .select(keys.map(col) :+ lit(true).as("__dup"): _*)
    // LEFT join + isNull, not left_anti: PushDownLeftSemiAntiJoin would
    // push an anti join below the repartition, splitting the shared
    // exchange back into two evaluations of the input
    val units = transform(
      array_sort(collect_list(struct(col("pos"), col("line")))), s => s("line"))
    val rebuilt = lines
      .join(dup, keys, "left")
      .filter(col("__dup").isNull)
      .groupBy(col("doc_id").as("__rid"))
      .agg(concat_ws(joinWith,
        if (keepEmptyUnits) units else filter(units, _ =!= "")).as(textCol))
    // the restore join is NULL-SAFE: a plain `=` would infer
    // isnotnull(doc_id) on the rebuilt side, which pushdown lands on the
    // drop branch's copy of the unit subtree only (breaking the reuse),
    // and an explicit filter there would stop NULL-id units from
    // counting. A NULL id then matches the NULL regroup, so it reads ""
    // explicitly — what an `=` join's no-match gave it
    val carried = groupCol.map(col).toSeq
    df.select(col(idCol).as("doc_id") +: carried: _*)
      .join(rebuilt, col("doc_id") <=> col("__rid"), "left")
      .select(col("doc_id") +: carried :+ when(col("doc_id").isNull, lit(""))
        .otherwise(coalesce(col(textCol), lit(""))).as(textCol): _*)
  }

  /**
   * Corpus-self duplicate-SPAN removal, ExactSubstr-style (Lee et al.
   * 2021, arXiv:2107.06499 "Deduplicating Training Data Makes Language
   * Models Better"): any k-token window occurring `minCount`+ times
   * ANYWHERE in the corpus is cut from every occurrence EXCEPT the
   * first (lexicographically smallest (doc_id, position)) — one copy of
   * every repeated passage survives corpus-wide. The scalpel between
   * [[dropDuplicateLines]] (needs the repetition to be line-aligned) and
   * [[dropNearDuplicates]] (needs the whole DOCUMENT to be similar):
   * it catches a paragraph quoted verbatim inside otherwise-unrelated
   * documents. Overlapping duplicated windows union into one cut span
   * (the [[Contamination.decontaminateSpans]] rebuild). Returns the
   * corpus with `textCol` cleaned plus `n_tokens_removed`; untouched
   * documents (including NULL and sub-k) pass through byte-verbatim.
   *
   * A document receiving ANY cut is rebuilt by joining its surviving
   * tokens with single spaces (the decontaminateSpans convention), so
   * ALL its original whitespace — including newlines — collapses: one
   * 25-token cut costs every line boundary in that document. Run span
   * removal AFTER the line-structured rules ([[dropDuplicateLines]],
   * [[dropRepeatedLinesWithinDoc]]) so they see intact newlines.
   *
   * The reference paper cuts 50-BPE-token substrings via a corpus-wide
   * suffix array; this is the k-gram-window formulation of the same
   * rule — token-aligned grams (the [[SpanGrams]] convention shared
   * with span decontamination), which a distributed engine can compute
   * with ONE gram-keyed shuffle instead of a global suffix sort.
   *
   * Scale shape: TWO-PHASE occurrence detection over ONE shared gram
   * exchange. The corpus gram stream is exploded and hash-partitioned
   * on the gram exactly once; phase 1 COUNTS grams off that exchange (a
   * codegen'd aggregate — no per-gram object buffers) and keeps only
   * grams reaching `minCount` (tiny — duplication is sparse in real
   * corpora), and phase 2 re-reads the SAME exchange (ReuseExchange —
   * see the pruning guard in the code) semi-joined against that
   * duplicated-gram set, so the collect_list aggregation materializes
   * O(duplicated positions), never a position buffer per unique gram —
   * the overwhelmingly-common unique gram costs one counted row and
   * nothing more. Occurrence lists over `maxOccurrences` are dropped
   * LOUDLY (observed metric — a megadup gram is boilerplate for
   * [[dropDuplicateLines]], and its cut list would be a skewed task),
   * cut positions regroup per doc (cut-sized), and the dup-gram semi
   * join and rebuild join broadcast (a boilerplate-saturated corpus
   * runs under [[graft.GraftSession]]'s corpus-sized escape).
   *
   * Gram identity is the 60-bit [[SpanGrams]] hash, so two UNRELATED
   * k-windows can collide and cut an innocent span: expect ~n²/2⁶¹
   * spurious co-occurrences for n corpus windows (birthday bound — at
   * 10¹² windows, a ~20% chance of ONE false pair corpus-wide). The
   * reference suffix-array formulation is exact; this engine trades
   * that vanishing false-positive rate for the one-shuffle plan.
   */
  def dropDuplicateSpans(
    corpus: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 25,
    minCount: Int = 2,
    maxOccurrences: Option[Int] = DefaultMaxBucket
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(minCount >= 2, s"minCount must be at least 2: $minCount")
    Cols.requireAbsent(corpus,
      "n_tokens_removed", "__w", "__nt", "__g", "__starts", "__kept", "__did")
    val docs = corpus
      .withColumn("__w", SpanGrams.tokensOf(col(textCol)))
      .withColumn("__nt", SpanGrams.normTok(col("__w")))
      .withColumn("__g", SpanGrams.gramHashes(col("__nt"), k))
    // the explicit isNotNull is load-bearing for exchange reuse: the
    // dup-gram join below infers it on ITS copy of this subtree, and if
    // it were only inferred, predicate pushdown would specialize that
    // copy and break the ReuseExchange into a second corpus scan
    val gramRows = docs
      .select(col(idCol).as("__did"), posexplode(col("__g")).as(Seq("pos", "g")))
      .filter(col("g").isNotNull)
      .repartition(col("g"))
    // phase 1: global gram counts, read off the SAME gram exchange that
    // phase 2 consumes (ReuseExchange — the corpus gram stream is
    // computed and shuffled ONCE). count(when(pos >= 0 OR did NOT NULL))
    // ≡ count(1) — posexplode positions are non-negative — but it
    // references BOTH payload columns, so column pruning cannot
    // specialize this branch's exchange copy and silently break the
    // reuse into a second corpus scan (the BM25 pruned-agg guard,
    // Retrieval.scala; PlanAuditSpec pins the ReusedExchange here too)
    val dupStats = gramRows
      .groupBy("g")
      .agg(count(when(col("pos") >= 0 || col("__did").isNotNull, lit(1))).as("c"))
      .filter(col("c") >= minCount)
    // the occurrence cap rides the SAME count this phase already
    // computes (zero extra passes): a gram over maxOccurrences never
    // reaches phase 2, so its occurrence list is never materialized —
    // the two-pass cap discipline (capRows) with the count pass shared
    val dupGrams = maxOccurrences.fold(dupStats.select("g")) { cap =>
      require(cap >= 2, s"maxOccurrences must be >= 2 (a pair), got $cap")
      val over = col("c") > cap
      dupStats
        .observe(
          s"graft.dup_span.bucket_cap#${capObsId.incrementAndGet()}",
          coalesce(sum(when(over, lit(1L))), lit(0L)).as("dropped_buckets"),
          coalesce(sum(when(over, col("c"))), lit(0L)).as("dropped_rows"))
        .filter(!over)
        .select("g")
    }
    // phase 2: occurrence lists ONLY for duplicated grams — collect_list
    // materializes O(dup positions), never a buffer per unique gram.
    // INNER join, not semi: dup-gram keys are unique (groupBy output) so
    // the semantics are identical, but PushDownLeftSemiAntiJoin would
    // push a semi join below the repartition, splitting the shared
    // exchange back into two corpus scans
    val occ = gramRows
      .join(broadcast(dupGrams), Seq("g"))
      .groupBy("g")
      .agg(collect_list(struct(col("__did"), col("pos"))).as("occs"))
    // every occurrence except the lexicographic first gets cut;
    // array_sort orders struct(did, pos) fields left-to-right
    val cuts = occ
      .select(explode(
        slice(array_sort(col("occs")), lit(2), size(col("occs")) - 1)).as("o"))
      .groupBy(col("o.__did").as("__did"))
      .agg(collect_list(col("o.pos")).as("__starts"))
    docs.join(broadcast(cuts), col(idCol) === col("__did"), "left").drop("__did")
      .withColumn("__kept",
        when(col("__starts").isNotNull,
          filter(col("__w"),
            (x, i) => !exists(col("__starts"), p => i >= p && i < p + k))))
      .withColumn("n_tokens_removed",
        when(col("__starts").isNull, lit(0))
          .otherwise(size(col("__w")) - size(col("__kept"))).cast("int"))
      .withColumn(textCol,
        when(col("__starts").isNull, col(textCol))
          .otherwise(concat_ws(" ", col("__kept"))))
      .drop("__w", "__nt", "__g", "__starts", "__kept")
  }

  /**
   * WITHIN-document repeated-line removal: keeps the FIRST occurrence of
   * each line inside a document and deletes later repeats (scraper menus
   * and generated boilerplate often loop within one page — the corpus-wide
   * [[dropDuplicateLines]] rule misses a line repeated only inside a
   * single doc). Blank lines are exempt (they are paragraph separators,
   * not content). Line order is otherwise preserved; row count unchanged.
   *
   * Pure projection: the line array is materialized once and pruned by a
   * positional higher-order filter (keep index i iff the line's first
   * occurrence is at i) — per-doc local work, no shuffle, no join, so
   * the rule rides the 100 TB scan. Quadratic only in each doc's LINE
   * count, which is bounded and tiny relative to I/O.
   */
  def dropRepeatedLinesWithinDoc(
    df: DataFrame,
    textCol: String
  ): DataFrame = {
    Cols.requireAbsent(df, "__ln")
    // materialize the split ONCE as a projection column: referencing the
    // split expression inside the lambda would re-run it per element
    // (no CSE inside higher-order lambdas; cf. the signature operators)
    // blank lines are paragraph separators, not content — exempt from
    // the repeat rule so document structure survives
    val rebuilt = concat_ws("\n",
      filter(col("__ln"),
        (x, i) => (x === "") ||
          array_position(col("__ln"), x) === (i + 1).cast("long")))
    val cols = df.columns.map(c => if (c == textCol) rebuilt.as(textCol) else col(c))
    df.withColumn("__ln", split(col(textCol), "\n")).select(cols.toIndexedSeq: _*)
  }

  // -------------------------------------------------------------- simhash

  /**
   * 60-bit SimHash of normalized words: every word votes ±1 on each bit of
   * its 60-bit hash; bits with a positive vote sum are set. Near-duplicate
   * documents have small Hamming distance between SimHashes.
   *
   * Implemented as nested Catalyst lambda expressions over a precomputed
   * word-hash array (hash each word once, not once per bit).
   */
  def simHash(textCol: Column): Column = {
    val wordHashes = transform(Hashing.normalizedWords(textCol), w => Hashing.md5Long60(w))
    simHashOfHashes(wordHashes)
  }

  /**
   * SimHash packing from an array<long> of word hashes.
   *
   * The empty guard doubles as a materialization barrier (two references
   * to wordHashes), keeping CollapseProject from inlining a non-cheap
   * hash-array expression into the 60-iteration bit loop, which would
   * re-hash every word 60 times.
   */
  private def simHashOfHashes(wordHashes: Column): Column =
    when(size(wordHashes) === 0, lit(0L))
      .otherwise(
        aggregate(
          sequence(lit(0), lit(59)),
          lit(0L),
          (acc, b) => {
            val vote = aggregate(
              wordHashes,
              lit(0L),
              (v, h) =>
                v + when(call_function("shiftright", h, b) % 2 === 1, lit(1L))
                  .otherwise(lit(-1L))
            )
            acc + when(vote > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))
          }
        ))

  /** Per-document SimHash table: (doc_id, simhash). Packing uses the
    * native [[graft.functions.SimHashPackExpr]] (value-identical to
    * [[simHash]]'s expression chain, pinned by HashingSpec). */
  def simHashes(
    df: DataFrame, textCol: String, idCol: String,
    tokenizer: String = TextAnalysis.WhitespaceTokenizer
  ): DataFrame = {
    val wt = tokenizer match {
      case TextAnalysis.WhitespaceTokenizer => wordTable(df, textCol, idCol)
      case TextAnalysis.Uax29Tokenizer => uax29WordTable(df, textCol, idCol)
      case other => throw new IllegalArgumentException(
        s"unknown tokenizer '$other' (expected ${TextAnalysis.WhitespaceTokenizer} or ${TextAnalysis.Uax29Tokenizer})")
    }
    wt.select(
        col("doc_id"),
        graft.functions.Md5Long60ArrayExpr(col("w")).as("wh"))
      .select(col("doc_id"), graft.functions.SimHashPackExpr(col("wh")).as("simhash"))
  }

  /**
   * SimHash near-dup pairs by banding the 60-bit hash into `bands`
   * 15-bit chunks (pigeonhole: Hamming distance < bands guarantees an
   * exact match on some chunk). Verified with exact Hamming distance via
   * bit_count(xor) — only inside chunk buckets, never all pairs. Buckets
   * larger than maxBucket (default [[DefaultMaxBucket]]) are dropped
   * with an observed drop-count metric.
   */
  def simHashNearDups(
    simhashes: DataFrame,
    maxHamming: Int = 3,
    bands: Int = 4,
    maxBucket: Option[Int] = DefaultMaxBucket
  ): DataFrame =
    hammingNearDups(simhashes, "doc_id", "simhash", 60, maxHamming, bands, maxBucket)

  /**
   * GENERIC Hamming near-dup pairs over any `bits`-wide hash column by
   * pigeonhole banding — the machinery behind [[simHashNearDups]]
   * (60-bit text SimHash) and [[Multimodal.imageNearDups]] (64-bit
   * image dHash): the hash splits into `bands` chunks of bits/bands
   * bits; Hamming distance < bands forces an exact match on some chunk
   * (pigeonhole), so candidates come only from per-chunk buckets —
   * never all pairs — and are verified with exact bit_count(xor).
   * Band keys MASK (bitwiseAND) rather than mod so a 64-bit hash with
   * the sign bit set still buckets correctly (arithmetic shiftright
   * sign-extends; the mask strips the extension).
   *
   * Recall contract (dual, like the row-27 LSH trade): with
   * maxHamming < bands the result is COMPLETE (pigeonhole — every
   * qualifying pair shares a chunk; the oracle-gated settings);
   * maxHamming >= bands is allowed and stays sound (every returned
   * pair's Hamming is exact) but recall turns probabilistic — a pair
   * can differ in all chunks and never collide. Buckets over
   * maxBucket drop with the observed-metric discipline.
   */
  def hammingNearDups(
    hashes: DataFrame,
    idCol: String,
    hashCol: String,
    bits: Int,
    maxHamming: Int = 3,
    bands: Int = 4,
    maxBucket: Option[Int] = DefaultMaxBucket
  ): DataFrame = {
    requireHammingBandParams(bits, bands)
    require(maxHamming >= 0, s"maxHamming must be >= 0: $maxHamming")
    val banded = hammingBandRows(hashes, idCol, hashCol, "doc_id", "__h", bits, bands)
      .select(struct(col("doc_id"), col("__h").as("simhash")).as("item"),
        col("band"), col("band_key"))
    cappedCollect(banded, Seq("band", "band_key"),
        col("item"), "items", useSet = false, maxBucket, "simhash")
      .filter(size(col("items")) >= 2)
      .select(explode(bucketPairs(col("items"))).as("p"))
      .select(
        least(col("p.x.doc_id"), col("p.y.doc_id")).as("id_a"),
        greatest(col("p.x.doc_id"), col("p.y.doc_id")).as("id_b"),
        bit_count(col("p.x.simhash").bitwiseXOR(col("p.y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Cross-corpus Hamming near-dup — [[hammingNearDups]]' incremental
   * arm, and the generalized spine under [[simHashNearDupsAgainstIndex]]
   * (which keeps its 60-bit text contract on top of this): a new batch
   * of `bits`-wide hashes probed against a PERSISTED hash table (e.g.
   * [[Multimodal.imageDHash]] / `videoDHash` / `audioFingerprint`
   * output as parquet — a takedown forgets it via [[Forget.removeIds]],
   * per-doc rows only) without rescanning the prior corpus. Returns
   * (batch_id, index_id, hamming) with hamming ≤ maxHamming.
   *
   * Recall contract matches [[hammingNearDups]]: COMPLETE for
   * maxHamming < bands (pigeonhole — a qualifying pair must agree on
   * some chunk), LSH-style probabilistic beyond. Band keys are MASKED
   * (not mod'd) so sign-bit 64-bit hashes bucket correctly.
   *
   * Scale shape: the [[nearDuplicatesAgainstIndex]] doctrine — the
   * index is banded in one generate and semi-joined against the
   * BROADCAST batch band keys (never shuffled beyond matched rows;
   * corpus-sized batches: [[graft.GraftSession]]'s corpus-sized escape), each side
   * grouped and capped independently BEFORE the cross-side join
   * (O(I + B) rows per bucket, never I×B). Hashes ride the band rows,
   * so the exact bit_count verify needs no join back to either corpus.
   */
  def hammingNearDupsAgainstIndex(
    batchHashes: DataFrame,
    indexHashes: DataFrame,
    idCol: String,
    hashCol: String,
    bits: Int,
    maxHamming: Int = 3,
    bands: Int = 4,
    maxBucket: Option[Int] = DefaultMaxBucket,
    metricPrefix: String = "incr_hamming"
  ): DataFrame = {
    requireHammingBandParams(bits, bands)
    require(maxHamming >= 0, s"maxHamming must be >= 0: $maxHamming")
    val idxB = hammingBandRows(indexHashes, idCol, hashCol, "index_id", "__h_i", bits, bands)
    val batchB = hammingBandRows(batchHashes, idCol, hashCol, "batch_id", "__h_b", bits, bands)
    val matchedIdx = idxB.join(
      broadcast(batchB.select("band", "band_key").distinct()),
      Seq("band", "band_key"), "left_semi")
    val idxBuckets = cappedCollect(matchedIdx, Seq("band", "band_key"),
      struct(col("index_id"), col("__h_i")), "idx_items",
      useSet = true, maxBucket, s"${metricPrefix}_idx")
    val batchBuckets = cappedCollect(batchB, Seq("band", "band_key"),
      struct(col("batch_id"), col("__h_b")), "batch_items",
      useSet = true, maxBucket, s"${metricPrefix}_batch")
    idxBuckets.join(broadcast(batchBuckets), Seq("band", "band_key"))
      .select(explode(col("idx_items")).as("i"), col("batch_items"))
      .select(col("i"), explode(col("batch_items")).as("b"))
      .select(
        col("b.batch_id").as("batch_id"),
        col("i.index_id").as("index_id"),
        bit_count(col("b.__h_b").bitwiseXOR(col("i.__h_i"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  private def requireHammingBandParams(bits: Int, bands: Int): Unit = {
    require(bands >= 1 && bits % bands == 0,
      s"bits must divide into bands: bits=$bits bands=$bands")
    require(bits >= 1 && bits <= 64,
      s"bits must be in [1, 64] (hashes are one long): $bits" +
        " - a wider shift would wrap mod 64 and silently collapse band keys")
  }

  /** Masked band rows of a `bits`-wide hash column — one row per
    * (band, band_key) with the hash riding: the shared projection of
    * [[hammingNearDups]], [[hammingNearDupsAgainstIndex]] (both sides,
    * per call), [[hammingBandedIndex]] (build side, once) and
    * [[hammingMatchesAgainstBanded]] (probe side). MASKED, not mod'd,
    * so sign-bit 64-bit hashes bucket correctly. */
  private def hammingBandRows(
    df: DataFrame,
    idCol: String,
    hashCol: String,
    idAs: String,
    hAs: String,
    bits: Int,
    bands: Int
  ): DataFrame = {
    val chunkBits = bits / bands
    val mask = if (chunkBits == 64) -1L else (1L << chunkBits) - 1
    df.select(
      col(idCol).as(idAs), col(hashCol).as(hAs),
      explode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => struct(
            b.as("band"),
            call_function("shiftright", col(hashCol), b * chunkBits)
              .bitwiseAND(lit(mask)).as("band_key"))))
        .as("bk")
    ).select(col(idAs), col(hAs),
      col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /**
   * The PRE-BANDED persisted Hamming-hash index — the
   * [[nearDupStreamIndex]] doctrine applied to the `bits`-wide hash
   * family ([[Multimodal.imageDHash]] / video / audio tables): flat
   * rows `(band, band_key, index_id, index_hash)` with oversized
   * buckets dropped STATICALLY at build time, so every future probe —
   * batch drop or streaming micro-batch — is a pure equi-join with
   * ZERO index-side recompute. The flat-hash probe
   * ([[hammingNearDupsAgainstIndex]]) re-bands and re-groups the index
   * per call; at a large prior corpus that is a per-batch index
   * aggregation this artifact amortizes into the build.
   *
   * Build once per corpus, write to parquet. `bits`/`bands` are the
   * artifact's contract — probes MUST band with the same values (the
   * [[nearDupMatchesAgainstIndex]] numHashes/bands convention). A
   * takedown forgets per-doc band rows via [[Forget.removeIds]] on
   * `index_id` (anti-join ≡ rebuild — no counted refs here). Appends
   * of NEW ids are row appends of the drop's band rows (cap applied
   * within each drop; a bucket can only exceed the cap ACROSS drops,
   * the documented growth margin — re-build to re-cap).
   *
   * Scale shape: one groupBy shuffle of the hash table at build,
   * amortized over every probe. NULL hashes are filtered out before
   * banding (undecodable media never matches anything).
   */
  def hammingBandedIndex(
    indexHashes: DataFrame,
    idCol: String,
    hashCol: String,
    bits: Int,
    bands: Int = 4,
    maxBucket: Option[Int] = DefaultMaxBucket,
    metricPrefix: String = "banded_hamming"
  ): DataFrame = {
    requireHammingBandParams(bits, bands)
    val b = hammingBandRows(
      indexHashes.filter(col(hashCol).isNotNull),
      idCol, hashCol, "index_id", "index_hash", bits, bands)
    cappedCollect(b, Seq("band", "band_key"),
        struct(col("index_id"), col("index_hash")), "items",
        useSet = true, maxBucket, s"${metricPrefix}_idx")
      .select(col("band"), col("band_key"), explode(col("items")).as("i"))
      .select(col("band"), col("band_key"),
        col("i.index_id").as("index_id"),
        col("i.index_hash").as("index_hash"))
  }

  /** Banding-parameter sidecar name (an `_`-prefixed file — Spark's
    * readers ignore it as data), read and published through
    * [[IndexStore]]: a probe MUST band with the writer's bits/bands, so
    * they are never a caller-supplied guess on the read side. */
  private val HammingBandsMetaFile = "_hamming_bands"

  /**
   * Persist a [[hammingBandedIndex]] with its banding parameters in a
   * self-describing `_hamming_bands` sidecar — the sanctioned way to
   * write the artifact. A probe with mismatched bits/bands computes
   * DISJOINT band keys and silently loses every match; the sidecar
   * makes the parameters the artifact's own metadata
   * ([[hammingMatchesAgainstBandedDir]] reads them back), exactly the
   * BM25 layout's modulus doctrine ([[Retrieval.bm25SidecarWrite]]
   * carries its bucket count in its metadata row). `mode = "append"`
   * grows the artifact (new drops' band rows) and VERIFIES the sidecar
   * instead of rewriting it — appending with different banding would
   * corrupt the key space — and refuses a directory with data files but
   * no sidecar (a pre-banded flat hash table or a foreign dataset,
   * whose probes would read the old flat files as NULL band rows)
   * ([[IndexStore.writeStamped]]).
   */
  def hammingBandedIndexWrite(
    banded: DataFrame,
    path: String,
    bits: Int,
    bands: Int,
    mode: String = "overwrite"
  ): Unit = {
    requireHammingBandParams(bits, bands)
    IndexStore.writeStamped(banded, path, HammingBandsMetaFile,
      s"$bits,$bands", mode, "hammingBandedIndexWrite")
  }

  /** Read a [[hammingBandedIndexWrite]] sidecar back as (bits, bands).
    * Fails LOUD when absent — a parquet directory without it is either
    * a pre-banded-era flat hash table or a foreign dataset, and
    * guessing banding params would silently lose recall. */
  def readHammingBandMeta(
    spark: org.apache.spark.sql.SparkSession,
    path: String
  ): (Int, Int) = {
    val text = IndexStore.read(spark, path, HammingBandsMetaFile).getOrElse(
      throw new IllegalArgumentException(
        s"$path has no $HammingBandsMetaFile sidecar - either it was not " +
          "written by hammingBandedIndexWrite, or it is a pre-banded flat " +
          "(id, hash) table: rebuild the artifact with bandedMediaIndex / " +
          "hammingBandedIndex + hammingBandedIndexWrite"))
    val parts = text.split(",", -1)
    require(parts.length == 2 && parts.forall(s =>
        s.nonEmpty && s.length <= 2 && s.forall(c => c >= '0' && c <= '9')),
      s"$path/$HammingBandsMetaFile is not 'bits,bands' ('$text') - " +
        "was it written by hammingBandedIndexWrite?")
    (parts(0).toInt, parts(1).toInt)
  }

  /** The prior side of a stream sink that grows a
    * [[hammingBandedIndexWrite]] directory of 64-bit hashes at `bands`;
    * None before the first batch. The sidecar pins the banding contract
    * across the stream's whole life (a pre-banded-era flat table or a
    * foreign dataset fails LOUD naming the rebuild). Rows keyed by
    * `batchIds` (column `__bid`) are dropped: under the globally-unique-id
    * contract they can only be a replayed batch's prior-attempt append.
    * The schema is pinned, not inferred: a first batch whose survivors
    * were all undecodable leaves a data-file-less directory, where an
    * empty artifact is correct. */
  private[graft] def bandedStreamPrior(
    spark: org.apache.spark.sql.SparkSession,
    path: String,
    bands: Int,
    batchIds: DataFrame,
    what: String
  ): Option[DataFrame] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    if (!hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)) None
    else {
      val (mBits, mBands) = readHammingBandMeta(spark, path)
      require(mBits == 64 && mBands == bands,
        s"$what: $path was built with bits=$mBits bands=$mBands but is " +
          s"configured bands=$bands over 64-bit hashes - banding params are " +
          "the artifact's contract; restart with matching bands or rebuild " +
          "the artifact")
      Some(spark.read
        .schema("band INT, band_key BIGINT, index_id BIGINT, index_hash BIGINT")
        .parquet(path)
        .join(broadcast(batchIds), col("index_id") === col("__bid"), "left_anti"))
    }
  }

  /**
   * Re-apply the build-time bucket cap to a GROWN banded artifact —
   * the maintenance arm the append margin calls for: each
   * [[hammingBandedIndexWrite]] append caps only within its own drop,
   * so a bucket can creep past the cap ACROSS drops. This re-caps from
   * the band rows alone — no media decode, no corpus access, no hash
   * recomputation: deduplicate (replay re-appends may have duplicated
   * rows — harmless to probes, folded here), then one two-pass
   * [[capRows]] over (band, band_key). VALUE-EQUAL to a fresh
   * [[hammingBandedIndex]] build from the union hash table at the same
   * cap (q_banded_recap pins it), at a fraction of the cost — the
   * fresh build re-bands the full hash table; this reads ~24 bytes ×
   * bands per row. Compose with [[Forget.rewriteVersioned]] (frame →
   * frame) or [[recapBandedIndexDir]] for atomic publication.
   */
  def recapBandedIndex(
    banded: DataFrame,
    maxBucket: Option[Int] = DefaultMaxBucket,
    metricPrefix: String = "banded_recap"
  ): DataFrame =
    capRows(
      banded.select("band", "band_key", "index_id", "index_hash").dropDuplicates(),
      Seq("band", "band_key"), maxBucket, s"${metricPrefix}_idx")

  /** [[recapBandedIndex]] dir-to-dir: banding params carry over from
    * the source's own sidecar, the recapped artifact writes fresh to
    * `outPath` (write-fresh-and-flip-a-pointer — never in place, the
    * recap plan is still reading the source). */
  def recapBandedIndexDir(
    spark: org.apache.spark.sql.SparkSession,
    path: String,
    outPath: String,
    maxBucket: Option[Int] = DefaultMaxBucket,
    metricPrefix: String = "banded_recap"
  ): Unit = {
    IndexStore.requireFreshOut(spark, path, outPath, "recapBandedIndexDir")
    val (bits, bands) = readHammingBandMeta(spark, path)
    hammingBandedIndexWrite(
      recapBandedIndex(spark.read.parquet(path), maxBucket, metricPrefix),
      outPath, bits, bands)
  }

  /**
   * [[hammingMatchesAgainstBanded]] against a
   * [[hammingBandedIndexWrite]] DIRECTORY: bits/bands come from the
   * artifact's own sidecar, so a probe can never band differently
   * from the build — the mismatch class the flat DataFrame overload
   * documents is closed here by construction.
   */
  def hammingMatchesAgainstBandedDir(
    spark: org.apache.spark.sql.SparkSession,
    path: String,
    batchHashes: DataFrame,
    idCol: String,
    hashCol: String,
    maxHamming: Int = 3,
    maxBucket: Option[Int] = DefaultMaxBucket,
    metricPrefix: String = "banded_hamming"
  ): DataFrame = {
    val (bits, bands) = readHammingBandMeta(spark, path)
    hammingMatchesAgainstBanded(batchHashes, spark.read.parquet(path),
      idCol, hashCol, bits, maxHamming, bands, maxBucket, metricPrefix)
  }

  /**
   * Hamming near-dup matches of a batch against a PRE-BANDED
   * [[hammingBandedIndex]] artifact: the batch side is banded and
   * bucket-capped per call (batch-sized work), the index side is a
   * bare scan joined on `(band, band_key)` — NO aggregation, NO
   * re-banding, never shuffled when the batch buckets broadcast
   * (corpus-sized batches: [[graft.GraftSession]]'s corpus-sized escape →
   * shuffle join, AQE-splittable). Returns (batch_id, index_id, hamming ≤
   * maxHamming), exact via the riding hashes.
   *
   * `bits`/`bands` MUST match the artifact's build values — mismatched
   * banding would compute different keys and silently lose recall
   * (same contract as the MinHash stream index family). In-bucket
   * candidate cost is |batch bucket| × |index bucket|, both capped —
   * batch per call, index at build.
   */
  def hammingMatchesAgainstBanded(
    batchHashes: DataFrame,
    bandedIndex: DataFrame,
    idCol: String,
    hashCol: String,
    bits: Int,
    maxHamming: Int = 3,
    bands: Int = 4,
    maxBucket: Option[Int] = DefaultMaxBucket,
    metricPrefix: String = "banded_hamming"
  ): DataFrame = {
    requireHammingBandParams(bits, bands)
    require(maxHamming >= 0, s"maxHamming must be >= 0: $maxHamming")
    val batchB = hammingBandRows(
      batchHashes.filter(col(hashCol).isNotNull),
      idCol, hashCol, "batch_id", "__h_b", bits, bands)
    val batchBuckets = cappedCollect(batchB, Seq("band", "band_key"),
      struct(col("batch_id"), col("__h_b")), "batch_items",
      useSet = true, maxBucket, s"${metricPrefix}_batch")
    bandedIndex.join(broadcast(batchBuckets), Seq("band", "band_key"))
      .select(col("index_id"), col("index_hash"),
        explode(col("batch_items")).as("b"))
      .select(
        col("b.batch_id").as("batch_id"),
        col("index_id"),
        bit_count(col("b.__h_b").bitwiseXOR(col("index_hash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---------------------------------------------- embedding near-dup (LSH)

  /**
   * Per-dimension 60-bit hash column: element i is md5_60(i), from which
   * every plane draws its ±1 weight (plane p uses bit p). ONE digest per
   * dimension instead of one per (plane, dimension) — 16× less digest
   * work for 16 planes — and reproducible by the oracle as h60(i).
   */
  def dimHashes(vecCol: Column): Column =
    transform(
      sequence(lit(0), size(vecCol) - 1),
      i => Hashing.md5Long60(i.cast("string")))

  /**
   * Sign-random-projection bucket key over a vector and its materialized
   * per-dimension hash array: for each of `planes` hyperplanes with
   * deterministic ±1 weights (bit p of the dimension hash), the sign of
   * the projection becomes one character of the key. Cosine-similar
   * vectors collide with high probability.
   *
   * Both inputs MUST be bound attributes — the plane loop is unrolled at
   * plan time and references them `planes` times.
   */
  def hyperplaneBucketOf(vecCol: Column, dimHashCol: Column, planes: Int = 16): Column =
    concat_ws("", (0 until planes).map { p =>
      val dot = aggregate(
        zip_with(vecCol, dimHashCol,
          (x, h) =>
            x.cast("double") *
              when(shiftright(h, p) % 2 === 1, lit(1.0)).otherwise(lit(-1.0))),
        lit(0.0),
        (acc, x) => acc + x
      )
      when(dot > 0, lit("1")).otherwise(lit("0"))
    }: _*)

  /**
   * Embedding near-duplicate pairs: bucket by hyperplane signature — the
   * projection expression runs ONCE per vector — then one groupBy shuffle
   * on the bucket key, pair generation inside buckets only, exact cosine
   * verify ≥ threshold. Bucketing uses the native
   * [[graft.functions.HyperplaneBucketExpr]] (one fused loop over the
   * dimensions, per-dimension hashes cached across rows — value-identical
   * to [[hyperplaneBucketOf]] over [[dimHashes]], pinned by HashingSpec).
   * Buckets larger than maxBucket (default [[DefaultMaxBucket]]) are
   * dropped with an observed drop-count metric — identical or
   * zero-direction vectors all share one bucket, the degenerate case.
   */
  def embeddingNearDup(
    df: DataFrame,
    vecCol: String,
    idCol: String,
    planes: Int = 16,
    threshold: Double = 0.9,
    maxBucket: Option[Int] = DefaultMaxBucket
  ): DataFrame = {
    val bucketed = df.select(
        struct(col(idCol).as("vid"), col(vecCol).as("v")).as("item"),
        graft.functions.HyperplaneBucketExpr(col(vecCol), planes).as("bucket")
      )
    cappedCollect(bucketed, Seq("bucket"),
        col("item"), "items", useSet = false, maxBucket, "hyperplane")
      .filter(size(col("items")) >= 2)
      .select(explode(bucketPairs(col("items"))).as("p"))
      .select(
        least(col("p.x.vid"), col("p.y.vid")).as("id_a"),
        greatest(col("p.x.vid"), col("p.y.vid")).as("id_b"),
        Similarity.cosine(col("p.x.v"), col("p.y.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  // ---------------------------------------------- semantic dedup (SemDeDup)

  /**
   * Semantic near-duplicate pairs, SemDeDup-style (Abbas et al. 2023,
   * arXiv:2303.09540): k-means-cluster the embedding space, then compare
   * pairs ONLY within a cluster and keep those with cosine ≥ threshold.
   * Where [[embeddingNearDup]]'s hyperplane LSH finds near-IDENTICAL
   * vectors (tight cosine), the cluster route finds semantically
   * redundant ones at looser thresholds — LSH bucket collision
   * probability decays with angle, while cluster co-membership holds
   * across a whole semantic neighborhood.
   *
   * Scale shape: one k-means build ([[Similarity.kmeansCentroids]] —
   * corpus never shuffled, centroid folds are the only collects), one
   * assignment projection, one groupBy shuffle on centroid_id, in-cluster
   * pair generation only. UNLIKE the LSH families, cluster sizes are
   * ~n/nCentroids BY CONSTRUCTION — size nCentroids for your corpus
   * (SemDeDup uses n/cluster ≈ thousands; the default cap drops oversized
   * clusters LOUDLY via the observed metric, it does not save an
   * under-provisioned k).
   */
  def semanticNearDups(
    df: DataFrame,
    vecCol: String,
    idCol: String,
    threshold: Double = 0.95,
    nCentroids: Int = 16,
    kmeansIters: Int = 2,
    maxCluster: Option[Int] = DefaultMaxBucket
  ): DataFrame =
    semanticNearDupsWith(df, vecCol, idCol,
      Similarity.kmeansCentroids(df, vecCol, idCol, nCentroids, kmeansIters),
      threshold, maxCluster)

  /** [[semanticNearDups]] against a PREBUILT centroid table — the
    * deployment pairing with [[Similarity.saveCentroids]] /
    * [[Similarity.loadCentroids]]: one persisted k-means index serves
    * ANN probes AND semantic dedup over the same embedding space. */
  def semanticNearDupsWith(
    df: DataFrame,
    vecCol: String,
    idCol: String,
    centroids: DataFrame,
    threshold: Double = 0.95,
    maxCluster: Option[Int] = DefaultMaxBucket
  ): DataFrame = {
    val assigned = Similarity
      .ivfAssignWith(df, vecCol, centroids)
      .select(
        struct(col(idCol).as("vid"), col(vecCol).as("v")).as("item"),
        col("centroid_id"))
    cappedCollect(assigned, Seq("centroid_id"),
        col("item"), "items", useSet = false, maxCluster, "semantic")
      .filter(size(col("items")) >= 2)
      .select(explode(bucketPairs(col("items"))).as("p"))
      .select(
        least(col("p.x.vid"), col("p.y.vid")).as("id_a"),
        greatest(col("p.x.vid"), col("p.y.vid")).as("id_b"),
        Similarity.cosine(col("p.x.v"), col("p.y.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /**
   * The semantically deduplicated corpus: drops the HIGHER id of every
   * [[semanticNearDups]] pair (greedy lowest-id keeper, the
   * [[dropNearDuplicates]] convention). Pairs are cluster-local and
   * small; the prune is one broadcast-able anti join — the corpus is
   * never shuffled for it.
   */
  def dropSemanticDuplicates(
    df: DataFrame,
    vecCol: String,
    idCol: String,
    threshold: Double = 0.95,
    nCentroids: Int = 16,
    kmeansIters: Int = 2,
    maxCluster: Option[Int] = DefaultMaxBucket
  ): DataFrame = {
    val losers =
      semanticNearDups(df, vecCol, idCol, threshold, nCentroids, kmeansIters, maxCluster)
        .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  // ------------------------------------------ incremental (indexed) dedup
  //
  // The corpus-growth shape: a new drop (crawl batch, dataset delivery)
  // must be deduplicated against an EXISTING corpus without re-scanning
  // that corpus's text. The index is a compact parquet artifact derived
  // once per corpus — 32-char fingerprints for exact, (doc_id, signature)
  // MinHash rows for near-dup — and each subsequent batch pays only
  // batch-sized compute plus one streaming pass over the index. At 100 TB
  // this is the difference between a per-drop cost proportional to the
  // DROP and one proportional to the whole corpus.

  /**
   * The exact-dedup index of a corpus: distinct fingerprints (md5 hex of
   * normalized text). Write to parquet once; [[dropExactDuplicatesAgainst]]
   * dedupes any future batch against it. One scan + one distinct shuffle
   * of 32-char strings; the index is |distinct docs| × 32 chars — ~3 GB
   * per 100M distinct documents, a small fraction of corpus size.
   */
  def exactFingerprintIndex(
    df: DataFrame, textCol: String,
    tokenizer: String = TextAnalysis.WhitespaceTokenizer
  ): DataFrame =
    df.select(md5(Hashing.normalizedTextFor(col(textCol), tokenizer))
      .as("fingerprint")).distinct()

  /** [[exactFingerprintIndex]] KEYED by document id — one row per doc,
    * not per distinct fingerprint. The id makes the artifact
    * replay-safe for streaming growers ([[graft.plans.CurationPipeline
    * .streamingSink]] anti-joins a retried micro-batch's own prior
    * append away by id, which a bare fingerprint set cannot express)
    * and forgettable by id ([[Forget.removeIds]]) where the counted
    * index ([[exactFingerprintIndexCounted]]) forgets by content.
    * `.select("fingerprint").distinct()` recovers the plain index;
    * [[dropExactDuplicatesAgainst]] accepts it as-is (the anti-join
    * tolerates duplicate fingerprints). */
  def exactFingerprintIndexKeyed(
    df: DataFrame, textCol: String, idCol: String,
    tokenizer: String = TextAnalysis.WhitespaceTokenizer
  ): DataFrame =
    df.select(
        md5(Hashing.normalizedTextFor(col(textCol), tokenizer)).as("fingerprint"),
        col(idCol).cast("long").as("doc_id"))
      .filter(col("fingerprint").isNotNull)

  /**
   * The COUNTED exact-dedup index: (fingerprint, n_docs) — how many
   * corpus documents share each fingerprint. `.select("fingerprint")`
   * is exactly [[exactFingerprintIndex]]; the count is what makes
   * DELETION propagation possible ([[Forget.forgetFingerprints]]): a
   * fingerprint set cannot tell "remove this doc's fingerprint" from
   * "a kept duplicate still needs it". Same one-agg scale shape as the
   * plain index (map-side combined groupBy instead of distinct), 8
   * extra bytes per row.
   */
  def exactFingerprintIndexCounted(
    df: DataFrame, textCol: String,
    tokenizer: String = TextAnalysis.WhitespaceTokenizer
  ): DataFrame =
    df.select(md5(Hashing.normalizedTextFor(col(textCol), tokenizer))
        .as("fingerprint"))
      .groupBy("fingerprint").agg(count(lit(1)).as("n_docs"))

  /**
   * Batch rows whose normalized text does NOT already appear in `index`
   * (an [[exactFingerprintIndex]] frame), original columns intact.
   * Within-batch duplicates are deliberately untouched — compose with
   * [[dropExactDuplicates]] for those; this operator answers only "is it
   * already in the corpus".
   *
   * Scale shape: one left-anti hash join on the fingerprint. The batch
   * (small side) is typically broadcast by AQE; either way the index
   * streams — no index shuffle when the batch broadcasts, one fingerprint
   * shuffle of both sides when it does not. NULL-text batch rows have a
   * NULL key, match nothing, and are KEPT (anti-join semantics — same as
   * the NOT EXISTS oracle spelling).
   *
   * Also works UNCHANGED on a streaming `batch` frame: a stream-static
   * left-anti join is stateless (the static index is the build side), so
   * a live ingest can drop already-in-corpus documents with no watermark
   * and no state store — within-stream duplicates remain
   * [[graft.streaming.Events.dedupStream]]'s job (DedupSpec drives both
   * arms).
   */
  def dropExactDuplicatesAgainst(
    batch: DataFrame,
    index: DataFrame,
    textCol: String,
    tokenizer: String = TextAnalysis.WhitespaceTokenizer
  ): DataFrame =
    batch.join(
      index,
      md5(Hashing.normalizedTextFor(col(textCol), tokenizer)) === index("fingerprint"),
      "left_anti")

  /**
   * Near-duplicate pairs between a new batch and a PERSISTED signature
   * index ([[minHashSignatures]] output written to parquet): banded-LSH
   * candidates between the two sides, verified by MinHash signature
   * agreement. Returns (batch_id, index_id, est_jaccard) for pairs whose
   * estimated Jaccard — the fraction of agreeing signature positions, the
   * standard estimator when the indexed corpus's text is no longer on
   * hand — meets the threshold. With numHashes=16 the estimate moves in
   * exact 1/16 steps, so thresholds are float-drift-free.
   *
   * Scale shape: the index is banded with ONE generate and filtered by
   * a broadcast SEMI join against the batch's distinct band keys (a
   * drop is much smaller than the corpus it joins), so the INDEX IS
   * NEVER SHUFFLED beyond the matched (candidate-sized) rows. A
   * corpus-sized batch runs under [[graft.GraftSession]]'s corpus-sized
   * escape: the hints are dropped and AQE sizes the joins at runtime.
   * Each side is then grouped and capped INDEPENDENTLY
   * BEFORE the cross-side bucket join — the semi join emits each
   * matched index row once, so a boilerplate band key shared by I index
   * docs and B batch docs costs O(I + B) rows into aggregation, never
   * the I×B join explosion a join-then-group spelling would pay before
   * its cap could drop the bucket. The capped arrays join 1:1 per
   * (band, key) and only then explode to pairs — bounded by cap² per
   * bucket. Caps carry observed drop metrics per side.
   *
   * Signatures RIDE THE BAND ROWS (the [[simHashNearDupsAgainstIndex]]
   * convention), so the verify needs NO join back to either signature
   * table — each side's MinHash computation appears exactly once in the
   * plan. This matters because Spark re-evaluates a computed frame per
   * plan reference: a join-back spelling pays the index derivation
   * twice (a second parquet scan for a persisted index, a full
   * shingling+hashing recompute for an inline one) and the batch's
   * shingling twice on the hot path — measured 1.0-exponent linear
   * scaling in the 10× index trend before this was flattened. The semi
   * probe likewise derives from the GROUPED batch buckets, so
   * ReuseExchange shares the single batch shuffle between the probe
   * and the bucket join rather than re-evaluating the batch.
   */
  def nearDuplicatesAgainstIndex(
    batch: DataFrame,
    indexSignatures: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 3,
    numHashes: Int = 16,
    bands: Int = 4,
    threshold: Double = 0.8,
    maxBucket: Option[Int] = DefaultMaxBucket,
    tokenizer: String = TextAnalysis.WhitespaceTokenizer
  ): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    val rows = numHashes / bands
    // band rows with the signature riding along — one evaluation per
    // side for banding AND verify (see the scale-shape doc above)
    def sigBands(sigs: DataFrame, idAs: String, sigAs: String): DataFrame =
      sigs.select(
        col("doc_id").as(idAs),
        col("signature").as(sigAs),
        explode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b => struct(
              b.as("band"),
              concat_ws(",",
                transform(slice(col("signature"), b * rows + 1, lit(rows)),
                  v => v.cast("string"))).as("band_key"))))
          .as("bk"))
        .select(col(idAs), col(sigAs),
          col("bk.band").as("band"), col("bk.band_key").as("band_key"))
    // the batch side caps BEFORE its buckets materialize or broadcast
    // (two-pass capRows discipline): an over-cap batch bucket would have
    // produced zero surviving output either way, so dropping it here is
    // result-identical to the old post-join spelling — and its array is
    // never built, never shipped
    val batchBuckets = cappedCollect(
      sigBands(
        minHashSignatures(batch, textCol, idCol, k, numHashes, tokenizer),
        "batch_id", "__sig_b"),
      Seq("band", "band_key"),
      struct(col("batch_id"), col("__sig_b")), "batch_items",
      useSet = true, maxBucket, "incr_lsh_batch")
    // the semi probe derives from the SAME aggregation, so the batch's
    // bucket shuffle feeds both the probe and the bucket join
    val probe = batchBuckets.select("band", "band_key")
    // matched index rows: semi join against the batch's band keys —
    // each index row emitted AT MOST ONCE (candidate-sized, no
    // cross-side row explosion), then grouped and capped on its own
    val matchedIdx = sigBands(indexSignatures, "index_id", "__sig_i")
      .join(broadcast(probe), Seq("band", "band_key"), "left_semi")
    val idxBuckets = cappedCollect(matchedIdx, Seq("band", "band_key"),
      struct(col("index_id"), col("__sig_i")), "idx_items",
      useSet = true, maxBucket, "incr_lsh_idx")
    // capped-array-to-array join is 1:1 per (band, key) — both sides
    // already capped at their own group stage
    val capped = idxBuckets.join(broadcast(batchBuckets), Seq("band", "band_key"))
    val agree = zip_with(col("i.__sig_i"), col("b.__sig_b"),
      (x, y) => when(x === y, 1).otherwise(0))
    capped
      .select(explode(col("idx_items")).as("i"), col("batch_items"))
      .select(col("i"), explode(col("batch_items")).as("b"))
      .select(
        col("b.batch_id").as("batch_id"),
        col("i.index_id").as("index_id"),
        (aggregate(agree, lit(0), (acc, v) => acc + v).cast("double") / numHashes)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      // a pair sharing several bands verified identically in each — one row
      .distinct()
  }

  /**
   * SimHash near-dup pairs between a new batch's simhash table and a
   * PERSISTED one ([[simHashes]] output — at 8 bytes/doc the most compact
   * near-dup index this engine persists): 15-bit pigeonhole bands on both
   * sides, exact Hamming verify via bit_count(xor) on cross-side bucket
   * pairs only. Returns (batch_id, index_id, hamming) for pairs within
   * `maxHamming`. A pair sharing several bands is emitted once
   * ([[simHashNearDups]]'s distinct convention).
   *
   * Scale shape: the [[nearDuplicatesAgainstIndex]] pattern — index
   * banded in one generate and semi-joined against the BROADCAST batch
   * band keys (never shuffled beyond matched rows; corpus-sized
   * batches: [[graft.GraftSession]]'s corpus-sized escape), each side grouped and capped
   * independently BEFORE the cross-side join (O(I + B) rows per bucket,
   * never I×B), with two-sided observed caps. The hashes ride the band
   * rows, so the verify needs no join back to either corpus.
   */
  def simHashNearDupsAgainstIndex(
    batchSimhashes: DataFrame,
    indexSimhashes: DataFrame,
    maxHamming: Int = 3,
    bands: Int = 4,
    maxBucket: Option[Int] = DefaultMaxBucket
  ): DataFrame =
    // 60-bit simhashes are non-negative, so the generic arm's masked
    // band keys coincide with the historical mod spelling
    hammingNearDupsAgainstIndex(batchSimhashes, indexSimhashes,
      "doc_id", "simhash", 60, maxHamming, bands, maxBucket,
      metricPrefix = "incr_simhash")

  /**
   * Batch rows whose SimHash lands within `maxHamming` of the indexed
   * corpus ([[simHashes]] output persisted to parquet) anti-joined away,
   * original columns intact — the SimHash arm of the drop-vs-index
   * family ([[dropExactDuplicatesAgainst]] / [[dropNearDuplicatesAgainst]]
   * conventions: matched-id set is candidate-bounded, the batch is
   * scanned, never shuffled).
   */
  def dropSimHashDuplicatesAgainst(
    batch: DataFrame,
    indexSimhashes: DataFrame,
    textCol: String,
    idCol: String,
    maxHamming: Int = 3,
    bands: Int = 4,
    maxBucket: Option[Int] = DefaultMaxBucket,
    tokenizer: String = TextAnalysis.WhitespaceTokenizer
  ): DataFrame = {
    val matched = simHashNearDupsAgainstIndex(
      simHashes(batch.select(col(idCol).as("doc_id"), col(textCol)), textCol, "doc_id",
        tokenizer),
      indexSimhashes, maxHamming, bands, maxBucket)
      .select(col("batch_id").as(idCol)).distinct()
    batch.join(matched, Seq(idCol), "left_anti")
  }

  /**
   * Embedding near-duplicate pairs between a new batch and a PERSISTED
   * embedding table (the prior corpus's (id, vector) parquet — e.g. the
   * same artifact an IVF index was built from): hyperplane-LSH buckets
   * on both sides, exact cosine verify ≥ threshold on cross-side bucket
   * pairs. Returns (batch_id, index_id, cosine) — the embedding arm of
   * the incremental family ([[nearDuplicatesAgainstIndex]]'s shape, with
   * the vectors riding the bucket rows so the verify needs no second
   * join against either corpus).
   *
   * Scale shape: identical to the MinHash incremental — the index is
   * bucketed in one projection and semi-joined against the BROADCAST batch bucket keys, so the index
   * is never shuffled beyond the matched rows; each side groups and
   * caps independently BEFORE the cross-side bucket join (O(I + B)
   * rows per bucket, never I×B), then pair explosion + cosine verify.
   */
  def embeddingNearDupAgainstIndex(
    batch: DataFrame,
    index: DataFrame,
    vecCol: String,
    idCol: String,
    planes: Int = 16,
    threshold: Double = 0.9,
    maxBucket: Option[Int] = DefaultMaxBucket
  ): DataFrame = {
    def bucketed(df: DataFrame, as: String, vAs: String) = df.select(
      col(idCol).as(as), col(vecCol).as(vAs),
      graft.functions.HyperplaneBucketExpr(col(vecCol), planes).as("bucket"))
    val idxB = bucketed(index, "index_id", "__vi")
    val batchB = bucketed(batch, "batch_id", "__vb")
    // per-side group + cap BEFORE the cross-side join (see
    // nearDuplicatesAgainstIndex — O(I + B) rows per bucket, not I×B)
    val matchedIdx = idxB.join(
      broadcast(batchB.select("bucket").distinct()), Seq("bucket"), "left_semi")
    val idxBuckets = cappedCollect(matchedIdx, Seq("bucket"),
      struct(col("index_id"), col("__vi")), "idx_items",
      useSet = true, maxBucket, "incr_hyperplane_idx")
    // batch side capped BEFORE its buckets materialize (two-pass capRows
    // discipline; result-identical to the old post-join cap — an over-cap
    // batch bucket never produced surviving output)
    val batchBuckets = cappedCollect(batchB, Seq("bucket"),
      struct(col("batch_id"), col("__vb")), "batch_items",
      useSet = true, maxBucket, "incr_hyperplane_batch")
    idxBuckets.join(broadcast(batchBuckets), Seq("bucket"))
      .select(explode(col("idx_items")).as("i"), col("batch_items"))
      .select(col("i"), explode(col("batch_items")).as("b"))
      .select(
        col("b.batch_id").as("batch_id"),
        col("i.index_id").as("index_id"),
        Similarity.cosine(col("b.__vb"), col("i.__vi")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /**
   * Batch rows whose embedding does NOT near-duplicate the indexed
   * corpus — [[embeddingNearDupAgainstIndex]] matches anti-joined away,
   * original columns intact (candidate-bounded matched-id set; the
   * batch is scanned, never shuffled).
   */
  def dropEmbeddingDuplicatesAgainst(
    batch: DataFrame,
    index: DataFrame,
    vecCol: String,
    idCol: String,
    planes: Int = 16,
    threshold: Double = 0.9,
    maxBucket: Option[Int] = DefaultMaxBucket
  ): DataFrame = {
    val matched = embeddingNearDupAgainstIndex(
      batch, index, vecCol, idCol, planes, threshold, maxBucket)
      .select(col("batch_id").as(idCol)).distinct()
    batch.join(matched, Seq(idCol), "left_anti")
  }

  /**
   * Batch rows that do NOT near-duplicate the indexed corpus: the
   * [[nearDuplicatesAgainstIndex]] matches anti-joined away, original
   * columns intact. The matched-id set is candidate-bounded (small);
   * the anti join broadcasts it in practice, so the batch is scanned,
   * never shuffled.
   */
  def dropNearDuplicatesAgainst(
    batch: DataFrame,
    indexSignatures: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 3,
    numHashes: Int = 16,
    bands: Int = 4,
    threshold: Double = 0.8,
    maxBucket: Option[Int] = DefaultMaxBucket,
    tokenizer: String = TextAnalysis.WhitespaceTokenizer
  ): DataFrame = {
    val matched = nearDuplicatesAgainstIndex(
      batch, indexSignatures, textCol, idCol,
      k, numHashes, bands, threshold, maxBucket, tokenizer)
      .select(col("batch_id").as(idCol)).distinct()
    batch.join(matched, Seq(idCol), "left_anti")
  }

  // --------------------------------------- streaming near-dup (stateless)
  //
  // [[nearDuplicatesAgainstIndex]] regroups candidate buckets
  // (groupBy + collect_set), which a streaming query cannot run without
  // state. The streaming arm splits the work differently: everything
  // bucket-shaped — banding the index, capping oversized buckets —
  // happens ONCE at index-build time (batch), leaving the per-document
  // matching side a pure projection + generate + stream-static equi-join:
  // no state store, no watermark, no aggregation anywhere in the
  // streaming plan.

  /** One band row per (band, band_key) with the signature riding — the
    * shared projection of [[nearDupStreamIndex]] (index side, built in
    * batch) and [[nearDupMatchesAgainstIndex]] (match side, possibly
    * streaming). Key format is [[bandTable]]'s, so the two artifacts
    * inter-operate with the rest of the MinHash family. */
  private def bandRowsWithSig(
    signatures: DataFrame,
    idAs: String,
    sigAs: String,
    numHashes: Int,
    bands: Int
  ): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    val rows = numHashes / bands
    signatures.select(
      col("doc_id").as(idAs),
      col("signature").as(sigAs),
      explode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => struct(
            b.as("band"),
            concat_ws(",",
              transform(slice(col("signature"), b * rows + 1, lit(rows)),
                v => v.cast("string"))).as("band_key"))))
        .as("bk"))
      .select(col(idAs), col(sigAs),
        col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /**
   * The stream-joinable near-dup index: the corpus signature table
   * banded into FLAT rows (band, band_key, index_id, index_signature),
   * with oversized buckets dropped STATICALLY at build time — a
   * streaming matcher cannot regroup candidates, so the
   * [[nearDuplicatesAgainstIndex]] bucket cap must live in the artifact
   * itself. Build once per corpus, write to parquet; every future batch
   * OR STREAM matches against it via [[nearDupMatchesAgainstIndex]]
   * with zero index-side recompute.
   *
   * Scale shape: one groupBy shuffle of the (small) signature band
   * table at build time, amortized over every subsequent drop. The cap
   * uses the observed-metric convention (graft.stream_lsh_idx.bucket_cap)
   * so boilerplate-shingle buckets are dropped with counts, not
   * silently. For high-rate streams, persist the artifact bucketed on
   * band_key ([[graft.sources.Bucketing.writeBucketed]]) so each
   * micro-batch's join probes co-located index partitions instead of
   * re-exchanging the index.
   */
  def nearDupStreamIndex(
    indexSignatures: DataFrame,
    numHashes: Int = 16,
    bands: Int = 4,
    maxBucket: Option[Int] = DefaultMaxBucket
  ): DataFrame = {
    val banded =
      bandRowsWithSig(indexSignatures, "index_id", "index_signature", numHashes, bands)
    cappedCollect(banded, Seq("band", "band_key"),
        struct(col("index_id"), col("index_signature")), "items",
        useSet = true, maxBucket, "stream_lsh_idx")
      .select(col("band"), col("band_key"), explode(col("items")).as("i"))
      .select(
        col("band"), col("band_key"),
        col("i.index_id").as("index_id"),
        col("i.index_signature").as("index_signature"))
  }

  /**
   * Near-dup matches of `docs` against a [[nearDupStreamIndex]]
   * artifact — STATELESS, so it runs unchanged on a batch frame or a
   * STREAMING one (readStream → this → writeStream, append mode, no
   * watermark): the doc side is signature projection + band generate,
   * the join is a stream-static equi-join on (band, band_key), and the
   * signature-agreement verify is a row-local filter. Returns
   * (batch_id, index_id, est_jaccard) with one row per AGREEING BAND —
   * `.distinct()` collapses it in batch (est_jaccard is
   * pair-determined); streams collapse downstream (streaming dedup, or
   * exact per-micro-batch semantics via foreachBatch — see
   * StreamingSpec), keeping this operator state-free.
   *
   * Scale shape: per micro-batch the moving side is drop-sized; the
   * index side is a static parquet scan, ideally bucketed on band_key
   * so the probe is exchange-free. Bucket skew is already capped inside
   * the artifact, so a boilerplate band key cannot fan one stream row
   * out quadratically.
   */
  def nearDupMatchesAgainstIndex(
    docs: DataFrame,
    streamIndex: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 3,
    numHashes: Int = 16,
    bands: Int = 4,
    threshold: Double = 0.8
  ): DataFrame = {
    val sigs = minHashSignatures(docs, textCol, idCol, k, numHashes)
    val docBands = bandRowsWithSig(sigs, "batch_id", "__sig_b", numHashes, bands)
    val agree = zip_with(col("index_signature"), col("__sig_b"),
      (x, y) => when(x === y, 1).otherwise(0))
    docBands.join(streamIndex, Seq("band", "band_key"))
      .withColumn("est_jaccard",
        aggregate(agree, lit(0), (acc, v) => acc + v).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select("batch_id", "index_id", "est_jaccard")
  }
}
