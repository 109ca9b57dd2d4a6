package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * EXACT set-similarity self-join (Jaccard >= threshold) via prefix
 * filtering — the AllPairs/PPJoin family (Bayardo et al., WWW 2007;
 * Xiao et al., WWW 2008 — public algorithms).
 *
 * Complements the MinHash-LSH chain (SURVEY.md §2 row 27,
 * [[Dedup.nearDuplicates]]): LSH is probabilistic (recall < 1, tuned by
 * bands×rows), this join is exact — every qualifying pair is returned
 * with its true Jaccard, no false negatives. The cost model differs
 * too: LSH pays numHashes per document and banding collisions; the
 * prefix filter pays one token-frequency aggregation plus an equi-join
 * on RARE tokens only.
 *
 * Why it scales (the 100 TB argument):
 *  - A pair can qualify only if the two sets share a token inside
 *    their PREFIXES — the first `|s| - ceil(t·|s|) + 1` tokens when
 *    every set is ordered by ascending global document frequency
 *    (rarest first). Proof: jaccard(a,b) >= t implies
 *    |a∩b| >= t·|a∪b| >= ceil(t·|a|); if no prefix token of `a`
 *    is in `b`, at most `|a| - prefixLen = ceil(t·|a|) - 1` tokens
 *    can match — contradiction. So the candidate join runs only over
 *    prefix tokens, and the rare-first order puts exactly the LOW
 *    document-frequency tokens (small join buckets) in the prefixes;
 *    stopword-class tokens with huge df land at the suffix end and
 *    never generate candidates except for tiny sets.
 *  - The length filter `t·|a| <= |b| <= |a|/t` prunes candidates
 *    before verification (jaccard <= min/max of the sizes).
 *  - The PPJoin POSITION filter (Xiao et al. WWW'08 §3.2) prunes what
 *    the prefix filter admits: a matched prefix token at rank i of `a`
 *    and rank j of `b` (ranks ascending-df, globally consistent) bounds
 *    the overlap by `1 + min(|a|−i, |b|−j)` — the match itself plus
 *    whatever remains after it on the SHORTER remaining side. Jaccard
 *    >= t needs overlap >= t·(|a|+|b|)/(1+t), so a row whose bound
 *    falls short cannot witness a qualifying pair. Soundness of the
 *    per-row form (filter BEFORE pair-distinct): for a qualifying
 *    pair, its rarest common token w1 sits in BOTH prefixes (if w1
 *    were outside b's prefix, every common token would sit at b-rank
 *    > |b| − ceil(t·|b|), capping overlap at ceil(t·|b|) − 1 < t·|b|
 *    — not qualifying), and at w1's row the bound is exact-valid
 *    (no rarer common token exists), so that row always survives.
 *    This is what tames the degenerate fixed-vocabulary corpus where
 *    prefix buckets alone admit ~df² candidates: both-late prefix
 *    matches die in the join stage, before the distinct exchange and
 *    verification ever see them.
 *  - The candidate join is ASYMMETRIC (PPJoin's index/probe split):
 *    the size-smaller side of every pair needs only its INDEX prefix
 *    of `n − ceil(2t/(1+t)·n) + 1` tokens (overlap >= 2t/(1+t)·n_s
 *    once sizes are ordered), so one join side carries systematically
 *    shorter prefixes — candidate enumeration drops by the
 *    index/probe length ratio at zero recall cost (derivation at the
 *    join site).
 *  - Verification is an exact merge-count over the PRE-SORTED
 *    deduplicated token arrays ([[graft.functions
 *    .SortedIntersectCountExpr]] for long sets — zero allocation per
 *    candidate; generic element types fall back to array_intersect)
 *    — per candidate pair, no corpus re-scan. Sets sort ONCE at the
 *    corpus-sized build, never per pair.
 *  - Shuffles: one map-side-combined token-frequency agg, one
 *    token-keyed join to attach frequencies, one per-id window to
 *    rank tokens, one prefix equi-join, one distinct, two id-keyed
 *    verify joins. All keyed, no cartesian anywhere.
 *  - Residual hazard: a mid-frequency token shared by d prefixes
 *    yields O(d²) candidates. `maxTokenBucket` caps that token's
 *    prefix bucket with the loud observed-metric discipline of
 *    [[Dedup]]'s LSH cap (`graft.setsim.bucket_cap#n` — recall-for-
 *    boundedness, never silent; None disables).
 */
object SetSim {


  /** Default prefix-token bucket cap — same rationale as
    * [[Dedup.DefaultMaxBucket]]: bounds the worst single task. */
  val DefaultMaxTokenBucket: Option[Int] = Some(4096)

  /**
   * Exact Jaccard self-join over a precomputed token-set column.
   *
   * @param df        input; `idCol` must be unique per row
   * @param setCol    array column; duplicates inside an array are
   *                  collapsed (set semantics), null/empty sets drop out
   * @param idCol     unique orderable id
   * @param threshold Jaccard threshold in (0, 1]
   * @param maxTokenBucket cap on one prefix token's bucket (see scaladoc)
   * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold
   */
  def setSimilarityJoin(
    df: DataFrame,
    setCol: String,
    idCol: String,
    threshold: Double,
    maxTokenBucket: Option[Int] = DefaultMaxTokenBucket
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // sorted ONCE per document row so verification can merge-count
    // (corpus-sized sort, candidate-sized gain)
    val sets = df.select(
        col(idCol).as("__id"),
        sort_array(array_distinct(col(setCol))).as("__set"))
      .filter(col("__set").isNotNull && size(col("__set")) > 0)

    // global token document frequencies — ONE map-side-combined agg
    val tokenDf = sets
      .select(explode(col("__set")).as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__df"))

    // per-document tokens ranked rarest-first ((df, token) is a total
    // order, so no global rank — and no single-partition stage — needed)
    val byRarity = Window.partitionBy("__id")
      .orderBy(col("__df").asc, col("__tok").asc)
    val prefix = sets
      .select(col("__id"), size(col("__set")).as("__n"),
        explode(col("__set")).as("__tok"))
      .join(tokenDf, "__tok")
      .withColumn("__pos", row_number().over(byRarity))
      .filter(col("__pos") <=
        col("__n") - ceil(col("__n") * threshold - lit(1e-9)) + 1)
      .select("__tok", "__id", "__n", "__pos")

    // two-pass cap (Dedup.capRows): count per token with map-side partial
    // agg, anti-join over-cap tokens away — the prefix rows never collect
    // into a per-token array at all (the old spelling materialized one
    // only to re-explode it; a boilerplate token's bucket OOMed the
    // aggregation buffer before the cap could drop it)
    val capped = Dedup.capRows(prefix, Seq("__tok"),
      maxTokenBucket, "setsim", "maxTokenBucket")

    // candidate pairs: ASYMMETRIC prefix-token equi-join (PPJoin's
    // index/probe split) + length filter + the position filter. The
    // "small" side keeps only its INDEX prefix — the first
    // n − ceil(2t/(1+t)·n) + 1 tokens — and pairs with the size-larger
    // "large" side's full probe prefix, (size, id) lexicographic as
    // the tie-break. Soundness (Xiao WWW'08 §3.1, re-derived in the
    // scaladoc): for a qualifying pair with ns <= nl, the overlap o
    // >= t(ns+nl)/(1+t) >= 2t/(1+t)·ns, and the globally-rarest common
    // token sits at rank <= n − o + 1 in EACH side's df-ascending
    // order — inside the small side's index prefix AND (o >= t·nl,
    // using ns >= t·nl) inside the large side's probe prefix, so that
    // token's joined row always survives. Halving only the indexed
    // side's prefix cuts candidate enumeration by the index/probe
    // length ratio at ZERO recall cost. The 1e-9 slack keeps a
    // float-rounded-up alpha from pruning an exactly-at-threshold
    // integer bound.
    val indexPrefix = 2.0 * threshold / (1.0 + threshold)
    val small = capped
      .filter(col("__pos") <=
        col("__n") - ceil(col("__n") * indexPrefix - lit(1e-9)) + 1)
      .select(col("__tok"), col("__id").as("__ids"),
        col("__n").as("__ns"), col("__pos").as("__ps"))
    val large = capped.select(col("__tok"), col("__id").as("__idl"),
      col("__n").as("__nl"), col("__pos").as("__pl"))
    val alpha = (col("__ns") + col("__nl")).cast("double") *
      (threshold / (1.0 + threshold)) - lit(1e-9)
    val posBound = lit(1) +
      least(col("__ns") - col("__ps"), col("__nl") - col("__pl"))
    val cands = small.join(large, Seq("__tok"))
      .filter(
        (col("__ns") < col("__nl") ||
          (col("__ns") === col("__nl") && col("__ids") < col("__idl"))) &&
        col("__ns") >= col("__nl") * threshold &&
        posBound.cast("double") >= alpha)
      .select(
        least(col("__ids"), col("__idl")).as("id_a"),
        greatest(col("__ids"), col("__idl")).as("id_b"))
      .distinct()

    // exact verification on the candidate pairs only — the native
    // merge-count over the pre-sorted long sets when the element type
    // allows it (zero allocation per pair; generic array_intersect
    // builds a hash set and an output array per CANDIDATE, measured
    // 94% of this join's runtime on the sf1 degenerate-corpus probe)
    cands
      .join(sets.select(col("__id").as("id_a"), col("__set").as("__sa")), "id_a")
      .join(sets.select(col("__id").as("id_b"), col("__set").as("__sb")), "id_b")
      .withColumn("__ov", intersectCount(df, setCol, col("__sa"), col("__sb")))
      .withColumn("jaccard", col("__ov").cast("double") /
        (size(col("__sa")) + size(col("__sb")) - col("__ov")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Overlap size of two distinct-element set columns: the native
    * sorted-merge count for long sets (the hashed-shingle hot path —
    * set columns in this file are always `sort_array`ed at their
    * corpus-sized build site), generic `array_intersect` for any
    * other element type. */
  private def intersectCount(
    df: DataFrame, setCol: String, a: Column, b: Column): Column =
    df.schema(setCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) =>
        graft.functions.SortedIntersectCountExpr(a, b)
      case _ => size(array_intersect(a, b))
    }

  /**
   * Text arm: exact near-duplicate pairs over k-word shingle sets —
   * the same shingling as the MinHash chain, evaluated over the 60-bit
   * HASHED shingles ([[Dedup.hashedShingleTable]], the
   * jaccardVerifyHashed precedent): Jaccard over distinct hashed
   * shingles equals Jaccard over distinct shingle strings up to a
   * ~2⁻⁶⁰-per-pair collision — and the hashed table's generator child
   * is the cheap native ShingleHashExpr, which matters because
   * Catalyst's InferFiltersFromGenerate INLINES the generator child
   * into a pushed-down `size(..) > 0` filter evaluated per input row:
   * with the string-shingle HOF spelling that filter re-derives
   * normalize+split per lambda element — O(words·shingles) regex per
   * document, measured 11 s on a 440-doc fixture; the hashed spelling
   * is O(words) per evaluation and sub-second. A pipeline can run LSH
   * at crawl scale and this exact join on the suspicious partition
   * with identical similarity semantics.
   */
  def setSimilarityPairs(
    df: DataFrame,
    textCol: String,
    idCol: String,
    threshold: Double,
    k: Int = 3,
    maxTokenBucket: Option[Int] = DefaultMaxTokenBucket
  ): DataFrame =
    setSimilarityJoin(
      Dedup.hashedShingleTable(df, textCol, idCol, k)
        .withColumnRenamed("doc_id", idCol)
        .withColumnRenamed("hs", "__shingles"),
      "__shingles", idCol, threshold, maxTokenBucket)

  // ------------------------------------------------- cross-corpus (R-S)

  /**
   * The persisted exact-Jaccard index of a corpus: one row per PREFIX
   * token of each document — `(tok, id, n, pos, set)` with the full
   * distinct token set riding the prefix rows (the [[Dedup
   * .nearDuplicatesAgainstIndex]] signature-rides-the-band-rows
   * convention: verification against the index needs NO join back to a
   * corpus that may no longer be on hand, and the index derivation
   * appears exactly once in any probe plan). Write to parquet once;
   * [[setSimilarityJoinAgainst]] finds every qualifying pair between
   * any future batch and the corpus.
   *
   * Size: ~`(1−t)·|set|` rows per document, each carrying the |set|
   * array — a `(1−t)·|set|` multiplier over the raw set table. At
   * t = 0.8 and 100-token shingle sets that is ~21× the set bytes;
   * the index is the price of EXACT cross-corpus recall (the LSH
   * index at 16 hashes is far smaller but probabilistic — row 79's
   * trade, documented there).
   *
   * The index is valid for any probe threshold >= the build threshold
   * (prefix length shrinks as t grows, so the persisted prefixes are a
   * superset of what a stricter probe needs); probing BELOW the build
   * threshold would lose pairs and [[setSimilarityJoinAgainst]] rejects
   * it loudly via the persisted `t` column on every row.
   */
  def setSimPrefixIndex(
    df: DataFrame,
    setCol: String,
    idCol: String,
    threshold: Double
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // sorted ONCE per document row so verification can merge-count
    // (corpus-sized sort, candidate-sized gain)
    val sets = df.select(
        col(idCol).as("__id"),
        sort_array(array_distinct(col(setCol))).as("__set"))
      .filter(col("__set").isNotNull && size(col("__set")) > 0)
    val tokenDf = sets
      .select(explode(col("__set")).as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__df"))
    val byRarity = Window.partitionBy("__id")
      .orderBy(col("__df").asc, col("__tok").asc)
    sets
      .select(col("__id"), col("__set"), size(col("__set")).as("__n"),
        explode(col("__set")).as("__tok"))
      .join(tokenDf, "__tok")
      .withColumn("__pos", row_number().over(byRarity))
      .filter(col("__pos") <=
        col("__n") - ceil(col("__n") * threshold - lit(1e-9)) + 1)
      .select(col("__tok").as("tok"), col("__id").as("id"), col("__n").as("n"),
        col("__pos").as("pos"), col("__set").as("set"), lit(threshold).as("t"))
  }

  /**
   * Exact Jaccard join between a new batch and a PERSISTED
   * [[setSimPrefixIndex]] — the cross-corpus (R-S) arm of the exact
   * family, completing the row-79 incremental pattern the LSH chain
   * already has: a daily drop asks "which corpus documents is each new
   * document similar to" without rescanning or re-shuffling the corpus.
   * Returns (batch_id, index_id, jaccard) for every pair with
   * jaccard >= threshold — EXACT, no false negatives.
   *
   * The filter scheme is UNILATERAL: only the index side carries
   * prefixes; the batch probes with ALL its tokens. Completeness needs
   * only the indexed side's prefix (for a qualifying pair (a, b), if no
   * common token sat in b's prefix, every common token would sit at
   * b-rank > |b| − ceil(t·|b|), capping the overlap at ceil(t·|b|) − 1
   * < t·|b| — not qualifying), so the batch needs NO document-frequency
   * ordering at all — no dependence on the corpus vocabulary table, and
   * a batch token the corpus has never seen simply matches nothing.
   * The index-side POSITION bound (1 + n − pos >= t·(n + |batch set|)
   * / (1 + t)) prunes per-row with the same rarest-common-token
   * soundness argument as [[setSimilarityJoin]]'s two-sided filter.
   *
   * Scale shape (the [[Dedup.nearDuplicatesAgainstIndex]] doctrine):
   * the index is semi-joined against the BROADCAST batch token set —
   * matched (candidate-sized) rows only, the index is never shuffled
   * beyond them — then each side is grouped and capped INDEPENDENTLY
   * before the 1:1-per-token bucket join (O(I + B) rows into
   * aggregation, never I×B); a corpus-sized batch runs under
   * [[graft.GraftSession]]'s corpus-sized escape. Verification
   * intersects the batch set (one broadcast join back to the small
   * batch) with the set RIDING the matched index rows — the corpus
   * text/sets are never touched.
   */
  def setSimilarityJoinAgainst(
    batch: DataFrame,
    index: DataFrame,
    setCol: String,
    idCol: String,
    threshold: Double,
    maxTokenBucket: Option[Int] = DefaultMaxTokenBucket
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // sorted ONCE per batch row so verification can merge-count
    val bsets = batch.select(
        col(idCol).as("batch_id"),
        sort_array(array_distinct(col(setCol))).as("__bset"))
      .filter(col("__bset").isNotNull && size(col("__bset")) > 0)
    // loud build-threshold guard: probing below the build threshold
    // would silently lose pairs (shorter persisted prefixes than the
    // probe needs) — fail the query instead, at plan-execution time
    val guardedIndex = index.filter(
      when(col("t") <= lit(threshold) + lit(1e-12), lit(true))
        .otherwise(raise_error(concat(
          lit("setSimilarityJoinAgainst: index built at t="), col("t").cast("string"),
          lit(s" cannot serve threshold=$threshold < build threshold")))))
    // batch side capped BEFORE its buckets materialize or broadcast
    // (two-pass Dedup.capRows discipline; result-identical to the old
    // post-join cap — an over-cap batch bucket never produced output)
    val batchBuckets = Dedup.cappedCollect(
      bsets.select(col("batch_id"), size(col("__bset")).as("__bn"),
        explode(col("__bset")).as("tok")),
      Seq("tok"), struct(col("batch_id"), col("__bn")), "batch_items",
      useSet = true, maxTokenBucket, "setsim_incr_batch", "maxTokenBucket")
    // the semi probe derives from the SAME aggregation, so the batch's
    // bucket shuffle feeds both the probe and the bucket join
    val probe = batchBuckets.select("tok")
    // re-sort defensively at MATCHED-row size (an index persisted by a
    // pre-merge-verify build may carry unsorted sets; sorting sorted
    // input is cheap and this is candidate-bounded, not corpus work)
    val matchedIdx = guardedIndex.join(broadcast(probe), Seq("tok"), "left_semi")
      .withColumn("set", sort_array(col("set")))
    val idxBuckets = Dedup.cappedCollect(matchedIdx, Seq("tok"),
      struct(col("id"), col("n"), col("pos"), col("set")), "idx_items",
      useSet = false, maxTokenBucket, "setsim_incr_idx", "maxTokenBucket")
    val capped = idxBuckets.join(broadcast(batchBuckets), Seq("tok"))
    val alpha = (col("i.n") + col("b.__bn")).cast("double") *
      (threshold / (1.0 + threshold)) - lit(1e-9)
    val pairs = capped
      .select(explode(col("idx_items")).as("i"), col("batch_items"))
      .select(col("i"), explode(col("batch_items")).as("b"))
      .filter(
        col("i.n") >= col("b.__bn") * threshold &&
        col("b.__bn") >= col("i.n") * threshold &&
        (lit(1) + col("i.n") - col("i.pos")).cast("double") >= alpha)
      .select(col("b.batch_id").as("batch_id"), col("i.id").as("index_id"),
        col("i.n").as("__in"), col("b.__bn").as("__bn"), col("i.set").as("__iset"))
      // per-pair rows carry identical (n, bn, set) — any survivor works
      .dropDuplicates("batch_id", "index_id")
    pairs
      .join(broadcast(bsets), Seq("batch_id"))
      .withColumn("__ov", intersectCount(batch, setCol, col("__iset"), col("__bset")))
      .withColumn("jaccard", col("__ov").cast("double") /
        (col("__in") + col("__bn") - col("__ov")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("index_id"), col("jaccard"))
  }

  /** Text arm of [[setSimPrefixIndex]]: the index over k-word hashed
    * shingle sets ([[Dedup.hashedShingleTable]] — the same shingling as
    * the LSH chain and [[setSimilarityPairs]], so every similarity
    * family in this engine agrees on what "similar" means). */
  def setSimShingleIndex(
    df: DataFrame,
    textCol: String,
    idCol: String,
    threshold: Double,
    k: Int = 3
  ): DataFrame =
    setSimPrefixIndex(
      Dedup.hashedShingleTable(df, textCol, idCol, k)
        .withColumnRenamed("doc_id", idCol)
        .withColumnRenamed("hs", "__shingles"),
      "__shingles", idCol, threshold)

  /**
   * GROW a persisted [[setSimPrefixIndex]] by a corpus drop — a plain
   * row union, and that union is EXACT for the probe surface, in
   * writing: index rows are per-doc (tok, id, n, pos, set, t) with no
   * cross-doc statistic, and the prefix-filter completeness proof is
   * PER-DOC-ORDER-LOCAL — a doc's prefix is its first
   * `n − ceil(t·n) + 1` tokens under ANY total order of ITS tokens
   * (if no prefix token were common to a qualifying pair, every common
   * token would sit past that rank, capping the overlap below t·n),
   * and the probe-side position bound `1 + n − pos` is the count of
   * the doc's tokens at rank ≥ pos — valid under whatever order ranked
   * THAT doc. So the drop's prefixes, ranked by the DROP's OWN token
   * df, compose exactly with prefixes the original build ranked by the
   * OLD corpus df: [[setSimilarityJoinAgainst]] over the union returns
   * the same pairs and the same exact jaccards as over a full rebuild
   * (q_setsim_append pins it through the join surface). The df-rank
   * STALENESS cost is efficiency only — a token that was rare at build
   * time and is common now keeps fat prefix buckets fatter than a
   * rebuild would (the bucket cap still bounds them loudly); rebuild
   * when the drop volume has shifted the vocabulary enough to matter.
   *
   * The drop must be built at the INDEX's own threshold (a lower-t
   * drop would under-prefix old probes' completeness margin — the
   * per-row guard raises on any mismatch), and drop ids must be NEW
   * (per-doc rows: a re-added id would duplicate its rows and its
   * matches — the [[graft.operators.Retrieval.bm25SidecarAppend]]
   * fail-loud contract, woven into a cardinality FILTER so every
   * consumer evaluates it).
   */
  def setSimIndexAppend(
    index: DataFrame,
    drop: DataFrame,
    setCol: String,
    idCol: String,
    threshold: Double
  ): DataFrame = {
    val newRows = setSimPrefixIndex(drop, setCol, idCol, threshold)
    appendPerDocIndex(index, newRows, "id", "setSimIndexAppend",
      tGuard = Some(threshold))
  }

  /** Text arm of [[setSimIndexAppend]] (hashed k-word shingles). */
  def setSimShingleIndexAppend(
    index: DataFrame,
    drop: DataFrame,
    textCol: String,
    idCol: String,
    threshold: Double,
    k: Int = 3
  ): DataFrame =
    appendPerDocIndex(index,
      setSimShingleIndex(drop, textCol, idCol, threshold, k),
      "id", "setSimShingleIndexAppend", tGuard = Some(threshold))

  /**
   * GROW a persisted [[setContainmentIndex]] — the trivial case of the
   * [[setSimIndexAppend]] argument: containment postings are FULL
   * per-doc token rows (pos 0, t 0, no prefix, no statistic), so the
   * union IS the rebuild row-for-row. Same new-ids-only guard.
   */
  def setContainmentIndexAppend(
    index: DataFrame,
    drop: DataFrame,
    setCol: String,
    idCol: String
  ): DataFrame =
    appendPerDocIndex(index, setContainmentIndex(drop, setCol, idCol),
      "id", "setContainmentIndexAppend", tGuard = Some(0.0))

  /** Text arm of [[setContainmentIndexAppend]]. */
  def setContainmentShingleIndexAppend(
    index: DataFrame,
    drop: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 3
  ): DataFrame =
    appendPerDocIndex(index,
      setContainmentShingleIndex(drop, textCol, idCol, k),
      "id", "setContainmentShingleIndexAppend", tGuard = Some(0.0))

  /** Shared grow plumbing of the per-doc-row index family: verify the
    * build parameter riding the index rows (when `tGuard` is set),
    * fail loud on a drop id the index already holds, union the drop's
    * rows. Package-private — [[graft.operators.EditSim]] and the
    * winnow arm reuse it with their own parameter guards. */
  private[operators] def appendPerDocIndex(
    index: DataFrame,
    newRows: DataFrame,
    idName: String,
    what: String,
    tGuard: Option[Double]
  ): DataFrame = {
    val guarded = tGuard.fold(index) { t =>
      index.filter(
        when(abs(col("t") - lit(t)) <= lit(1e-9), lit(true))
          .otherwise(raise_error(concat(
            lit(s"$what: index built at t="), col("t").cast("string"),
            lit(s" cannot grow with a t=$t drop - one threshold per artifact; " +
              "rebuild to change it")))))
    }
    val dropIds = newRows.select(col(idName).as("__aid")).distinct()
    // collision fails loud through a FILTER predicate (cardinality-
    // deciding, so no consumer's column pruning can elide it); it
    // references both join sides, so it cannot be pushed below the join
    guarded
      .join(broadcast(dropIds), col(idName) === col("__aid"), "left")
      .filter(
        when(col("__aid").isNotNull,
          raise_error(concat(
            lit(s"$what: drop id already indexed: "),
            col(idName).cast("string"),
            lit(" - re-adding would duplicate its rows and its matches; " +
              "forget it first or dedup the drop")))
            .cast("boolean"))
          .otherwise(lit(true)))
      .drop("__aid")
      .unionByName(newRows)
  }

  /**
   * Cross-corpus set-CONTAINMENT join — the excerpt/quote detector the
   * symmetric Jaccard arms structurally miss: a 50-word excerpt of a
   * 5,000-word document has jaccard ≈ 0.01 (never reaches any
   * threshold) but containment |b ∩ a| / |b| ≈ 1. Returns
   * (batch_id, index_id, containment) for every pair where at least
   * `threshold` of the BATCH doc's tokens appear in the index doc —
   * EXACT, no false negatives.
   *
   * The index must carry FULL postings ([[setContainmentIndex]] /
   * [[setContainmentShingleIndex]] — one row per (token, doc) with the
   * set riding), NOT a Jaccard prefix index: a prefix bounds overlap
   * relative to |a|, which proves nothing about t·|b| when the batch
   * doc is much smaller (exactly the excerpt case) — a loud
   * plan-execution guard rejects a prefix-built index. The filtering
   * is all BATCH-side: the batch ranks its own tokens by its own
   * ascending df and keeps the first |b| − ceil(t·|b|) + 1
   * (completeness: overlap ≥ t·|b| means ≥ ceil(t·|b|) common tokens,
   * which cannot all hide in the last ceil(t·|b|) − 1 positions), and
   * the per-row position bound 1 + |b| − pos ≥ ceil(t·|b|) prunes by
   * the first-common-token argument of [[setSimilarityJoin]].
   *
   * Scale shape: the [[setSimilarityJoinAgainst]] doctrine — index
   * semi-joined against the BROADCAST batch prefix (never shuffled
   * beyond matched rows), both sides' buckets capped independently
   * (loud `graft.setsim_cont.*` metrics), verification intersects the
   * sets riding the candidate rows (merge-count for long sets),
   * corpus text never rescanned.
   */
  def setContainmentJoinAgainst(
    batch: DataFrame,
    index: DataFrame,
    setCol: String,
    idCol: String,
    threshold: Double,
    maxTokenBucket: Option[Int] = DefaultMaxTokenBucket
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val bsets = batch.select(
        col(idCol).as("batch_id"),
        sort_array(array_distinct(col(setCol))).as("__bset"))
      .filter(col("__bset").isNotNull && size(col("__bset")) > 0)
    // loud guard: a Jaccard prefix index (t > 0) lacks the suffix
    // postings containment completeness needs
    val guardedIndex = index.filter(
      when(col("t") <= lit(1e-9), lit(true))
        .otherwise(raise_error(concat(
          lit("setContainmentJoinAgainst: index built as a Jaccard prefix index (t="),
          col("t").cast("string"),
          lit(") cannot serve containment — build with setContainmentIndex")))))
    // batch tokens ranked rarest-first by the BATCH's own df; keep the
    // containment prefix
    val btok = bsets.select(col("batch_id"), size(col("__bset")).as("__bn"),
      explode(col("__bset")).as("tok"))
    val bdf = btok.groupBy("tok").agg(count(lit(1)).as("__df"))
    val byRarity = Window.partitionBy("batch_id")
      .orderBy(col("__df").asc, col("tok").asc)
    val bprefix = btok.join(bdf, "tok")
      .withColumn("__pos", row_number().over(byRarity))
      .filter(col("__pos") <=
        col("__bn") - ceil(col("__bn") * threshold - lit(1e-9)) + 1)
    val batchBuckets = Dedup.cappedCollect(bprefix, Seq("tok"),
      struct(col("batch_id"), col("__bn"), col("__pos")), "batch_items",
      useSet = true, maxTokenBucket, "setsim_cont_batch", "maxTokenBucket")
    val probe = batchBuckets.select("tok")
    val matchedIdx = guardedIndex.join(broadcast(probe), Seq("tok"), "left_semi")
      .withColumn("set", sort_array(col("set")))
    val idxBuckets = Dedup.cappedCollect(matchedIdx, Seq("tok"),
      struct(col("id"), col("set")), "idx_items",
      useSet = false, maxTokenBucket, "setsim_cont_idx", "maxTokenBucket")
    val capped = idxBuckets.join(broadcast(batchBuckets), Seq("tok"))
    val pairs = capped
      .select(explode(col("idx_items")).as("i"), col("batch_items"))
      .select(col("i"), explode(col("batch_items")).as("b"))
      // first-common-token bound: 1 + |b| − pos ≥ ceil(t·|b|)
      .filter((lit(1) + col("b.__bn") - col("b.__pos")).cast("double") >=
        ceil(col("b.__bn").cast("double") * threshold - lit(1e-9)))
      .select(col("b.batch_id").as("batch_id"), col("i.id").as("index_id"),
        col("b.__bn").as("__bn"), col("i.set").as("__iset"))
      .dropDuplicates("batch_id", "index_id")
    pairs
      .join(broadcast(bsets), Seq("batch_id"))
      .withColumn("__ov", intersectCount(batch, setCol, col("__iset"), col("__bset")))
      .withColumn("containment", col("__ov").cast("double") / col("__bn").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("batch_id"), col("index_id"), col("containment"))
  }

  /** FULL-postings inverted index for [[setContainmentJoinAgainst]]:
    * one row per (token, doc) with the sorted set riding — the
    * [[setSimPrefixIndex]] schema at effective threshold 0 (every
    * token is a posting; `t` rides as 0.0 so the containment guard
    * accepts it and the Jaccard guard would reject probing it below
    * build threshold only vacuously). */
  def setContainmentIndex(
    df: DataFrame,
    setCol: String,
    idCol: String
  ): DataFrame = {
    val sets = df.select(
        col(idCol).as("id"),
        sort_array(array_distinct(col(setCol))).as("set"))
      .filter(col("set").isNotNull && size(col("set")) > 0)
    sets.select(col("id"), col("set"), size(col("set")).as("n"),
        explode(col("set")).as("tok"))
      .withColumn("pos", lit(0))
      .select(col("tok"), col("id"), col("n"), col("pos"), col("set"),
        lit(0.0).as("t"))
  }

  /** Text arm of the containment family: hashed k-word shingles, the
    * engine-wide similarity vocabulary. */
  def setContainmentShingleIndex(
    df: DataFrame, textCol: String, idCol: String, k: Int = 3
  ): DataFrame =
    setContainmentIndex(
      Dedup.hashedShingleTable(df, textCol, idCol, k)
        .withColumnRenamed("doc_id", idCol)
        .withColumnRenamed("hs", "__shingles"),
      "__shingles", idCol)

  /** Text arm of [[setContainmentJoinAgainst]]. */
  def setContainmentPairsAgainst(
    batch: DataFrame,
    index: DataFrame,
    textCol: String,
    idCol: String,
    threshold: Double,
    k: Int = 3,
    maxTokenBucket: Option[Int] = DefaultMaxTokenBucket
  ): DataFrame =
    setContainmentJoinAgainst(
      Dedup.hashedShingleTable(batch, textCol, idCol, k)
        .withColumnRenamed("doc_id", idCol)
        .withColumnRenamed("hs", "__shingles"),
      index, "__shingles", idCol, threshold, maxTokenBucket)

  /** Text arm of [[setSimilarityJoinAgainst]]: a document batch vs a
    * persisted [[setSimShingleIndex]]. */
  def setSimilarityPairsAgainst(
    batch: DataFrame,
    index: DataFrame,
    textCol: String,
    idCol: String,
    threshold: Double,
    k: Int = 3,
    maxTokenBucket: Option[Int] = DefaultMaxTokenBucket
  ): DataFrame =
    setSimilarityJoinAgainst(
      Dedup.hashedShingleTable(batch, textCol, idCol, k)
        .withColumnRenamed("doc_id", idCol)
        .withColumnRenamed("hs", "__shingles"),
      index, "__shingles", idCol, threshold, maxTokenBucket)
}
