package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Benchmark-contamination detection: asymmetric n-gram CONTAINMENT of an
 * evaluation set inside a training corpus — the decontamination pass an
 * LLM data pipeline runs before training (near-dup detection won't catch
 * it: an eval question quoted inside a long document has tiny symmetric
 * Jaccard but full containment).
 *
 * Scale shape: the corpus side derives distinct 60-bit k-gram hashes per
 * doc (one scan, the same fused ShingleHashExpr as the dedup family),
 * explodes them, and BROADCAST-joins the (benchmark-sized) eval gram
 * set; the per-doc regroup shuffles ONE partially-aggregated row per
 * document, not one per gram, because a doc's exploded grams never
 * leave their partition before the partial aggregate. The corpus is
 * never shuffled at gram granularity and never joined against itself.
 *
 * For eval sets whose gram table is itself large, `bloomPrefilter`
 * prunes each doc's grams through a native bloom filter of the eval
 * grams BEFORE the exact join — value-identical output (the exact join
 * still runs, on far fewer rows), with one ~1 MiB serialized filter
 * doing the bulk rejection instead of the join-side hash table.
 */
object Contamination {

  /**
   * Per-corpus-document contamination scores:
   * (doc_id, n_grams, n_hits, contamination) where `contamination` =
   * |grams(doc) ∩ grams(evalSet)| / |grams(doc)| over DISTINCT k-gram
   * hashes. Documents shorter than k words contribute their whole
   * normalized text as one gram (the shingle fallback), so every doc
   * has n_grams ≥ 1 and a defined ratio.
   *
   * `k` defaults to 13 — the n-gram length the published GPT-3/PaLM-era
   * decontamination recipes use; gates use smaller k on short fixtures.
   */
  def contaminationScores(
    corpus: DataFrame,
    evalSet: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 13,
    bloomPrefilter: Boolean = false,
    bloomExpectedGrams: Long = graft.functions.BloomExprs.DefaultExpectedItems,
    bloomNumBits: Long = graft.functions.BloomExprs.DefaultNumBits
  ): DataFrame = {
    // NULL-text docs have no grams and are excluded from scoring — made
    // explicit so the exact path (whose explode would drop them anyway)
    // and the bloom path (whose explode_outer would otherwise keep them
    // with NULL scores) stay value-identical
    val corpusGrams = Dedup.hashedShingleTable(corpus, textCol, idCol, k)
      .filter(col("hs").isNotNull)
      .select(col("doc_id"), array_distinct(col("hs")).as("hs"))
    val evalGramsPlan = Dedup.hashedShingleTable(evalSet, textCol, idCol, k)
      .select(explode(col("hs")).as("g")).distinct()
      .withColumn("hit", lit(1L))
    // the bloom build consumes the eval gram table EAGERLY and the exact
    // join consumes it again — COLLECT the (eval-set-sized) distinct
    // grams once for both, instead of re-running their shuffle per
    // consumer. A driver-local relation is the right boundary here: the
    // exact join broadcasts evalGrams anyway, so the driver already
    // bears this table's size; an earlier localCheckpoint spelling had
    // the same plan shape but left the checkpoint blocks cached for the
    // session's lifetime (no handle survives the call to free them).
    // The filter itself is built DRIVER-SIDE from the same collected
    // rows (the identical sketch class BloomFilterAggregate fills), so
    // the whole eval side costs ONE distributed pass — the earlier
    // spelling ran a second job just to aggregate the already-local
    // rows into the filter.
    val evalRows: Option[Array[org.apache.spark.sql.Row]] =
      if (bloomPrefilter) Some(evalGramsPlan.collect()) else None
    val evalGrams = evalRows match {
      case Some(rows) => evalSet.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), evalGramsPlan.schema)
      case None => evalGramsPlan
    }
    // With the prefilter on, each doc's gram ARRAY is pruned by a
    // broadcast-sized bloom of the eval grams BEFORE exploding: the rows
    // entering the join drop from |grams(doc)| to ~hits + fpp·|grams(doc)|
    // per doc — at 100 TB that is the difference between joining every
    // gram of the corpus and joining (almost) only the contaminated ones.
    // False positives survive the prefilter but not the exact join, so
    // the result is value-identical to the exact path; false negatives
    // cannot occur. The filter itself is ONE numBits/8-byte row collected
    // on the driver (metadata-sized, like the k-means centroid fold) and
    // re-embedded as a literal.
    val exploded =
      if (!bloomPrefilter)
        corpusGrams.select(
          col("doc_id"),
          size(col("hs")).cast("long").as("n_grams"),
          explode(col("hs")).as("g"))
      else {
        val rows = evalRows.get
        val bloomBytes: Array[Byte] =
          if (rows.isEmpty) null
          else {
            require(bloomExpectedGrams > 0 && bloomNumBits > 0,
              s"expectedItems and numBits must be positive: " +
                s"$bloomExpectedGrams, $bloomNumBits")
            val bf = org.apache.spark.util.sketch.BloomFilter.create(
              bloomExpectedGrams, bloomNumBits)
            rows.foreach(r => bf.putLong(r.getLong(0)))
            val baos = new java.io.ByteArrayOutputStream()
            bf.writeTo(baos)
            baos.toByteArray
          }
        // an EMPTY eval set builds no filter: nothing can hit
        val pre: Column => Column =
          if (bloomBytes == null) _ => lit(false)
          else g => graft.functions.BloomExprs.mightContain(bloomBytes, g)
        // explode_outer: a doc whose grams ALL miss the bloom must still
        // surface with n_hits = 0, not vanish
        corpusGrams.select(
          col("doc_id"),
          size(col("hs")).cast("long").as("n_grams"),
          explode_outer(filter(col("hs"), pre)).as("g"))
      }
    exploded
      .join(broadcast(evalGrams), Seq("g"), "left")
      .groupBy("doc_id", "n_grams")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(
        col("doc_id"), col("n_grams"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_grams").cast("double"))
          .as("contamination"))
  }

  /**
   * The decontaminated corpus: drops every document whose contamination
   * score reaches `maxContamination`. The (small) contaminated-id set
   * anti-joins the corpus. Its size is unknown when the plan is made, so
   * the anti join is planned as a sort-merge join and the corpus — full
   * text — is shuffled on the id; AQE turns the join into a broadcast
   * once the scores report their real size, but the corpus shuffle has
   * been written by then. The corpus is read twice (gram scores and the
   * anti join): pin it when its upstream is expensive. A score depends
   * only on its document's text, so the ids may also come from a frame
   * the corpus is a subset of: [[graft.plans.CurationPipeline]] scores
   * its pinned exact-dedup survivors and anti-joins the near-dup
   * survivors, instead of pinning its own input.
   */
  def decontaminate(
    corpus: DataFrame,
    evalSet: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 13,
    maxContamination: Double = 0.5,
    bloomPrefilter: Boolean = false
  ): DataFrame =
    corpus.join(
      contaminatedIds(corpus, evalSet, textCol, idCol, k, maxContamination,
        bloomPrefilter),
      Seq(idCol), "left_anti")

  /** The ids (as `idCol`) of the documents [[decontaminate]] drops: a
    * [[contaminationScores]] at or above `maxContamination`. */
  private[graft] def contaminatedIds(
    corpus: DataFrame,
    evalSet: DataFrame,
    textCol: String,
    idCol: String,
    k: Int,
    maxContamination: Double,
    bloomPrefilter: Boolean
  ): DataFrame =
    contaminationScores(corpus, evalSet, textCol, idCol, k,
        bloomPrefilter = bloomPrefilter)
      .filter(col("contamination") >= maxContamination)
      .select(col("doc_id").as(idCol))

  /**
   * The eval-side view of contamination: per EVAL ITEM, how much of it
   * already appears anywhere in the training corpus —
   * (eval_id, n_grams, n_found, leakage) over distinct k-gram hashes.
   * [[contaminationScores]] answers "which training docs to clean";
   * this answers "which benchmark items are already compromised" — the
   * report that decides whether an eval number can be trusted at all.
   * Eval items with NULL text have no grams and are ABSENT from the
   * report (the [[contaminationScores]] NULL-doc convention) — absence
   * means "not measurable", not "not leaked".
   *
   * Scale shape: the corpus is scanned ONCE; its gram stream is
   * semi-joined against the BROADCAST eval gram set immediately, so
   * only grams that occur in the eval set (≤ benchmark size, tiny)
   * survive to the distinct — the corpus is never shuffled at gram
   * granularity and the output is eval-sized. The eval side (benchmark
   * scale) is scanned twice — metadata economics.
   */
  def evalOverlapReport(
    corpus: DataFrame,
    evalSet: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 13
  ): DataFrame = {
    val evalGrams = Dedup.hashedShingleTable(evalSet, textCol, idCol, k)
      .filter(col("hs").isNotNull)
      .select(col("doc_id").as("eval_id"), explode(array_distinct(col("hs"))).as("g"))
    val evalGramSet = evalGrams.select("g").distinct()
    val found = Dedup.hashedShingleTable(corpus, textCol, idCol, k)
      .filter(col("hs").isNotNull)
      .select(explode(col("hs")).as("g"))
      .join(broadcast(evalGramSet), Seq("g"), "left_semi")
      .distinct()
      .withColumn("found", lit(1L))
    evalGrams.join(found, Seq("g"), "left")
      .groupBy("eval_id")
      .agg(
        count(lit(1)).as("n_grams"),
        coalesce(sum(col("found")), lit(0L)).as("n_found"))
      .select(col("eval_id"), col("n_grams"), col("n_found"),
        (col("n_found").cast("double") / col("n_grams").cast("double")).as("leakage"))
  }

  /**
   * Span-level decontamination: CUT every matched eval k-gram out of
   * each document instead of dropping the document — the surgical pass
   * the published recipes apply to long documents that merely QUOTE a
   * benchmark item (dropping a whole book for one embedded eval
   * question wastes data; [[decontaminate]] is the doc-level blunt
   * instrument, this is the scalpel).
   *
   * The gram notion here is TOKEN-ALIGNED, deliberately different from
   * [[contaminationScores]]' text-normalized grams: a gram is k
   * consecutive whitespace tokens hashed on their per-token normalized
   * forms (lowercase, non-alphanumerics stripped within each token).
   * Whole-text normalization loses token alignment ("don't" becomes
   * two normalized words), and span removal needs exact positions in
   * the original token stream. Matched spans [p, p+k) are unioned; a
   * MATCHED document is rebuilt from its surviving original tokens
   * joined with single spaces (the [[Chunking.chunkByTokens]]
   * token-stream convention — within-doc whitespace shape is not
   * preserved for docs that needed surgery). Documents with NO matched
   * span — the overwhelming majority, including everything shorter than
   * k tokens and NULL text — pass through BYTE-VERBATIM.
   *
   * Returns the corpus with `textCol` cleaned plus `n_tokens_removed`.
   *
   * Scale shape: one corpus scan; gram hashes explode WITH position
   * and are immediately semi-joined against the broadcast eval gram
   * set, so only matched (doc_id, pos) rows — contamination is sparse
   * — reach the per-doc regroup; the rebuild is a left join of the
   * corpus against that matched-docs table (broadcast-sized in
   * practice) and a per-row indexed filter. The corpus is never
   * shuffled.
   *
   * The rebuild join broadcasts the matched-docs table — correct while
   * contamination is sparse, which is every realistic corpus. For a
   * pathologically SATURATED corpus (eval-set boilerplate in most
   * documents) the matched table approaches corpus size; run the action
   * under [[graft.GraftSession]]'s corpus-sized escape so AQE picks the
   * join from the table's ACTUAL size (DedupSpec drives a
   * 100%-contaminated fixture through it).
   */
  def decontaminateSpans(
    corpus: DataFrame,
    evalSet: DataFrame,
    textCol: String,
    idCol: String,
    k: Int = 13
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    Cols.requireAbsent(corpus,
      "n_tokens_removed", "__w", "__nt", "__g", "__starts", "__kept", "__did")
    // token-aligned gram machinery shared with Dedup.dropDuplicateSpans
    import SpanGrams.{tokensOf, normTok}
    def gramHashes(nt: Column) = SpanGrams.gramHashes(nt, k)
    val docs = corpus
      .withColumn("__w", tokensOf(col(textCol)))
      .withColumn("__nt", normTok(col("__w")))
      .withColumn("__g", gramHashes(col("__nt")))
    val evalGrams = evalSet.select(tokensOf(col(textCol)).as("__w"))
      .select(normTok(col("__w")).as("__nt"))
      .select(explode(gramHashes(col("__nt"))).as("g"))
      .distinct()
    val starts = docs
      .select(col(idCol).as("__did"), posexplode(col("__g")).as(Seq("pos", "g")))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .groupBy("__did").agg(collect_list(col("pos")).as("__starts"))
    // matched-docs table is contamination-sparse — broadcast it so the
    // corpus is never shuffled for the rebuild (the documented shape)
    docs.join(broadcast(starts), col(idCol) === col("__did"), "left").drop("__did")
      // UNMATCHED documents (the overwhelming majority, plus every NULL
      // and sub-k doc) pass through BYTE-VERBATIM — only docs that
      // actually need surgery are rebuilt from their token stream
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
}
